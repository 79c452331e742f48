package graft

import graft.olap.Analytics
import graft.pipeline.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 operators: Katz centrality, the link-prediction sheet, butterfly
  * counts, snapshot diff, TF-IDF, stupid backoff, whitening, the LSH tuning
  * sheet, and the count-min sketch. */
class Round12OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private def graphOf(vs: Seq[Long], es: Seq[(Long, Long, Long)]) =
    graft.data.PropertyGraph(graft.core.GraphSchema(),
      vs.map(id => (id, "v")).toDF("id", "label"),
      es.map { case (i, s, d) => (i, s, d, "r") }.toDF("id", "src", "dst", "label"))

  test("katzFixedPoint: exact hand computation on a 3-node path") {
    // 1 → 2 → 3, alpha = 1/10, 2 iterations, S = 10^12:
    // iter1: r(1)=S, r(2)=S + S/10, r(3)=S + S/10
    // iter2: r(2)=S + S/10, r(3)=S + (S + S/10)/10 = S + 11*10^10
    val g = graphOf(Seq(1L, 2L, 3L), Seq((10L, 1L, 2L), (11L, 2L, 3L)))
    val r = Analytics.katzFixedPoint(g, alphaNum = 1L, alphaDen = 10L, iterations = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val S = 1000000000000L
    assert(r(1L) === S)
    assert(r(2L) === S + S / 10)
    assert(r(3L) === S + 110000000000L)
  }

  test("katzFixedPoint: diverging alpha fails loudly") {
    // max in-degree 2 with alpha = 1/2 → series diverges
    val g = graphOf(Seq(1L, 2L, 3L), Seq((10L, 1L, 3L), (11L, 2L, 3L)))
    val ex = intercept[IllegalArgumentException] {
      Analytics.katzFixedPoint(g, alphaNum = 1L, alphaDen = 2L, iterations = 1).collect()
    }
    assert(ex.getMessage.contains("diverges"))
  }

  test("linkPredictionScores: CN/PA/AA/RA on a shared-neighbor fixture") {
    // x=1 and y=2 share centers 10 (deg 2) and 11 (deg 3; also touches 3)
    val g = graphOf(Seq(1L, 2L, 3L, 10L, 11L),
      Seq((1L, 1L, 10L), (2L, 2L, 10L), (3L, 1L, 11L), (4L, 2L, 11L), (5L, 3L, 11L)))
    val rows = Analytics.linkPredictionScores(g, minShared = 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    val (inter, pa, aa, ra) = rows((1L, 2L))
    assert(inter === 2L)
    assert(pa === 4L) // d(1)=2, d(2)=2
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    assert(aa === (r9(1.0 / math.log(2.0)) + r9(1.0 / math.log(3.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(ra === (r9(1.0 / 2.0) + r9(1.0 / 3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("butterflyCounts: one 4-cycle yields butterflies=1 on both endpoints") {
    // orders 1,2 both contain parts 10,11 → one butterfly; order 3 shares
    // only part 10 with each → contributes no pair with shared >= 2
    val g = graphOf(Seq(1L, 2L, 3L, 10L, 11L),
      Seq((1L, 1L, 10L), (2L, 1L, 11L), (3L, 2L, 10L), (4L, 2L, 11L), (5L, 3L, 10L)))
    val rows = Analytics.butterflyCounts(g, label = "r").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(1L) === ((2L, 1L)))
    assert(rows(2L) === ((2L, 1L)))
    assert(!rows.contains(3L))
  }

  test("GraphIO.diff: added/removed/changed per kind, unchanged silent") {
    val before = graft.data.PropertyGraph(graft.core.GraphSchema(),
      Seq((1L, "v", "a"), (2L, "v", "b"), (3L, "v", "c")).toDF("id", "label", "name"),
      Seq((10L, 1L, 2L, "r"), (11L, 2L, 3L, "r")).toDF("id", "src", "dst", "label"))
    val after = graft.data.PropertyGraph(graft.core.GraphSchema(),
      // 1 unchanged, 2 renamed (changed), 3 dropped (removed), 4 new (added)
      Seq((1L, "v", "a"), (2L, "v", "B"), (4L, "v", "d")).toDF("id", "label", "name"),
      // 10 rewired (changed), 11 unchanged
      Seq((10L, 1L, 3L, "r"), (11L, 2L, 3L, "r")).toDF("id", "src", "dst", "label"))
    val got = graft.data.GraphIO.diff(before, after).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("v", "changed", 2L), ("v", "removed", 3L),
      ("v", "added", 4L), ("e", "changed", 10L)))
  }

  test("tfIdfTopK: linear tf times ln(N/df), ranked (score desc, id asc)") {
    val docs = Seq(
      (1L, "cat cat dog"), (2L, "cat fish"), (3L, "fish fish fish"), (4L, "bird")
    ).toDF("doc_id", "text")
    val res = TextAnalysis.tfIdfTopK(docs, Seq("cat", "fish"), k = 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val idfCat = r9(math.log(4.0 / 2.0)); val idfFish = r9(math.log(4.0 / 2.0))
    assert(res(1L) === BigDecimal(2.0 * idfCat).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(res(3L) === BigDecimal(3.0 * idfFish).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(!res.contains(4L)) // no query term → no pivot row
  }

  test("stupidBackoffLogProb: tri, bi, uni and floor branches are exact") {
    // model corpus: "a b c a b d"; scored doc exercises every branch:
    //   "a b c" → trigram branch: ln(f(abc)/f(ab)) = ln(1/2)
    //   "b c a" seen too; craft doc2 for backoff:
    //   doc2 "c a b" → f(cab)=0? "c a b" occurs in model ("c a b" at pos 3-5)
    // so use unseen combos instead:
    //   doc3 "b d c": f(bdc)=0, f(dc)=0, f(c)=1 → 2ln0.4 + ln(1/6)
    //   doc4 "a b z": f(abz)=0, f(bz)=0, z unseen → 2ln0.4 + ln(1/6) floor
    val model = Seq((100L, "a b c a b d")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b c"), (3L, "b d c"), (4L, "a b z")).toDF("doc_id", "text")
    val got = TextAnalysis.stupidBackoffLogProb(docs, model).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def mean6(xs: Seq[BigDecimal]) = (xs.sum / xs.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val l04 = r9(math.log(0.4))
    assert(got(1L) === mean6(Seq(r9(math.log(0.5))))) // f(abc)=1, f(ab)=2
    assert(got(3L) === mean6(Seq(l04 * 2 + r9(math.log(1.0 / 6.0)))))
    assert(got(4L) === mean6(Seq(l04 * 2 + r9(math.log(1.0 / 6.0)))))
  }

  test("standardizeDims: z = (v - mean)/std per dimension; dead dim → NULL") {
    val emb = Seq(
      (1L, Array(1.0f, 5.0f)), (2L, Array(3.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val rows = Similarity.standardizeDims(emb).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // dim 0: mean 2, std 1 → z = ±1; dim 1: zero variance → NULL
    assert(rows((1L, 0)) === Some(-1.0))
    assert(rows((2L, 0)) === Some(1.0))
    assert(rows((1L, 1)) === None && rows((2L, 1)) === None)
  }

  test("lshTuningTable: exact values, monotone in s, spot-checked midpoint") {
    val t = Dedup.lshTuningTable(spark).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    assert(t.size === 4 * 19)
    // cross-checked against an exact java.math.BigDecimal mirror
    assert(t((32, 4, 50)) === 873211L)
    val curve = (1 to 19).map(i => t((32, 4, i * 5)))
    assert(curve === curve.sorted)
    assert(t.values.forall(p => p >= 0L && p <= 1000000L))
  }

  test("betweennessSampled: diamond graph splits the dependency half-half") {
    // 1→2→4, 1→3→4: σ(4)=2, δ₁(2)=δ₁(3)=(1/2)·(1+0)=0.5, endpoints 0
    val g = graphOf(Seq(1L, 2L, 3L, 4L),
      Seq((10L, 1L, 2L), (11L, 1L, 3L), (12L, 2L, 4L), (13L, 3L, 4L)))
    val b = Analytics.betweennessSampled(g, Seq(1L), maxIter = 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(b(2L) === 0.5 && b(3L) === 0.5 && b(4L) === 0.0)
    assert(!b.contains(1L)) // source rows dropped (Brandes w ≠ s)
  }

  test("betweennessSampled: path chain accumulates 1+δ downstream") {
    // 1→2→3→4 from source 1: δ(3)=1, δ(2)=1·(1+1)=2
    val g = graphOf(Seq(1L, 2L, 3L, 4L),
      Seq((10L, 1L, 2L), (11L, 2L, 3L), (12L, 3L, 4L)))
    val b = Analytics.betweennessSampled(g, Seq(1L), maxIter = 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(b(2L) === 2.0 && b(3L) === 1.0 && b(4L) === 0.0)
  }

  test("betweennessContribution ≡ batched betweennessSampled per source") {
    // the per-source sweep and the batched frame share the exact recipe —
    // pin it so a precision tweak to one cannot silently diverge the other
    def both(g: graft.data.PropertyGraph, src: Long, maxIter: Int) = {
      val single = Analytics.betweennessContribution(g, src, maxIter)
        .filter(col("id") =!= src)
        .select(col("id"), round(col("delta").cast("double"), 6).as("betweenness"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val batched = Analytics.betweennessSampled(g, Seq(src), maxIter)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      (single, batched)
    }
    val rnd = new scala.util.Random(11)
    val es = (1 to 60).map(i => (i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (_, a, b) => a != b }
    val (single, batched) = both(graphOf(0L until 20L, es), 3L, 6)
    assert(single === batched)
    // a ghost endpoint: 9 has no vertex row, so 0→1→9→2 ends at 1 — the
    // oracle's BFS over the vertex table never routes a path through 9
    val ghost = graphOf(Seq(0L, 1L, 2L), Seq((1L, 0L, 1L), (2L, 1L, 9L), (3L, 9L, 2L)))
    assert(Analytics.shortestPathCounts(ghost, 0L, maxIter = 4).collect()
      .map(_.getLong(0)).toSet === Set(0L, 1L))
    assert(both(ghost, 0L, 4) === ((Map(1L -> 0.0), Map(1L -> 0.0))))
  }

  test("richClub: hubs-wired fixture rises; histogram counts exact") {
    // K4 core (degrees >= 3) + pendant vertices on one hub
    val core = Seq((1L, 1L, 2L), (2L, 1L, 3L), (3L, 1L, 4L),
      (4L, 2L, 3L), (5L, 2L, 4L), (6L, 3L, 4L))
    val pendants = Seq((7L, 1L, 10L), (8L, 1L, 11L))
    val g = graphOf(Seq(1L, 2L, 3L, 4L, 10L, 11L), core ++ pendants)
    val rc = Analytics.richClub(g, ks = Seq(0L, 1L, 3L)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // k=0: all 6 vertices, all 8 edges: phi = 2*8e6/(6*5) = 533333
    assert(rc(0L) === ((6L, 8L, Some(533333L))))
    // k=3: vertices with degree > 3 = {1 (deg 5)}; n=1 → NULL phi
    assert(rc(3L)._1 === 1L && rc(3L)._3 === None)
    // k=1: degrees: 1→5, 2..4→3, pendants→1 → nk=4 (the K4), ek=6, phi=1e6
    assert(rc(1L) === ((4L, 6L, Some(1000000L))))
  }

  test("pmiCollocations: independence gives pmi 0; repeated pair positive") {
    // corpus engineered so "x y" repeats and marginals are known
    val docs = Seq((1L, "x y x y"), (2L, "a b"), (3L, "x y")).toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(docs, k = 10, minCount = 3L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // bigram positions: (x,y)x2, (y,x)x1 in doc1; (a,b); (x,y) in doc3 → P=5
    // only (x,y) passes minCount=3: pmi = ln(3*5/(3*3)) = ln(5/3)
    assert(got.length === 1)
    val (bg, cnt, pmi) = got.head
    assert(bg === "x y" && cnt === 3L)
    assert(pmi === BigDecimal(math.log(5.0 / 3.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("hllReport: estimate within the 1.04/sqrt(m) bound; exact beside it") {
    import graft.functions.Sketches
    val big = (1L to 5000L).map(i => Tuple1(s"v$i")).toDF("v")
    val r = Sketches.hllReport(big, "v", b = 10).head
    val (est, exact) = (r.getAs[Double]("estimate"), r.getAs[Long]("exact"))
    assert(exact === 5000L)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.1, s"estimate $est") // 3σ ≈ 9.75%
    // tiny cardinality → linear-counting branch: v_empty > 0 and E ≈ exact
    val small = (1L to 30L).map(i => Tuple1(s"v$i")).toDF("v")
    val rs = Sketches.hllReport(small, "v", b = 10).head
    assert(rs.getAs[Long]("v_empty") > 0L)
    assert(math.abs(rs.getAs[Double]("estimate") - 30.0) < 3.0)
    // duplicates do not move the registers
    val dup = Sketches.hllReport(big.unionAll(big), "v", b = 10).head
    assert(dup.getAs[Double]("estimate") === est)
  }

  test("sessionPaths: order within session is total; gap splits paths") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val ev = Seq(
      (1L, ts(0), 7L, "a"), (2L, ts(10), 7L, "b"),        // session 1: "a b"
      (3L, ts(10000), 7L, "a"), (4L, ts(10010), 7L, "b"), // session 2: "a b"
      (5L, ts(0), 8L, "c")                                 // user 8: "c"
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.stream.ChangeStream.sessionPaths(ev, gapSeconds = 3600L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a b" -> 2L, "c" -> 1L))
  }

  test("equiDepthHistogram: buckets partition each group; bounds nest") {
    import java.sql.Timestamp
    val ev = (1L to 40L).map(i =>
      (i, new Timestamp(i), 1L, if (i <= 20) "x" else "y", i.toDouble))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val h = graft.stream.ChangeStream.equiDepthHistogram(ev, nb = 4).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(h.keySet.map(_._1) === Set("x", "y") && h.size === 8)
    assert(h(("x", 1)) === ((5L, 1.0, 5.0)) && h(("x", 4)) === ((5L, 16.0, 20.0)))
    assert(h(("y", 1)) === ((5L, 21.0, 25.0)))
    // counts partition the group; bucket bounds are disjoint and ordered
    assert(h.filter(_._1._1 == "x").values.map(_._1).sum === 20L)
  }

  test("hllRegisters: union of register tables = bucketwise max (mergeable)") {
    import graft.functions.Sketches
    val a = (1L to 300L).map(i => Tuple1(s"v$i")).toDF("v")
    val b = (200L to 600L).map(i => Tuple1(s"v$i")).toDF("v")
    val merged = Sketches.hllRegisters(a, "v").unionAll(Sketches.hllRegisters(b, "v"))
      .groupBy(col("bucket")).agg(max(col("reg")).as("reg"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val whole = Sketches.hllRegisters(a.unionAll(b), "v")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(merged === whole)
  }

  test("appendToIvfPqIndex: frozen codebooks; appended ids searchable") {
    import graft.pipeline.Similarity
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(8)(rnd.nextFloat())
    val all = (0L until 60L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("t-ivfpq-app")
    try {
      Similarity.writeIvfPqIndex(all.filter(col("vec_id") < 40), tmp.toString,
        nlist = 4, m = 2, codes = 4)
      val booksBefore = spark.read.parquet(s"$tmp/codebooks").collect().toSet
      Similarity.appendToIvfPqIndex(spark, tmp.toString,
        all.filter(col("vec_id") >= 40))
      // append must not touch the trained artifacts
      assert(spark.read.parquet(s"$tmp/codebooks").collect().toSet === booksBefore)
      val codes = spark.read.parquet(s"$tmp/codes")
      assert(codes.count() === 60L)
      // appended vectors are reachable from search
      val hits = Similarity.searchIvfPqIndex(spark, tmp.toString,
          all.filter(col("vec_id") < 5), k = 50, nprobe = 4)
        .filter(col("nid") >= 40L).count()
      assert(hits > 0L)
      // dimension mismatch fails loudly
      val bad = Seq((99L, Array.fill(6)(0.1f))).toDF("vec_id", "embedding")
      val ex = intercept[IllegalArgumentException] {
        Similarity.appendToIvfPqIndex(spark, tmp.toString, bad)
      }
      assert(ex.getMessage.contains("dim"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
  }

  test("bloomContamination: no false negatives at any sizing; wide = exact") {
    import graft.functions.Sketches
    val train = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val eval = train.filter(col("doc_id") <= 50L)
    // tiny filter (1 word = 62 bits, 50 inserts): FPs near-certain, FNs never
    val tiny = Sketches.bloomContamination(train, eval, words = 1, k = 2)
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    assert(!tiny.contains((false, true)), "a Bloom filter must never miss")
    assert(tiny((true, true)) === 50L)
    // generous sizing → the confusion matrix collapses to the diagonal
    val wide = Sketches.bloomContamination(train, eval, words = 512, k = 3)
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    assert(wide === Map((true, true) -> 50L, (false, false) -> 150L))
  }

  test("ZOrder: exact interleave, bound quantization, multi-column locality") {
    import graft.functions.ZOrder
    // interleave(a=0b11, b=0b01, 2 bits): a bits → lanes 1,3; b → lane 0
    val df = Seq((3L, 1L)).toDF("a", "b")
    val key = df.select(ZOrder.interleaveBits(Seq(col("a"), col("b")), 2).as("z"))
      .head.getLong(0)
    assert(key === 11L) // 0b1011
    // quantize: lo → 0, hi → top level, degenerate bounds → 0
    val q = Seq((0.0, 10.0)).toDF("lo", "hi").select(
      ZOrder.quantize(lit(10.0), col("lo"), col("hi"), 4).as("top"),
      ZOrder.quantize(lit(0.0), col("lo"), col("hi"), 4).as("bot"),
      ZOrder.quantize(lit(5.0), col("lo"), col("lo"), 4).as("deg")).head
    assert(q.getLong(0) === 15L && q.getLong(1) === 0L && q.getLong(2) === 0L)
    // locality: a z-sorted layout keeps BOTH columns' per-chunk ranges
    // tight — split the z-sorted grid into quarters and check each quarter
    // spans at most ~half of each axis (a single-column sort would leave
    // the other axis spanning the full range in every chunk)
    val grid = (0 until 32).flatMap(x => (0 until 32).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    val keyed = ZOrder.withZKey(grid, Seq("x", "y"), bits = 5)
      .orderBy(col("zkey")).collect()
    val quarter = keyed.length / 4
    keyed.grouped(quarter).filter(_.length == quarter).foreach { chunk =>
      val xs = chunk.map(_.getAs[Long]("x")); val ys = chunk.map(_.getAs[Long]("y"))
      assert(xs.max - xs.min <= 16, s"x span ${xs.min}..${xs.max}")
      assert(ys.max - ys.min <= 16, s"y span ${ys.min}..${ys.max}")
    }
  }

  test("countMinSketch/cmsEstimates: one-sided error, zero for absent terms") {
    val docs = Seq((1L, "a a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val est = TextAnalysis.cmsEstimates(docs, Seq("a", "b", "zz"), width = 2, depth = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(est("a")._1 === 3L && est("b")._1 === 2L && est("zz")._1 === 0L)
    est.values.foreach { case (exact, e) => assert(e >= exact) }
    // wide sketch → no collisions → estimates exact
    val exact = TextAnalysis.cmsEstimates(docs, Seq("a", "b", "zz"),
      width = 4096, depth = 4).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    exact.values.foreach { case (x, e) => assert(e === x) }
    // stream shape ≡ batch shape
    val b = TextAnalysis.countMinSketch(docs, width = 4, depth = 2).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val s = TextAnalysis.countMinSketch(docs, width = 4, depth = 2,
      collapseVocab = false).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(b === s)
  }
}
