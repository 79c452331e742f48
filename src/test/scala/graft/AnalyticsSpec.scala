package graft

import graft.data.GraphOfTheGods
import graft.olap.{Analytics, VertexProgram, VertexProgramRunner}
import org.apache.spark.graphx.EdgeTriplet
import org.scalatest.funsuite.AnyFunSuite

class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  lazy val gods = GraphOfTheGods.load(spark)

  test("degrees: hercules has 5 incident edges (3 battled + father + mother)") {
    val d = Analytics.degrees(gods).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("degree")).toMap
    assert(d(GraphOfTheGods.ids("hercules")) === 5)
    // jupiter out: father, lives, brother×2 = 4; in: brother from neptune+pluto, father from hercules = 3
    assert(d(GraphOfTheGods.ids("jupiter")) === 7)
  }

  test("connected components: one component covers all 12 gods") {
    val cc = Analytics.connectedComponentsExact(gods).collect()
    assert(cc.map(_.getAs[Long]("component")).distinct.length === 1)
    assert(cc.length === 12)
  }

  test("triangle count: jupiter-neptune-pluto brother triangle") {
    val tc = Analytics.triangleCount(gods).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("triangles")).toMap
    assert(tc(GraphOfTheGods.ids("jupiter")) >= 1)
    assert(tc(GraphOfTheGods.ids("neptune")) >= 1)
    assert(tc(GraphOfTheGods.ids("pluto")) >= 1)
  }

  test("shortest distance: hercules → jupiter(1) → saturn(2)") {
    val d = Analytics.shortestDistance(gods, GraphOfTheGods.ids("hercules"), maxIter = 6)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("distance")).toMap
    assert(d(GraphOfTheGods.ids("hercules")) === 0.0)
    assert(d(GraphOfTheGods.ids("jupiter")) === 1.0)
    assert(d(GraphOfTheGods.ids("saturn")) === 2.0)
  }

  test("pageRank: sinks with many in-edges rank above leaves") {
    val pr = Analytics.pageRankFixedPoint(gods, iterations = 15).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank_fp")).toMap
    // tartarus receives 2 'lives' edges; sky receives 1 — more in-mass
    assert(pr(GraphOfTheGods.ids("tartarus")) > pr(GraphOfTheGods.ids("sky")))
  }

  test("custom VertexProgram: hop-count propagation reaches fixpoint") {
    // propagate "reached" flag from hercules outward (BFS level program)
    case class St(level: Int)
    val src = GraphOfTheGods.ids("hercules")
    val prog = new VertexProgram[Int, Int] {
      def initialState(id: org.apache.spark.graphx.VertexId): Int =
        if (id == src) 0 else Int.MaxValue
      def send(superstep: Int, t: EdgeTriplet[Int, Double]): Iterator[(org.apache.spark.graphx.VertexId, Int)] =
        if (t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr) Iterator((t.dstId, t.srcAttr + 1))
        else Iterator.empty
      def combine(a: Int, b: Int): Int = math.min(a, b)
      def apply(superstep: Int, id: org.apache.spark.graphx.VertexId, state: Int, msg: Option[Int]): Int =
        msg.fold(state)(m => math.min(state, m))
    }
    val res = VertexProgramRunner.run(gods, prog, maxIterations = 6)
    val levels = res.vertices.collect().toMap
    assert(levels(GraphOfTheGods.ids("jupiter")) === 1)
    assert(levels(GraphOfTheGods.ids("saturn")) === 2)
    assert(levels(GraphOfTheGods.ids("nemean")) === 1)
  }

  test("shuffle-join regime (bcast=false) matches broadcast results for CC and kCore") {
    // force the threshold to 0 so every vertex-frame join runs in the
    // shuffle-join regime — the branch that executes at 100× scale and is
    // otherwise never exercised by small fixtures
    val g = graft.data.TpchGraph.load(spark, "/root/testdata/sf0.001")
    def ccSet() = Analytics.connectedComponentsExact(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def coreSet() = Analytics.kCore(g, k = 4, maxRounds = 10)
      .collect().map(_.getLong(0)).toSet
    val (ccB, coreB) = (ccSet(), coreSet())
    spark.conf.set("spark.graft.broadcast.maxRows", "0")
    try {
      val (ccS, coreS) = (ccSet(), coreSet())
      assert(ccS === ccB, "connected components differ between join regimes")
      assert(coreS === coreB, "k-core differs between join regimes")
    } finally spark.conf.unset("spark.graft.broadcast.maxRows")
  }

  test("kCore: a triangle with a pendant chain peels to the triangle at k=2") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 1-2-3 triangle; 3-4-5 chain hangs off it
    val v = (1L to 5L).toDF("id").withColumn("label", lit("n"))
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).zipWithIndex
      .map { case ((s, d), i) => (i.toLong, s, d, "rel") }
      .toDF("id", "src", "dst", "label")
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    val core = Analytics.kCore(g, k = 2, maxRounds = 10)
      .collect().map(_.getLong(0)).toSet
    assert(core === Set(1L, 2L, 3L)) // 5 peels first, then 4; triangle stays
    // k above the max degree empties the graph
    assert(Analytics.kCore(g, k = 4, maxRounds = 10).count() === 0)
  }

  test("personalized PageRank: teleport mass stays near the source, sparse result") {
    val src = GraphOfTheGods.ids("hercules")
    val ppr = Analytics.personalizedPageRankFixedPoint(gods, Seq(src), iterations = 10)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank_ppr")).toMap
    // the source holds the restart mass -> strictly the highest rank
    assert(ppr(src) === ppr.values.max)
    // jupiter (hercules' father) is reached and carries mass
    assert(ppr.contains(GraphOfTheGods.ids("jupiter")))
    // only vertices reachable from the source carry mass: from a sink vertex
    // (nemean has no out-edges) the mass never leaves the source
    val sink = Analytics.personalizedPageRankFixedPoint(
      gods, Seq(GraphOfTheGods.ids("nemean")), iterations = 10).collect()
    assert(sink.map(_.getAs[Long]("id")).toSeq === Seq(GraphOfTheGods.ids("nemean")))
  }

  test("HITS: max-normalized integer scores; sinks have zero hub score") {
    val r = Analytics.hitsFixedPoint(gods, iterations = 4)
      .collect().map(x => x.getAs[Long]("id") -> (x.getAs[Long]("hub"), x.getAs[Long]("auth"))).toMap
    assert(r.size === 12)
    // normalization pins the round maximum at exactly 10^6
    assert(r.values.map(_._1).max === 1000000L)
    assert(r.values.map(_._2).max === 1000000L)
    // nemean has no out-edges -> zero hub; hercules points at 5 elements -> positive hub
    assert(r(GraphOfTheGods.ids("nemean"))._1 === 0L)
    assert(r(GraphOfTheGods.ids("hercules"))._1 > 0L)
  }

  test("triangleCountDF: degree-ordered wedge closure equals GraphX on gods + random graph") {
    import spark.implicits._
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("triangles")).toMap
    assert(asMap(Analytics.triangleCountDF(gods)) === asMap(Analytics.triangleCount(gods)))
    // random multigraph with loops and duplicate orientations — both paths
    // must canonicalize identically
    val rnd = new scala.util.Random(11)
    val n = 60
    val es = (1 to 600).map { i =>
      (i.toLong, rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, "r") }
    // vertex 200 is isolated: the universes differ at the margins by design —
    // DF reports every vertex of g.vertices (isolated at 0), GraphX derives
    // its universe from edge endpoints (isolated omitted); counts must agree
    // on the shared ids
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(),
      ((0L until n.toLong) :+ 200L).map(id => (id, "v")).toDF("id", "label"),
      es.toDF("id", "src", "dst", "label"))
    val dfSide = asMap(Analytics.triangleCountDF(g))
    val gxSide = asMap(Analytics.triangleCount(g))
    assert(dfSide(200L) === 0L && !gxSide.contains(200L))
    assert(dfSide - 200L === gxSide)
  }

  test("clusteringCoefficient: exact integers match brute force on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val n = 40
    val es = (1 to 300).map(i => (i.toLong, rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, "r"))
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(),
      (0L until n.toLong).map(id => (id, "v")).toDF("id", "label"),
      es.toDF("id", "src", "dst", "label"))
    val adj = es.flatMap { case (_, a, b, _) => if (a == b) Nil else Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = Analytics.clusteringCoefficient(g).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.size === n)
    for (v <- 0L until n.toLong) {
      val nb = adj.getOrElse(v, Set.empty).toSeq
      val tri = (for { i <- nb.indices; j <- i + 1 until nb.size
        if adj(nb(i)).contains(nb(j)) } yield 1).size.toLong
      val wedges = nb.size.toLong * (nb.size - 1) / 2
      val coeff = if (wedges > 0) tri * 1000000L / wedges else 0L
      assert(got(v) === ((tri, wedges, coeff)), s"vertex $v")
    }
  }

  test("degreeAssortativity: path graph P3 has r = -1 from the exact sums") {
    import spark.implicits._
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(),
      Seq((1L, "v"), (2L, "v"), (3L, "v")).toDF("id", "label"),
      Seq((10L, 1L, 2L, "e"), (11L, 2L, 3L, "e")).toDF("id", "src", "dst", "label"))
    val r = Analytics.degreeAssortativity(g).head
    assert(r.getAs[Long]("m2") === 4L)
    assert(r.getAs[java.math.BigDecimal]("sum_xy").longValueExact === 8L)
    assert(r.getAs[java.math.BigDecimal]("sum_x").longValueExact === 6L)
    assert(r.getAs[java.math.BigDecimal]("sum_x2").longValueExact === 10L)
    // Newman r = (m2*Sxy - Sx^2) / (m2*Sx2 - Sx^2) = (32-36)/(40-36) = -1
    assert((4.0 * 8 - 36) / (4.0 * 10 - 36) === -1.0)
  }

  test("neighborJaccard: 4-cycle pairs, exact integers, hub cap empties the output") {
    import spark.implicits._
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(),
      (1L to 4L).map(id => (id, "v")).toDF("id", "label"),
      Seq((10L, 1L, 2L, "e"), (11L, 2L, 3L, "e"), (12L, 3L, 4L, "e"),
        (13L, 4L, 1L, "e")).toDF("id", "src", "dst", "label"))
    val got = Analytics.neighborJaccard(g).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // opposite corners share both neighbors; adjacent corners share none
    assert(got === Map((1L, 3L) -> ((2L, 2L, 1000000L)), (2L, 4L) -> ((2L, 2L, 1000000L))))
    assert(Analytics.neighborJaccard(g, maxHubDegree = 1L).isEmpty)
  }

  test("hopHistogram: per-source distance counts partition the reached set") {
    import spark.implicits._
    // path 1 -> 2 -> 3 -> 4: from source 1 exactly one vertex per distance
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(),
      (1L to 4L).map(id => (id, "v")).toDF("id", "label"),
      Seq((10L, 1L, 2L, "e"), (11L, 2L, 3L, "e"), (12L, 3L, 4L, "e"))
        .toDF("id", "src", "dst", "label"))
    val got = Analytics.hopHistogram(g, Seq(1L), maxIter = 4).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got === Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("recommendLinks: FoaF ranked by shared neighbors, edges excluded") {
    import spark.implicits._
    // path 1-2-3 plus 1-4, 3-4: pair (1,3) shares {2,4}; (2,4) shares {1,3};
    // all four "missing chords" recommended, existing edges never
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(),
      (1L to 4L).map(id => (id, "v")).toDF("id", "label"),
      Seq((10L, 1L, 2L, "e"), (11L, 2L, 3L, "e"), (12L, 1L, 4L, "e"),
        (13L, 3L, 4L, "e")).toDF("id", "src", "dst", "label"))
    val got = Analytics.recommendLinks(g, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getInt(3))))
      .toMap
    assert(got === Map(
      (1L, 3L) -> ((2L, 1)), (3L, 1L) -> ((2L, 1)),
      (2L, 4L) -> ((2L, 1)), (4L, 2L) -> ((2L, 1))))
  }

  test("edgeSupport: per-edge triangle counts, weak ties at zero") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant edge 3-4: triangle edges support 1,
    // the pendant is a weak tie at 0
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(),
      (1L to 4L).map(id => (id, "v")).toDF("id", "label"),
      Seq((10L, 1L, 2L, "e"), (11L, 2L, 3L, "e"), (12L, 1L, 3L, "e"),
        (13L, 3L, 4L, "e")).toDF("id", "src", "dst", "label"))
    val got = Analytics.edgeSupport(g).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map((1L, 2L) -> 1L, (2L, 3L) -> 1L, (1L, 3L) -> 1L,
      (3L, 4L) -> 0L))
  }

  test("adamicAdar: 1/ln(d) weights over common neighbors, hub-capped") {
    import spark.implicits._
    // star center 0 with leaves 1..3, plus edge 1-2: pairs through center 0
    // (d=4) weigh 1/ln4; pair (0,3)-style adjacency contributes nothing
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(),
      (0L to 3L).map(id => (id, "v")).toDF("id", "label"),
      Seq((10L, 0L, 1L, "e"), (11L, 0L, 2L, "e"), (12L, 0L, 3L, "e"),
        (13L, 1L, 2L, "e")).toDF("id", "src", "dst", "label"))
    val got = Analytics.adamicAdar(g).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val w = (d: Int) => BigDecimal(1.0 / math.log(d.toDouble))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def s(x: BigDecimal) = x.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // (1,2): common neighbor 0 (d=3... center 0 has degree 3); (0,1): common 2;
    // (0,2): common 1; (1,3)&(2,3): common 0; (0,3): none shared
    assert(got === Map(
      (1L, 2L) -> ((1L, s(w(3)))),          // through center 0, d(0)=3
      (0L, 1L) -> ((1L, s(w(2)))),          // through 2, d(2)=2
      (0L, 2L) -> ((1L, s(w(2)))),          // through 1, d(1)=2
      (1L, 3L) -> ((1L, s(w(3)))),
      (2L, 3L) -> ((1L, s(w(3))))))
    assert(Analytics.adamicAdar(g, maxHubDegree = 1L).isEmpty)
  }

  test("walkContextPairs: window-bounded directed pairs, counts aggregate") {
    import spark.implicits._
    // walk 1: a-b-c-d; walk 2: a-b (re-co-occurrence accumulates counts)
    val walks = Seq(
      (1L, 10L, 0L, 100L), (1L, 10L, 1L, 101L),
      (1L, 10L, 2L, 102L), (1L, 10L, 3L, 103L),
      (2L, 10L, 0L, 100L), (2L, 10L, 1L, 101L)
    ).toDF("walk", "seed", "step", "id")
    val got = Analytics.walkContextPairs(walks, window = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // within window 2 of each other in walk 1: all pairs except (100,103);
    // (100,101) appears in both walks -> cnt 2; pairs are directed
    assert(got((100L, 101L)) === 2L && got((101L, 100L)) === 2L)
    assert(got((100L, 102L)) === 1L && got((102L, 100L)) === 1L)
    assert(!got.contains((100L, 103L)) && !got.contains((103L, 100L)))
    assert(got((101L, 103L)) === 1L && got((102L, 103L)) === 1L)
  }

  test("kTruss: peeling matches brute force on a random graph; cascades converge") {
    import spark.implicits._
    def brute(edges: Set[(Long, Long)], k: Int): Set[(Long, Long)] = {
      var e = edges
      var changed = true
      while (changed) {
        val adj = (e.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) })
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val next = e.filter { case (u, v) =>
          (adj(u) intersect adj(v)).size >= k - 2 }
        changed = next != e
        e = next
      }
      e
    }
    val rnd = new scala.util.Random(17)
    val n = 30
    val es = (1 to 180).map(i => (i.toLong, rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, "r"))
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(),
      (0L until n.toLong).map(id => (id, "v")).toDF("id", "label"),
      es.toDF("id", "src", "dst", "label"))
    val canonical = es.collect { case (_, a, b, _) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    for (k <- Seq(3, 4, 5)) {
      val (got, converged) = Analytics.kTrussConverged(g, k, maxRounds = 20)
      assert(converged, s"k=$k should converge in 20 rounds")
      val gotSet = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotSet === brute(canonical, k), s"k=$k")
    }
    // k < 3 is rejected
    intercept[IllegalArgumentException](Analytics.kTruss(g, 2))
  }

  test("eccentricity: per-source max BFS distance and reached count on gods") {
    val src = GraphOfTheGods.ids("hercules")
    val r = Analytics.eccentricity(gods, Seq(src), maxIter = 6).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("source") === src)
    // hercules -> battled/father chains: distances computed by the exact BFS
    val dist = Analytics.shortestDistance(gods, src, maxIter = 6)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Double]("distance")).toMap
    assert(row.getAs[Long]("eccentricity") === dist.values.max.toLong)
    assert(row.getAs[Long]("reached") === dist.size.toLong)
  }

  test("source multiplicity: a repeated BFS source counts twice, a betweenness pivot once") {
    val s = GraphOfTheGods.ids("hercules")
    def hist(srcs: Seq[Long]) = Analytics.hopHistogram(gods, srcs, maxIter = 6).collect()
      .map(r => (r.getAs[Long]("source"), r.getAs[Long]("d")) -> r.getAs[Long]("n_at_d")).toMap
    assert(hist(Seq(s, s)) === hist(Seq(s)).map { case (k, n) => k -> 2 * n })
    def harmonic(srcs: Seq[Long]) = Analytics.harmonicCentrality(gods, srcs, maxIter = 6)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("harmonic_x1e12"), r.getAs[Long]("reached"))).toMap
    val once = harmonic(Seq(s))
    assert(once.nonEmpty)
    assert(harmonic(Seq(s, s)) === once.map { case (id, (h, n)) => id -> ((2 * h, 2 * n)) })
    def btw(srcs: Seq[Long]) = Analytics.betweennessSampled(gods, srcs, maxIter = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(btw(Seq(s, s)) === btw(Seq(s)))
  }

  test("closenessCentrality: per-vertex distance sum equals summed per-source BFS") {
    val srcs = Seq(GraphOfTheGods.ids("hercules"), GraphOfTheGods.ids("jupiter"))
    val got = Analytics.closenessCentrality(gods, srcs, maxIter = 6).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("dist_sum"), r.getAs[Long]("reached"))).toMap
    // brute: merge the two single-source BFS distance maps
    val per = srcs.map(s => Analytics.shortestDistance(gods, s, maxIter = 6)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Double]("distance").toLong)
      .toMap.filter { case (id, d) => d > 0 })
    val ids = per.flatMap(_.keys).toSet
    assert(got.keySet === ids)
    ids.foreach { id =>
      val ds = per.flatMap(_.get(id))
      assert(got(id) === ((ds.sum, ds.size.toLong)), s"vertex $id")
    }
  }

  test("kernels survive a thread with NO active session (r17 VERIFY NPE)") {
    // The active SparkSession is a THREAD-LOCAL. SparkPlan nodes capture
    // getActiveSession.orNull at construction, and metrics/resetMetrics
    // dereference it — so a kernel driven from a thread that never ran a
    // session-establishing call used to die inside the lazy localCheckpoint
    // barrier with a Spark-internal NPE (BroadcastNestedLoopJoinExec.metrics
    // on closenessCentrality's crossJoin(broadcast) seed; VERIFY_r17
    // tests_ok:false). roundBarrier now pins the frame's own session as the
    // running thread's active session; this drives the same operator from a
    // bare thread with the thread-local explicitly CLEARED.
    val srcs = Seq(GraphOfTheGods.ids("hercules"), GraphOfTheGods.ids("jupiter"))
    val expected = Analytics.closenessCentrality(gods, srcs, maxIter = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val got = new java.util.concurrent.atomic.AtomicReference[Set[(Long, Long, Long)]]()
    val t = new Thread(() => {
      try {
        org.apache.spark.sql.SparkSession.clearActiveSession()
        got.set(Analytics.closenessCentrality(gods, srcs, maxIter = 6)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
      } catch { case e: Throwable => err.set(e) }
    }, "graft-no-active-session-repro")
    t.start()
    t.join(120000L)
    assert(err.get() === null, s"kernel failed on a no-active-session thread: ${err.get()}")
    assert(got.get() === expected)
  }

  test("topologicalLayers: Kahn peeling layers a DAG; cycles land at -1") {
    import spark.implicits._
    // DAG: 1->2->3, 1->3, 4 isolated; cycle: 5<->6 feeding 7
    val v = (1L to 7L).map(id => (id, "v")).toDF("id", "label")
    val e = Seq((10L, 1L, 2L, "e"), (11L, 2L, 3L, "e"), (12L, 1L, 3L, "e"),
      (13L, 5L, 6L, "e"), (14L, 6L, 5L, "e"), (15L, 6L, 7L, "e"))
      .toDF("id", "src", "dst", "label")
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    val got = Analytics.topologicalLayers(g, maxRounds = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // sources peel first; isolated vertices are round-0 sources too
    assert(got === Map(1L -> 0L, 4L -> 0L, 2L -> 1L, 3L -> 2L,
      5L -> -1L, 6L -> -1L, 7L -> -1L))
  }

  test("egoNetwork: k-hop induced subgraph; ghosts excluded; k=0 is the seeds") {
    import spark.implicits._
    import graft.olap.GraphOps
    // path 1-2-3-4 plus ghost edge 2->99 (no vertex 99)
    val v = (1L to 4L).map(id => (id, "v")).toDF("id", "label")
    val e = Seq((10L, 1L, 2L, "e"), (11L, 2L, 3L, "e"), (12L, 3L, 4L, "e"),
      (13L, 2L, 99L, "e")).toDF("id", "src", "dst", "label")
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    def ids(pg: graft.data.PropertyGraph) =
      pg.vertices.collect().map(_.getLong(0)).toSet
    val ego0 = GraphOps.egoNetwork(g, Seq(1L), 0)
    assert(ids(ego0) === Set(1L) && ego0.edges.isEmpty)
    val ego1 = GraphOps.egoNetwork(g, Seq(1L), 1)
    assert(ids(ego1) === Set(1L, 2L))
    assert(ego1.edges.collect().map(_.getLong(0)).toSet === Set(10L))
    val ego2 = GraphOps.egoNetwork(g, Seq(4L), 2) // undirected reach
    assert(ids(ego2) === Set(2L, 3L, 4L))
    assert(ego2.edges.collect().map(_.getLong(0)).toSet === Set(11L, 12L))
    // ghost endpoint INSIDE k hops: 99 is reached from 2 but has no vertex
    // row — neither the vertex nor the ghost edge may enter the ego graph
    val ego3 = GraphOps.egoNetwork(g, Seq(1L), 2)
    assert(ids(ego3) === Set(1L, 2L, 3L))
    assert(ego3.edges.collect().map(_.getLong(0)).toSet === Set(10L, 11L))
  }

  test("bipartiteColoring: even cycle has zero odd edges; odd cycle is caught") {
    import spark.implicits._
    def run(edges: Seq[(Long, Long, Long)], n: Long) = {
      val g = graft.data.PropertyGraph(graft.core.GraphSchema(),
        (1L to n).map(id => (id, "v")).toDF("id", "label"),
        edges.map { case (i, a, b) => (i, a, b, "e") }.toDF("id", "src", "dst", "label"))
      val rows = Analytics.bipartiteColoring(g, source = 1L, maxIter = 8).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      (rows - (-1L), rows(-1L))
    }
    // 4-cycle: bipartite, alternating colors, conflict sentinel 0
    val (c4, odd4) = run(Seq((10L, 1L, 2L), (11L, 2L, 3L), (12L, 3L, 4L), (13L, 4L, 1L)), 4L)
    assert(odd4 === 0L)
    assert(c4 === Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L))
    // triangle: odd cycle -> exactly one same-color edge under BFS parity
    val (c3, odd3) = run(Seq((10L, 1L, 2L), (11L, 2L, 3L), (12L, 3L, 1L)), 3L)
    assert(odd3 === 1L && c3(2L) === 1L && c3(3L) === 1L)
    // unreached vertices carry no color (disconnected 4th vertex)
    val (cd, _) = run(Seq((10L, 1L, 2L)), 4L)
    assert(cd.keySet === Set(1L, 2L))
  }

  test("graphDatasheet: census, loops, ghosts, max degree, isolated vertices") {
    import spark.implicits._
    import graft.olap.GraphOps
    val v = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b")).toDF("id", "label")
    val e = Seq((10L, 1L, 2L, "x"), (11L, 2L, 2L, "x"), (12L, 2L, 99L, "y"))
      .toDF("id", "src", "dst", "label")
    val d = GraphOps.graphDatasheet(graft.data.PropertyGraph(graft.core.GraphSchema(), v, e))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d("v:a") === 2L && d("v:b") === 2L && d("vertices") === 4L)
    assert(d("e:x") === 2L && d("e:y") === 1L && d("edges") === 3L)
    assert(d("self_loops") === 1L)     // 2->2
    assert(d("ghost_edges") === 1L)    // 2->99
    assert(d("max_degree") === 4L)     // vertex 2: edges 10, 11(x2), 12
    assert(d("isolated_vertices") === 2L) // 3 and 4
  }

  test("shortestPathCounts: sigma equals the path enumeration on a diamond DAG") {
    import spark.implicits._
    // diamond x2: 1->{2,3}->4->{5,6}->7 gives sigma(4)=2, sigma(7)=4
    val v = (1L to 7L).map(id => (id, "v")).toDF("id", "label")
    val e = Seq((10L, 1L, 2L), (11L, 1L, 3L), (12L, 2L, 4L), (13L, 3L, 4L),
      (14L, 4L, 5L), (15L, 4L, 6L), (16L, 5L, 7L), (17L, 6L, 7L))
      .map { case (i, a, b) => (i, a, b, "e") }.toDF("id", "src", "dst", "label")
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    val got = Analytics.shortestPathCounts(g, 1L, maxIter = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((0L, 1L)), 2L -> ((1L, 1L)), 3L -> ((1L, 1L)),
      4L -> ((2L, 2L)), 5L -> ((3L, 2L)), 6L -> ((3L, 2L)), 7L -> ((4L, 4L))))
  }

  test("randomWalks: deterministic replay, real edges only, sinks stop early") {
    import spark.implicits._
    val v = (1L to 4L).map(id => (id, "v")).toDF("id", "label")
    val e = Seq((10L, 1L, 2L), (11L, 1L, 3L), (12L, 2L, 4L))
      .map { case (i, a, b) => (i, a, b, "e") }.toDF("id", "src", "dst", "label")
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    def run() = Analytics.randomWalks(g, Seq(1L), steps = 3, walksPerSeed = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val a = run()
    assert(a === run(), "hash-seeded walks must replay identically")
    val byWalk = a.groupBy(_._1).view.mapValues(_.toSeq.sortBy(_._2).map(_._3)).toMap
    val edges = Set(1L -> 2L, 1L -> 3L, 2L -> 4L)
    for ((wk, path) <- byWalk) {
      assert(path.head === 1L, s"walk $wk starts at the seed")
      path.sliding(2).foreach {
        case Seq(x, y) => assert(edges.contains(x -> y), s"walk $wk hop $x->$y is an edge")
        case _ =>
      }
      // 3 and 4 are sinks: a walk reaching one stops there
      assert(path.length <= 3 && (path.last == 3L || path.last == 4L))
    }
    // 4 walks, hash-split between the two out-neighbors of 1: both appear
    assert(byWalk.values.map(_(1)).toSet === Set(2L, 3L),
      "different walk ids must explore different branches")
  }

  test("nonBacktrackingWalks: never returns to prev; dead ends stop the walk") {
    import spark.implicits._
    // 1 <-> 2 <-> 3: from 1 the only non-backtracking route is 1,2,3, then
    // dead end at 3 (only neighbor is 2 = prev)
    val v = (1L to 3L).map(id => (id, "v")).toDF("id", "label")
    val e = Seq((10L, 1L, 2L), (11L, 2L, 1L), (12L, 2L, 3L), (13L, 3L, 2L))
      .map { case (i, a, b) => (i, a, b, "e") }.toDF("id", "src", "dst", "label")
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    val got = Analytics.nonBacktrackingWalks(g, Seq(1L), steps = 5, walksPerSeed = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.toSeq.sortBy(_._2).map(_._3)).toMap
    assert(got.size === 3)
    got.values.foreach(path => assert(path === Seq(1L, 2L, 3L),
      s"only non-backtracking route is 1,2,3; got $path"))
    // plain walks on the same graph CAN bounce back (second-order state matters)
    val plain = Analytics.randomWalks(g, Seq(1L), steps = 5, walksPerSeed = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.toSeq.sortBy(_._2).map(_._3)).toMap
    assert(plain.values.exists(p => p.sliding(3).exists {
      case Seq(a, _, c) => a == c
      case _ => false
    }), "first-order walks should revisit on this path graph")
  }

  test("scc: exhausted inner budget yields NULLs, never a silently split cycle") {
    import spark.implicits._
    // a 20-cycle under maxInner = 2: pointer-jumped floods reach ~2² hops —
    // far short of the cycle — so the coloring cannot converge and NOTHING
    // may resolve (the old behavior retired the pivot as a singleton,
    // splitting the SCC). maxInner = 8 used to be under-budget too, but the
    // composed min/max pointers now cover 2⁸ hops — asserted below.
    val v = (1L to 20L).map(id => (id, "v")).toDF("id", "label")
    val e = (1L to 20L).map(i => (100L + i, i, if (i == 20L) 1L else i + 1L))
      .map { case (i, a, b) => (i, a, b, "e") }.toDF("id", "src", "dst", "label")
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    val short = Analytics.stronglyConnectedComponents(g, maxOuter = 3, maxInner = 2)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(short.size === 20 && short.values.forall(_.isEmpty),
      s"under-budgeted floods must resolve nothing, got $short")
    // a log₂-scale budget resolves the whole cycle as ONE component
    val full = Analytics.stronglyConnectedComponents(g, maxOuter = 2, maxInner = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full.size === 20 && full.values.toSet === Set(1L))
  }

  test("maximalMatching: mutual-min handshake, ascending path peels, star saturates") {
    import spark.implicits._
    // path 1-2-3-4-5 (ascending ids force one pair per round) + star 10-{6,7}
    val v = (Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 10L)).map(id => (id, "v")).toDF("id", "label")
    val e = Seq((101L, 1L, 2L), (102L, 2L, 3L), (103L, 3L, 4L), (104L, 4L, 5L),
      (105L, 10L, 6L), (106L, 10L, 7L))
      .map { case (i, a, b) => (i, a, b, "e") }.toDF("id", "src", "dst", "label")
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    val got = Analytics.maximalMatching(g).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // r1: 1-2 mutual AND 6-10 mutual (10's min nbr is 6, 6's only nbr is 10)
    // r2: 3-4 mutual; 5 and 7 stay single — maximal (no alive edge remains)
    assert(got === Set((1L, 2L, 1L), (6L, 10L, 1L), (3L, 4L, 2L)))
    // matched vertex sets are disjoint (it is a matching)
    val verts = got.toSeq.flatMap(t => Seq(t._1, t._2))
    assert(verts.distinct.size === verts.size)
    // contraction: pairs collapse onto their min id, intra-pair edges drop,
    // cross-cluster edges re-wire with counts
    val m = Analytics.maximalMatching(g)
    val coarse = Analytics.contractMatching(g, m).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(coarse === Set((1L, 3L, 1L), (3L, 5L, 1L), (6L, 7L, 1L)))
  }

  test("pageRankWeightedFixedPoint: rank follows weights; guards nonpositive") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    // 1 points at 2 (w 9) and 3 (w 1): 2 must outrank 3; with equal weights
    // the result must equal the unweighted fixed point
    val v = (1L to 3L).map(id => (id, "v")).toDF("id", "label")
    val e = Seq((10L, 1L, 2L, "e", 9L), (11L, 1L, 3L, "e", 1L))
      .toDF("id", "src", "dst", "label", "w")
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    val r = Analytics.pageRankWeightedFixedPoint(g, col("w"), iterations = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(2L) > r(3L), s"heavier edge must carry more rank: $r")
    val flat = Analytics.pageRankWeightedFixedPoint(g, lit(1L), iterations = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val plain = Analytics.pageRankFixedPoint(g, iterations = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(flat === plain, "weight 1 everywhere must reduce to the unweighted rank")
    intercept[IllegalArgumentException] {
      Analytics.pageRankWeightedFixedPoint(g, col("w") - lit(9L), iterations = 1)
    }
  }

  test("communityStats: conductance and modularity terms match hand arithmetic") {
    import spark.implicits._
    // two triangles {1,2,3} and {4,5,6} joined by one bridge 3-4: m = 7
    val v = (1L to 6L).map(id => (id, "v")).toDF("id", "label")
    val e = Seq((10L, 1L, 2L), (11L, 2L, 3L), (12L, 3L, 1L),
      (13L, 4L, 5L), (14L, 5L, 6L), (15L, 6L, 4L), (16L, 3L, 4L))
      .map { case (i, a, b) => (i, a, b, "e") }.toDF("id", "src", "dst", "label")
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (4L, 20L), (5L, 20L), (6L, 20L)).toDF("id", "community")
    val got = Analytics.communityStats(g, labels).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // each side: 3 internal, 1 cut, volume 7; conductance = 1e6 DIV 7;
    // modularity term = floor(3e12/7) - (7e6 DIV 14)^2
    val expTerm = 3000000000000L / 7L - 500000L * 500000L
    assert(got(10L) === ((3L, 3L, 1L, 7L, 142857L, expTerm)))
    assert(got(20L) === ((3L, 3L, 1L, 7L, 142857L, expTerm)))
    // Q = sum of terms: two moderately-coupled triangles land near 0.357
    assert(got.values.map(_._6).sum === 2L * expTerm)
  }

  test("greedyColoring: proper, mex-compact, deterministic") {
    import spark.implicits._
    // triangle {1,2,3} (needs 3 colors) + tail 3-4-5 + isolate 6
    val v = (1L to 6L).map(id => (id, "v")).toDF("id", "label")
    val e = Seq((10L, 1L, 2L), (11L, 2L, 3L), (12L, 3L, 1L),
      (13L, 3L, 4L), (14L, 4L, 5L))
      .map { case (i, a, b) => (i, a, b, "e") }.toDF("id", "src", "dst", "label")
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    def run() = Analytics.greedyColoring(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c = run()
    assert(c.size === 6 && c === run(), "deterministic full coloring")
    // proper: no edge joins equal colors
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)).foreach { case (a, b) =>
      assert(c(a) !== c(b), s"edge $a-$b shares color ${c(a)}") }
    // triangle exhausts {0,1,2}; mex keeps the palette compact (≤ Δ+1 = 4)
    assert(Set(c(1L), c(2L), c(3L)) === Set(0L, 1L, 2L))
    assert(c.values.max <= 3L && c(6L) === 0L)
  }

  test("minimumSpanningForest: Boruvka picks the exact MST per component") {
    import spark.implicits._
    // square 1-2-3-4 + diagonal 1-3, known MST {2-3, 3-4, 1-3}; a second
    // component {6,7}; an isolate 8; plus a parallel 1-3 edge that must lose
    val v = Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L).map(id => (id, "v")).toDF("id", "label")
    val e = Seq((101L, 1L, 2L, 5L), (102L, 2L, 3L, 1L), (103L, 3L, 4L, 2L),
      (104L, 4L, 1L, 10L), (105L, 1L, 3L, 4L), (106L, 3L, 1L, 6L),
      (107L, 6L, 7L, 20L))
      .map { case (i, a, b, w) => (i, a, b, "e", w) }
      .toDF("id", "src", "dst", "label", "wt")
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    val got = Analytics.minimumSpanningForest(g,
      weight = org.apache.spark.sql.functions.col("wt")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((2L, 3L, 1L), (3L, 4L, 2L), (1L, 3L, 4L), (6L, 7L, 20L)))
    // default weight = edge id: same forest shape question, canonical answer
    val byId = Analytics.minimumSpanningForest(g).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(byId === Set((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L)))
  }

  test("scc: trim resolves DAG parts, coloring resolves cycles, peeling nests") {
    import spark.implicits._
    // two 3-cycles bridged by a DAG path, plus a tail and an isolate:
    //   cycle A {1,2,3}, cycle B {5,6,7}, bridge 3->4->5, tail 7->8, isolate 9
    val v = (1L to 9L).map(id => (id, "v")).toDF("id", "label")
    val e = Seq((101L, 1L, 2L), (102L, 2L, 3L), (103L, 3L, 1L),
      (104L, 3L, 4L), (105L, 4L, 5L),
      (106L, 5L, 6L), (107L, 6L, 7L), (108L, 7L, 5L), (109L, 7L, 8L))
      .map { case (i, a, b) => (i, a, b, "e") }.toDF("id", "src", "dst", "label")
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    val got = Analytics.stronglyConnectedComponents(g).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 9L))
    // nested-SCC peel: a cycle only exposed after an outer shell resolves —
    // 11<->12 feeding into and fed by nothing else still needs trim first
    // for the pendant 13; colors with a SMALLER id upstream need the peel:
    // 20->11 means color(11)=color(12)=11 only if 20's color doesn't win;
    // min-id 11 < 20 so coloring still lands round 1 — exercise instead the
    // case where the upstream id IS smaller: 10->21<->22 (color 10 floods)
    val v2 = Seq((10L, "v"), (21L, "v"), (22L, "v")).toDF("id", "label")
    val e2 = Seq((201L, 10L, 21L), (202L, 21L, 22L), (203L, 22L, 21L))
      .map { case (i, a, b) => (i, a, b, "e") }.toDF("id", "src", "dst", "label")
    val g2 = graft.data.PropertyGraph(graft.core.GraphSchema(), v2, e2)
    val got2 = Analytics.stronglyConnectedComponents(g2).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // trim removes 10 (no in-edge) in round 1; the 21<->22 cycle then colors
    // to its own min 21 — peeling, not one-shot coloring, is what makes it work
    assert(got2 === Map(10L -> 10L, 21L -> 21L, 22L -> 21L))
  }

  test("stress centrality: sigma x suffix-count equals the through-path enumeration") {
    import spark.implicits._
    // double diamond 1->{2,3}->4->{5,6}->7 (same fixture as the sigma test)
    val v = (1L to 7L).map(id => (id, "v")).toDF("id", "label")
    val e = Seq((10L, 1L, 2L), (11L, 1L, 3L), (12L, 2L, 4L), (13L, 3L, 4L),
      (14L, 4L, 5L), (15L, 4L, 6L), (16L, 5L, 7L), (17L, 6L, 7L))
      .map { case (i, a, b) => (i, a, b, "e") }.toDF("id", "src", "dst", "label")
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    val got = Analytics.stressCentrality(g, 1L, maxIter = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // by hand: g(2)=g(3)=5 suffixes, sigma=1 -> 5; 4: 2*4=8; 5,6: 2*1=2;
    // endpoints 1 (source) and 7 (sink) carry 0
    assert(got === Map(1L -> 0L, 2L -> 5L, 3L -> 5L, 4L -> 8L,
      5L -> 2L, 6L -> 2L, 7L -> 0L))
    // absent source -> empty frame with the full schema
    val none = Analytics.stressCentrality(g, 999L, maxIter = 4)
    assert(none.columns.toSeq === Seq("id", "distance", "sigma", "stress") && none.isEmpty)
  }

  test("coreness: h-index iteration reaches exact core numbers; simple-graph semantics") {
    import spark.implicits._
    // 4-clique {1,2,3,4} (coreness 3) + tail 1-5-6 (coreness 1) + isolate 7 (0)
    val v = (1L to 7L).map(id => (id, "v")).toDF("id", "label")
    val cl = for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a * 10L + b, a, b)
    val e = (cl ++ Seq((15L, 1L, 5L), (56L, 5L, 6L)))
      .map { case (i, a, b) => (i, a, b, "e") }.toDF("id", "src", "dst", "label")
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    val (res, conv) = Analytics.corenessConverged(g, maxRounds = 8)
    assert(conv, "h-index iteration must reach its fixpoint in 8 rounds here")
    val m = res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 1L, 6L -> 1L, 7L -> 0L))
    // parallel edges and self-loops are ignored (coreness is a simple-graph notion)
    val e2 = e.unionAll(Seq((99L, 1L, 2L, "e"), (98L, 3L, 3L, "e"))
      .toDF("id", "src", "dst", "label"))
    val m2 = Analytics.coreness(
      graft.data.PropertyGraph(graft.core.GraphSchema(), v, e2), maxRounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m2 === m)
    // a denser random graph, with a 10-vertex tail whose core-1 front creeps
    // in one vertex per round, against the Batagelj–Zaversnik peeling
    val pairs = (1L to 400L).map(i =>
      (i, math.abs(i * 2654435761L % 60L) + 1L, math.abs(i * 40503L % 60L) + 1L)) ++
      (60L until 70L).map(i => (1000L + i, i, i + 1))
    val rv = (1L to 70L).map(id => (id, "v")).toDF("id", "label")
    val re = pairs.map { case (i, a, b) => (i, a, b, "e") }.toDF("id", "src", "dst", "label")
    val (rres, rconv) = Analytics.corenessConverged(
      graft.data.PropertyGraph(graft.core.GraphSchema(), rv, re), maxRounds = 12)
    assert(rconv)
    val want = peelingCores(1L to 70L, pairs.map(p => (p._2, p._3)))
    assert(want.values.toSet.size >= 2, "the tail and the body must differ in core")
    assert(rres.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === want)
  }

  /** Batagelj–Zaversnik core decomposition (2003) on the simple undirected
    * graph: repeatedly peel a vertex of least current degree; its degree
    * when peeled is its core number. A sorted set stands in for the
    * original's degree bins. */
  private def peelingCores(vs: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import scala.collection.mutable
    val adj = mutable.Map(vs.map(_ -> mutable.Set.empty[Long]): _*)
    for ((a, b) <- edges if a != b) { adj(a) += b; adj(b) += a }
    val deg = mutable.Map(adj.toSeq.map { case (v, n) => v -> n.size.toLong }: _*)
    val queue = mutable.TreeSet(deg.toSeq.map { case (v, d) => (d, v) }: _*)
    val core = mutable.Map.empty[Long, Long]
    while (queue.nonEmpty) {
      val (d, v) = queue.head
      queue -= ((d, v))
      core(v) = d
      for (u <- adj(v) if !core.contains(u) && deg(u) > d) {
        queue -= ((deg(u), u))
        deg(u) -= 1
        queue += ((deg(u), u))
      }
    }
    core.toMap
  }

  test("guards: absent sigma source, negative-id sentinel alias, walk id bounds") {
    import spark.implicits._
    val v = (1L to 3L).map(id => (id, "v")).toDF("id", "label")
    val e = Seq((10L, 1L, 2L, "e")).toDF("id", "src", "dst", "label")
    val g = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    // shortestPathCounts: source absent from the vertex table -> empty frame, no NPE
    val none = Analytics.shortestPathCounts(g, 999L, maxIter = 4)
    assert(none.columns.toSeq === Seq("id", "distance", "sigma") && none.isEmpty)
    // bipartiteColoring: a reachable REAL negative id would alias the id=-1
    // sentinel row -> loud failure instead of two conflicting rows
    val gn = graft.data.PropertyGraph(graft.core.GraphSchema(),
      Seq((1L, "v"), (-1L, "v")).toDF("id", "label"),
      Seq((10L, 1L, -1L, "e")).toDF("id", "src", "dst", "label"))
    intercept[IllegalArgumentException] {
      Analytics.bipartiteColoring(gn, source = 1L, maxIter = 4)
    }
    // walk ids pack seed*100+walkIndex: >100 walks would alias adjacent seeds
    intercept[IllegalArgumentException] {
      Analytics.randomWalks(g, Seq(1L), steps = 1, walksPerSeed = 101)
    }
    intercept[IllegalArgumentException] {
      Analytics.nonBacktrackingWalks(g, Seq(1L), steps = 1, walksPerSeed = 101)
    }
    // a 64-bit wrap that lands two seeds' walks on the SAME packed id is
    // caught outright: delta*100 ≡ 4 (mod 2^64) makes walk(0,5)==walk(delta,1)
    val delta = (BigInt(25).modInverse(BigInt(2).pow(62))).toLong
    intercept[IllegalArgumentException] {
      Analytics.randomWalks(g, Seq(0L, delta), steps = 1, walksPerSeed = 5)
    }
    // ...while an ordinary wrapping seed (no collision) still runs: the wrap
    // itself is intentional (oracles inline the identically-wrapped ids)
    assert(Analytics.randomWalks(g, Seq(Long.MaxValue / 2L), steps = 0).count() === 1L)
  }
}
