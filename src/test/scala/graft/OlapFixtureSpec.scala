package graft

import graft.core._
import graft.data.PropertyGraph
import graft.olap.Analytics
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** FIXTURES.md §3 — the reference's OLAP random graph
  * (OLAPTest.java:61-88 generateRandomGraph): vertex i has uid=i+1 and a LIST
  * property; vertex i emits i+1 'knows' edges to uniform-random targets ⇒
  * exactly n(n+1)/2 edges. Degree/PageRank/SSSP checks in the reference's
  * style (OLAPTest.java:91,496,565).
  */
class OlapFixtureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  val n = 200

  lazy val fixture: PropertyGraph = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val schema = GraphSchema()
      .withPropertyKey(PropertyKeyDef("uid", IntegerType))
      .withPropertyKey(PropertyKeyDef("numvals", IntegerType))
      .withPropertyKey(PropertyKeyDef("values", IntegerType, Cardinality.LIST))
      .withPropertyKey(PropertyKeyDef("weight", IntegerType))
      .withVertexLabel(VertexLabelDef("node"))
      .withEdgeLabel(EdgeLabelDef("knows", signature = Seq("weight")))
    val verts = (0 until n).map { i =>
      val numvals = rnd.nextInt(5) + 1
      (i.toLong + 1, "node", i + 1, numvals, Seq.fill(numvals)(rnd.nextInt(100)))
    }.toDF("id", "label", "uid", "numvals", "values")
    var eid = 0L
    val edges = (0 until n).flatMap { i =>
      (0 to i).map { _ =>
        eid += 1
        (eid, i.toLong + 1, rnd.nextInt(n).toLong + 1, "knows", rnd.nextInt(10) + 1)
      }
    }.toDF("id", "src", "dst", "label", "weight")
    PropertyGraph(schema, verts, edges)
  }

  test("random graph has exactly n(n+1)/2 edges (OLAPTest degree invariant)") {
    assert(fixture.edges.count() === n.toLong * (n + 1) / 2)
    // out-degree of vertex i is i+1 by construction
    val outDeg = Analytics.degrees(fixture).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("out_degree")).toMap
    (1 to n).foreach(i => assert(outDeg.getOrElse(i.toLong, 0L) === i.toLong))
  }

  test("LIST cardinality property survives the round trip") {
    val r = fixture.vertices.selectExpr("numvals", "size(values) AS s").collect()
    r.foreach(row => assert(row.getAs[Int]("numvals") === row.getAs[Int]("s")))
  }

  test("PageRank matches the analytic fixed point on a directed star") {
    import spark.implicits._
    // leaves 2..m+1 each point at center 1; center has no out-edges
    val m = 50
    val verts = (1 to m + 1).map(i => (i.toLong, "node")).toDF("id", "label")
    val edges = (2 to m + 1).map(i => (i.toLong, i.toLong, 1L, "to")).toDF("id", "src", "dst", "label")
    val star = PropertyGraph(GraphSchema(), verts, edges)
    val pr = Analytics.pageRankFixedPoint(star, iterations = 30).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank_fp")).toMap
    // Fixed point at scale 10¹²: leaf = 0.15·10¹², center = leaf + 0.85·m·leaf
    // ⇒ ratio = 1 + 0.85·m = 43.5, exact in the integer arithmetic
    // (6.525e12 / 1.5e11); all leaves equal.
    assert(pr(2L) === 150000000000L && pr(1L) === 6525000000000L)
    assert(BigDecimal(pr(1L)) / BigDecimal(pr(2L)) === BigDecimal(1) + BigDecimal("0.85") * m)
    assert((2L to m + 1).map(pr).distinct.size === 1)
  }

  test("weighted SSSP: exact distances on a weighted path graph") {
    import spark.implicits._
    // path 1 →(w=2) 2 →(w=3) 3 →(w=5) 4, plus shortcut 1 →(w=9) 4
    val verts = (1 to 4).map(i => (i.toLong, "node")).toDF("id", "label")
    val edges = Seq(
      (1L, 1L, 2L, "e", 2), (2L, 2L, 3L, "e", 3), (3L, 3L, 4L, "e", 5),
      (4L, 1L, 4L, "e", 9)).toDF("id", "src", "dst", "label", "weight")
    val g = PropertyGraph(GraphSchema(), verts, edges)
    val d = Analytics.shortestDistance(g, 1L, weightCol = Some("weight"), maxIter = 10)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("distance")).toMap
    assert(d === Map(1L -> 0.0, 2L -> 2.0, 3L -> 5.0, 4L -> 9.0))
  }

  test("weighted SSSP on the random graph reaches most vertices") {
    val d = Analytics.shortestDistance(fixture, 1L, weightCol = Some("weight"), maxIter = 15)
    assert(d.count() > n / 2)
  }

  test("shortest-path tree: distances match BFS, preds are min-id optimal, paths reconstruct") {
    val tree = Analytics.shortestPathTree(fixture, 1L, maxIter = 10)
    val rows = tree.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.getAs[java.lang.Long]("pred")).map(_.toLong)))
      .toMap
    // distances equal the unweighted exact BFS
    val bfs = Analytics.shortestHopsExact(fixture, 1L, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.view.mapValues(_._1).toMap === bfs)
    // tree invariants: source has no pred; every other pred is one level up
    // with an edge to the vertex, and is the MINIMUM such id
    val edgeSet = fixture.edges.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(1L) === ((0L, None)))
    rows.foreach { case (v, (d, pred)) =>
      if (v != 1L) {
        val p = pred.get
        assert(rows(p)._1 === d - 1, s"pred of $v not one level up")
        assert(edgeSet.contains((p, v)), s"pred of $v not a neighbor")
        val optimal = rows.collect { case (u, (du, _)) if du == d - 1 && edgeSet((u, v)) => u }
        assert(p === optimal.min, s"pred of $v not the minimum optimal predecessor")
      }
    }
    // materialized paths: start at source, end at v, length = distance + 1,
    // consecutive pairs are edges
    val paths = Analytics.shortestPaths(tree, maxSteps = 10).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2).split(",").map(_.toLong).toSeq))
      .toMap
    paths.foreach { case (v, (d, p)) =>
      assert(p.head === 1L && p.last === v && p.length === d + 1, s"path of $v malformed: $p")
      p.sliding(2).filter(_.size == 2).foreach(pair =>
        assert(edgeSet((pair(0), pair(1))), s"non-edge step in path of $v"))
    }
  }

  test("bipartite projection: shared-neighbor pairs, hub cap drops stop-hubs") {
    import spark.implicits._
    // srcs 1,2 share dsts 100,101; srcs 2,3 share only 102; dst 999 is a
    // hub touching everyone (degree 3 — dropped when maxHubDegree = 2)
    val verts = ((1 to 3) ++ Seq(100, 101, 102, 999)).map(i => (i.toLong, "n")).toDF("id", "label")
    val e = Seq(
      (1L, 100L), (1L, 101L), (2L, 100L), (2L, 101L), (2L, 102L), (3L, 102L),
      (1L, 999L), (2L, 999L), (3L, 999L), (1L, 999L) // duplicate edge: counted once
    ).zipWithIndex.map { case ((s, d), i) => (i.toLong, s, d, "buys") }
      .toDF("id", "src", "dst", "label")
    val g = PropertyGraph(GraphSchema(), verts, e)
    val got = Analytics.projectBipartite(g, "buys", minShared = 1L, maxHubDegree = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map((1L, 2L) -> 2L, (2L, 3L) -> 1L))
    // without the cap the hub contributes to every pair
    val uncapped = Analytics.projectBipartite(g, "buys", minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(uncapped === Map((1L, 2L) -> 3L, (2L, 3L) -> 2L, (1L, 3L) -> 1L))
  }

  test("harmonic centrality equals per-source BFS composition") {
    val sources = Seq(1L, 2L, 5L)
    val got = Analytics.harmonicCentrality(fixture, sources, maxIter = 6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // reference: three independent exact BFS runs, summed
    val per = sources.map(s => Analytics.shortestHopsExact(fixture, s, maxIter = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val want = per.flatMap(_.toSeq).filter(_._2 > 0)
      .groupBy(_._1).view.mapValues { ds =>
        (ds.map(d => 1000000000000L / d._2).sum, ds.size.toLong)
      }.toMap
    assert(got === want)
  }

  test("kCore invariants on the random graph: nested cores, internal degree ≥ k") {
    import org.apache.spark.sql.functions._
    val c2 = Analytics.kCore(fixture, k = 2, maxRounds = 20)
      .collect().map(_.getLong(0)).toSet
    val c5 = Analytics.kCore(fixture, k = 5, maxRounds = 20)
      .collect().map(_.getLong(0)).toSet
    assert(c5.subsetOf(c2)) // cores are nested: higher k ⇒ smaller core
    assert(c2.nonEmpty)     // n(n+1)/2 edges over n vertices is dense enough
    // every member of the 5-core has ≥5 incident edges INSIDE the core
    val und = fixture.edges.select(col("src").as("a"), col("dst").as("b"))
      .unionAll(fixture.edges.select(col("dst").as("a"), col("src").as("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = und.filter { case (a, b) => c5.contains(a) && c5.contains(b) }
      .groupBy(_._1).view.mapValues(_.length).toMap
    assert(c5.forall(v => deg.getOrElse(v, 0) >= 5))
  }

  test("vertex-program exception propagates to the caller (OLAPTest:223-240)") {
    // The reference pins that a failure inside the program surfaces from
    // submit().get() instead of hanging the computer; in Spark the task
    // failure must reach the driver as SparkException with the original
    // message in the cause chain.
    import graft.olap.{VertexProgram, VertexProgramRunner}
    import org.apache.spark.graphx.EdgeTriplet
    object Exploder extends VertexProgram[Long, Long] {
      def initialState(id: Long): Long = 0L
      def send(superstep: Int, t: EdgeTriplet[Long, Double]): Iterator[(Long, Long)] =
        throw new IllegalStateException("boom-program")
      def combine(a: Long, b: Long): Long = a + b
      def apply(superstep: Int, id: Long, state: Long, msg: Option[Long]): Long =
        msg.getOrElse(state)
    }
    val ex = intercept[Exception] {
      VertexProgramRunner.run(fixture, Exploder, 1).vertices.count()
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(ex).exists(c => String.valueOf(c.getMessage).contains("boom-program")))
  }
}
