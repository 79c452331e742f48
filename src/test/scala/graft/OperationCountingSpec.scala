package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TitanOperationCountingTest re-expressed Spark-first (titan-test
  * graphdb/TitanOperationCountingTest.java:110-218): the reference pins
  * that a point-read chain costs a BOUNDED number of backend getSlice
  * calls (4 edge-store + 1 index-store per op loop) — the no-N+1 contract.
  * In this engine the backend unit is a Spark JOB, so these tests pin job
  * counts: a multi-vertex frontier must be served by ONE batched keyed
  * join (the reference's edgeMultiQuery), never per-vertex jobs, and an
  * index point read plus its hop chain must stay constant-job regardless
  * of graph size. Bounds are generous (AQE may add a stage or two) but
  * categorically exclude O(frontier) behavior. */
class OperationCountingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  // job STARTS seen by a listener, read after the bus drains. The status
  // tracker's job list is capped (spark.ui.retainedJobs) and evicts its
  // oldest 100 entries once the shared test session passes the cap, so a
  // delta over that list can come out negative.
  private lazy val started = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    })
    n
  }
  private def jobs: Int = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    started.get
  }
  private def countJobs[T](f: => T): (T, Int) = {
    val j0 = jobs; val r = f; (r, jobs - j0)
  }

  private def chain(n: Long): graft.data.PropertyGraph = {
    val v = spark.range(1, n + 1).select(col("id"), lit("v").as("label"),
      col("id").as("uid"))
    val e = spark.range(1, n).select((col("id") + 5000L).as("id"),
      col("id").as("src"), (col("id") + 1L).as("dst"), lit("knows").as("label"))
    graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
  }

  test("a 200-vertex frontier is ONE batched join — never per-vertex jobs") {
    val g = chain(200)
    val frontier = spark.range(1, 201).select(col("id").as("vid"))
    val (n, j) = countJobs {
      graft.query.VertexCentricQuery(g).onFrontier(frontier)
        .direction(graft.query.Direction.OUT).edges().count()
    }
    assert(n == 199L)
    assert(j <= 8, s"frontier batching broke: $j jobs for a 200-vertex multiQuery")
  }

  test("index point read is constant-job (gate probe + result, no N+1)") {
    val g0 = chain(500)
    val ix = graft.core.IndexDef("byUid", graft.core.ElementCategory.VERTEX, Seq("uid"))
    val g = g0.copy(schema = g0.schema.copy(indexes = g0.schema.indexes + (ix.name -> ix)))
      .withIndexTable(ix.name, graft.index.Indexes.materialize(g0, ix))
    val (n, j) = countJobs {
      g.V().has("uid", 7L).forceIndex().vertices().count()
    }
    assert(n == 1L)
    assert(j <= 6, s"index point read cost $j jobs")
  }

  test("the reference op loop (index lookup -> BOTH hop -> IN edges) stays bounded") {
    // testReadOperations' per-iteration chain (:198-206): resolve v by uid,
    // u = v.both(knows), e = u.inE(knows) — 4+1 getSlices there, a constant
    // handful of jobs here, independent of graph size
    val g0 = chain(300)
    val ix = graft.core.IndexDef("byUid", graft.core.ElementCategory.VERTEX, Seq("uid"))
    val g = g0.copy(schema = g0.schema.copy(indexes = g0.schema.indexes + (ix.name -> ix)))
      .withIndexTable(ix.name, graft.index.Indexes.materialize(g0, ix))
    import graft.query.Direction
    val (counts, j) = countJobs {
      val vIds = g.V().has("uid", 150L).forceIndex().vertices()
        .select(col("id")).collect().map(_.getLong(0)).toSeq
      val both = graft.query.VertexCentricQuery(g).onVertices(vIds: _*)
        .direction(Direction.BOTH).labels("knows").edges().count()
      val inE = graft.query.VertexCentricQuery(g).onVertices(vIds: _*)
        .direction(Direction.IN).labels("knows").edges().count()
      (vIds.size, both, inE)
    }
    assert(counts == ((1, 2L, 1L)))
    assert(j <= 15, s"read chain cost $j jobs")
  }

  test("repeating an identical index lookup skips the gate-probe job " +
      "(decision memoized, frame NOT persisted)") {
    // r16: gatedIdSemiJoin memoizes the small/large DECISION per
    // (session, ids-plan, cap). The q_ixp_matrix shape — many identical
    // lookups in one pass — must pay the probe count once, so a repeat of
    // the same lookup costs strictly fewer jobs than its first run.
    val g0 = chain(400)
    val ix = graft.core.IndexDef("byUid2", graft.core.ElementCategory.VERTEX, Seq("uid"))
    val g = g0.copy(schema = g0.schema.copy(indexes = g0.schema.indexes + (ix.name -> ix)))
      .withIndexTable(ix.name, graft.index.Indexes.materialize(g0, ix))
    def run(): Long = g.V().has("uid", 42L).forceIndex().vertices().count()
    val (n1, j1) = countJobs(run())
    val (n2, j2) = countJobs(run())
    assert(n1 == 1L && n2 == 1L)
    assert(j2 < j1, s"repeat lookup did not skip the probe: first=$j1 repeat=$j2")
  }
}
