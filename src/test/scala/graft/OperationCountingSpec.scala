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
    // gatedIdSemiJoin memoizes the broadcast/plain DECISION of an id set
    // over Indexes.LiteralIds per (session, ids-plan, cap). The q_ixp_matrix
    // shape — many identical lookups in one pass — must pay the decision job
    // once, so a repeat of the same lookup costs strictly fewer jobs than
    // its first run. (A literal-path lookup re-reads its ids on every call
    // by design: a memoized id list would be a stale snapshot.)
    val over = graft.index.Indexes.LiteralIds + 2L
    val g0 = {
      val c = chain(2 * over)
      c.copy(vertices = c.vertices.withColumn("grp", col("id") % 2L))
    }
    val ix = graft.core.IndexDef("byGrp2", graft.core.ElementCategory.VERTEX, Seq("grp"))
    val g = g0.copy(schema = g0.schema.copy(indexes = g0.schema.indexes + (ix.name -> ix)))
      .withIndexTable(ix.name, graft.index.Indexes.materialize(g0, ix))
    def run(): Long = g.V().has("grp", 0L).forceIndex().vertices().count()
    val (n1, j1) = countJobs(run())
    val (n2, j2) = countJobs(run())
    assert(n1 == over && n2 == over)
    assert(j2 < j1, s"repeat lookup did not skip the probe: first=$j1 repeat=$j2")
  }

  // the perfbench mutate_read state: the benchmark's TPC-H tables (read
  // from the repository root) as a graph saved, reloaded, and indexed with
  // Indexes.materialize
  private lazy val tpch: graft.data.PropertyGraph = {
    val dir = java.nio.file.Files.createTempDirectory("graft-opcount").toString
    graft.data.GraphIO.save(graft.data.TpchGraph.load(spark, "perfbench/data/sf0.01"), dir, buckets = 4)
    val g = graft.data.GraphIO.load(spark, dir, graft.data.TpchGraph.schema)
    val ix = graft.data.TpchGraph.schema.indexes("byUid")
    g.withIndexTable(ix.name, graft.index.Indexes.materialize(g, ix))
  }

  test("the indexed point read (lookup, collect, newest-2 placed slice) is at most 5 jobs") {
    import graft.query.{Direction, VertexCentricQuery}
    val g = tpch
    val u = 1L
    val cust = graft.core.GraphIds.vertexId(graft.data.TpchGraph.CustomerTag, u)
    val placed = g.edges.filter(col("label") === "placed" && col("src") === cust).count()
    assert(placed >= 2L)
    val ((vs, es), j) = countJobs {
      val hit = graft.index.Indexes.lookup(g, g.indexTables("byUid"), Map("uid" -> u))
        .filter(col("label") === "customer")
      val vs = hit.select(col("id"), col("label"), col("name")).collect()
      val es = VertexCentricQuery(g).onFrontier(hit.select(col("id").as("vid")), Seq("customer"))
        .labels("placed").direction(Direction.OUT).orderBy("orderdate", asc = false)
        .limit(2).edges().select(col("other"), col("orderdate").cast("string")).collect()
      (vs, es)
    }
    assert(vs.map(_.getLong(0)).toSeq == Seq(cust))
    assert(es.length == 2)
    assert(j <= 5, s"point read cost $j jobs")
  }

  test("an onVertices frontier spends no job on the frontier") {
    import graft.query.{Direction, VertexCentricQuery}
    val g = chain(300)
    val (q, built) = countJobs {
      VertexCentricQuery(g).onVertices(7L, 150L, 299L).direction(Direction.OUT).edges()
    }
    assert(built == 0, s"building the slice ran $built jobs")
    // the frontier adds no job to the read: it costs what the same read of
    // the whole edge table costs
    val (rows, j) = countJobs(q.collect())
    val (_, whole) = countJobs(VertexCentricQuery(g).direction(Direction.OUT).edges().collect())
    assert(rows.map(_.getAs[Long]("vid")).sorted.toSeq == Seq(7L, 150L, 299L))
    assert(j == whole, s"onVertices read $j jobs, the unrestricted read $whole")
  }
}
