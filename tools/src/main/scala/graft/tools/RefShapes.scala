package graft.tools

import graft.core.{ElementCategory, GraphSchema, IndexDef}
import graft.data.{GraphIO, PropertyGraph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's OWN performance-test shapes, measured on this engine
  * (BASELINE.md "Reference" table — the reference prints elapsed wall-times
  * but records no absolute numbers, so these runs put this engine's numbers
  * against the same workloads at the same scales):
  *
  *  1. Threaded bulk load — 100,000 vertices + 1,000,000 edges through the
  *     store layout (TitanGraphIterativeBenchmark.java:72-114).
  *  2. Sequential OLAP row scan — 200,000 vertices, per-vertex slice
  *     limit 2 over incident edges, full scan
  *     (TitanGraphIterativeBenchmark.java:45-69).
  *  3. Indexed point-read + neighborhood check — 1,000 uid composite-index
  *     lookups, each resolving the element plus a ≤2-edge slice
  *     (TitanGraphPerformanceMemoryTest.java:110-142). Run BOTH ways: the
  *     Spark-first shape (ONE batched frontier — the engine's multiQuery
  *     answer to the reference's thread pool) and a 50-op sequential driver
  *     loop for per-operation latency.
  *  4. Transactional write throughput — 600,000 elements through batched
  *     commits (TitanGraphPerformanceMemoryTest.java:68-108; 4 threads ×
  *     100 rounds × 1500 there). A snapshot engine's commit is
  *     applyMutations + an eager checkpoint, so the twin is 20 batches ×
  *     30,000 elements (same total), plus a 1,500-element small-batch arc
  *     to expose per-commit overhead.
  *
  * A measurement main like RoundScale — not part of the driver
  * contract. Prints REFSHAPES lines; numbers land in BASELINE.md. */
object RefShapes {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tmp = sys.env.getOrElse("REFSHAPES_DIR", "/tmp/graft_refshapes")

    def timed(tag: String)(f: => Long): Long = {
      val t0 = System.nanoTime()
      val rows = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"REFSHAPES $tag wall=$s%.2f s rows=$rows")
      rows
    }

    // ---- 1. bulk load: 100k vertices + 1M edges through the store ----
    val nV = 100000L
    val nE = 1000000L
    val verts = spark.range(nV).select(col("id"), lit("v").as("label"),
      col("id").as("uid"), (col("id") % 97).as("p"))
    val edges = spark.range(nE).select((col("id") + 10000000L).as("id"),
      pmod(xxhash64(col("id")), lit(nV)).as("src"),
      pmod(xxhash64(col("id") + 1L), lit(nV)).as("dst"),
      lit("knows").as("label"))
    val g = PropertyGraph(GraphSchema(), verts, edges)
    val t0 = System.nanoTime()
    GraphIO.save(g, s"$tmp/bulk", buckets = 32)
    val loadS = (System.nanoTime() - t0) / 1e9
    println(f"REFSHAPES bulk_load_100k_1m wall=$loadS%.2f s " +
      f"rate=${(nV + nE) / loadS}%.0f elements/s")
    val gl = GraphIO.load(spark, s"$tmp/bulk")

    // ---- 2. sequential row scan, slice limit 2, 200k vertices ----
    val nV2 = 200000L
    val v2 = spark.range(nV2).select(col("id"), lit("v").as("label"))
    val e2 = spark.range(nV2 * 3).select((col("id") + 10000000L).as("id"),
      (col("id") % nV2).as("src"), pmod(xxhash64(col("id")), lit(nV2)).as("dst"),
      lit("knows").as("label"))
    val g2 = PropertyGraph(GraphSchema(), v2, e2)
    timed("scan_200k_slice2") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("id"))
      g2.edges.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 2).count()
    }

    // ---- 3. indexed point-reads: batched frontier + sequential loop ----
    val ix = IndexDef("byUid", ElementCategory.VERTEX, Seq("uid"))
    val gi0 = gl.copy(schema = gl.schema.copy(indexes = gl.schema.indexes + (ix.name -> ix)))
    val gi = gi0.withIndexTable(ix.name, graft.index.Indexes.materialize(gi0, ix))
    val uids = spark.range(1000).select((col("id") * 97L % nV).as("uid"))
    timed("pointread_1000_batched") {
      // the engine's multiQuery shape: resolve all 1000 by ONE index
      // semi-join, then one keyed join for each element's 2-edge slice
      val matched = gi.indexTables(ix.name).join(uids, Seq("uid"), "left_semi")
        .select(col("id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("id"))
      val slices = gi.edges.join(matched.select(col("id").as("src")), Seq("src"), "left_semi")
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 2)
      matched.count() + slices.count()
    }
    val loopT0 = System.nanoTime()
    var acc = 0L
    (1 to 50).foreach { i =>
      acc += gi.V().has("uid", (i * 97L) % nV).forceIndex().vertices().count()
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    println(f"REFSHAPES pointread_seq_50 wall=$loopS%.2f s " +
      f"perOp=${loopS / 50 * 1000}%.1f ms rows=$acc")

    // ---- 4. write throughput: 600k elements in batched commits ----
    def commitArc(tag: String, batches: Int, perBatch: Long): Unit = {
      var cur = PropertyGraph(GraphSchema(),
        spark.range(1).select(lit(-1L).as("id"), lit("v").as("label"), lit(-1L).as("uid")),
        spark.range(0).select(col("id"), col("id").as("src"), col("id").as("dst"),
          lit("knows").as("label")))
      val t = System.nanoTime()
      (0 until batches).foreach { b =>
        val base = b * perBatch
        val av = spark.range(base, base + perBatch / 2)
          .select(col("id"), lit("v").as("label"), col("id").as("uid"))
        val ae = spark.range(base, base + perBatch / 2)
          .select((col("id") + 50000000L).as("id"), col("id").as("src"),
            greatest(col("id") - 1L, lit(0L)).as("dst"), lit("knows").as("label"))
        cur = GraphIO.applyMutations(cur, addVertices = Some(av), addEdges = Some(ae))
        // snapshot-commit analogue: settle the batch eagerly (the durable
        // parquet write is `save`, measured in shape 1)
        cur = cur.copy(vertices = cur.vertices.localCheckpoint(true),
          edges = cur.edges.localCheckpoint(true))
      }
      val s = (System.nanoTime() - t) / 1e9
      val total = batches * perBatch
      println(f"REFSHAPES $tag wall=$s%.2f s total=$total " +
        f"rate=${total / s}%.0f elements/s finalV=${cur.vertices.count()}")
    }
    commitArc("writes_20x30k", 20, 30000L)
    commitArc("writes_20x1500", 20, 1500L)

    // ---- 5. memory stability: 25 rounds × 1000-element tx + queries ----
    // (TitanGraphPerformanceMemoryTest.java:39-65: 25 rounds × 1000 tx,
    // asserting heap stddev stays bounded.) The snapshot-engine twin: each
    // round applies a 1000-element mutation batch, settles it, runs a read
    // query AND a PlanCache-backed operator with a round-distinct key (the
    // worst churn case — every round tries to add an entry). The claim
    // under test is the cap structure: PlanCache's LRU (≤16 entries),
    // block-manager RDD entries (old checkpoint/cached blocks die), and
    // heap (stddev across rounds ≈ steady state, not a ramp).
    {
      val rounds = 25
      val perRound = 1000L
      var cur = PropertyGraph(GraphSchema(),
        spark.range(1).select(lit(-1L).as("id"), lit("v").as("label"), lit(-1L).as("uid")),
        spark.range(0).select(col("id"), col("id").as("src"), col("id").as("dst"),
          lit("knows").as("label")))
      val heaps = new Array[Double](rounds)
      val rt = Runtime.getRuntime
      val t = System.nanoTime()
      (0 until rounds).foreach { r =>
        val base = r * perRound
        val av = spark.range(base, base + perRound / 2)
          .select(col("id"), lit("v").as("label"), col("id").as("uid"))
        val ae = spark.range(base, base + perRound / 2)
          .select((col("id") + 50000000L).as("id"), col("id").as("src"),
            greatest(col("id") - 1L, lit(0L)).as("dst"), lit("knows").as("label"))
        cur = GraphIO.applyMutations(cur, addVertices = Some(av), addEdges = Some(ae))
        cur = cur.copy(vertices = cur.vertices.localCheckpoint(true),
          edges = cur.edges.localCheckpoint(true))
        // read query over the mutated graph + a round-distinct cached op
        cur.vertices.filter(col("uid") % 7 === 0).count()
        graft.core.PlanCache.cached(spark,
          graft.core.PlanCache.key("memstable", cur.vertices, r)) {
          cur.vertices.groupBy(col("label")).agg(count(lit(1)).as("n"))
        }.count()
        System.gc()
        heaps(r) = (rt.totalMemory() - rt.freeMemory()) / 1e6
      }
      val s = (System.nanoTime() - t) / 1e9
      val mean = heaps.sum / rounds
      val std = math.sqrt(heaps.map(h => (h - mean) * (h - mean)).sum / rounds)
      val slope = (heaps.takeRight(5).sum - heaps.take(5).sum) / 5.0
      println(f"REFSHAPES memstable_25x1000 wall=$s%.2f s heapMeanMB=$mean%.0f " +
        f"heapStdMB=$std%.0f lastMinusFirst5MB=$slope%.0f " +
        s"planCacheEntries=${graft.core.PlanCache.entryCount(spark)} " +
        s"rddStorageEntries=${spark.sparkContext.getRDDStorageInfo.length}")
    }

    spark.stop()
  }
}
