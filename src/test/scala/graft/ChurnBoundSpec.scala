package graft

import graft.core.{GraphSchema, PlanCache}
import graft.data.{GraphIO, PropertyGraph}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Leak-bound contract under mutation+query churn (round 17 — the engine
  * twin of the reference's memory-stability perf test,
  * TitanGraphPerformanceMemoryTest.java:39-65: 25 rounds × 1000 tx with a
  * heap-stddev bound). A snapshot engine has no transaction caches to leak;
  * what CAN ramp is (a) the PlanCache entry map under round-distinct keys
  * and (b) block-manager storage from evicted-but-never-unpersisted frames.
  * Both are capped by construction (LRU unpersists on eviction); this spec
  * pins the cap under the churn pattern specifically — every round adds a
  * NEW key, the worst case for an LRU. The wall-clock/heap measurement arm
  * is RefShapes in the `tools/` sub-project (`memstable_25x1000`, BASELINE.md
  * row).
  */
class ChurnBoundSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  test("25 mutation+query rounds with round-distinct cached ops stay bounded") {
    val storageBefore = spark.sparkContext.getRDDStorageInfo.length
    var cur = PropertyGraph(GraphSchema(),
      spark.range(1).select(lit(-1L).as("id"), lit("v").as("label"), lit(-1L).as("uid")),
      spark.range(0).select(col("id"), col("id").as("src"), col("id").as("dst"),
        lit("knows").as("label")))
    (0 until 25).foreach { r =>
      val base = r * 40L
      val av = spark.range(base, base + 20)
        .select(col("id"), lit("v").as("label"), col("id").as("uid"))
      val ae = spark.range(base, base + 20)
        .select((col("id") + 50000000L).as("id"), col("id").as("src"),
          greatest(col("id") - 1L, lit(0L)).as("dst"), lit("knows").as("label"))
      cur = GraphIO.applyMutations(cur, addVertices = Some(av), addEdges = Some(ae))
      cur = cur.copy(vertices = cur.vertices.localCheckpoint(true),
        edges = cur.edges.localCheckpoint(true))
      cur.vertices.filter(col("uid") % 7 === 0).count()
      // round-distinct key: every round tries to ADD a PlanCache entry
      PlanCache.cached(spark, PlanCache.key("churn-op", cur.vertices, r)) {
        cur.vertices.groupBy(col("label")).agg(count(lit(1)).as("n"))
      }.count()
    }
    // the LRU cap holds exactly (25 distinct keys > MaxEntries=16)
    assert(PlanCache.entryCount(spark) <= 16,
      s"PlanCache entries ramped: ${PlanCache.entryCount(spark)}")
    // storage delta stays bounded: each LRU-held cached aggregate pins BOTH
    // its own InMemoryRelation blocks AND the round's vertex-checkpoint RDD
    // its plan reads (the checkpoint dies only when the cache entry evicts),
    // so steady state is ≤ 2×MaxEntries + the final graph's 2 checkpoints
    // (+slack for async cleanup — eviction unpersists with blocking=false,
    // so poll up to 15s). The contract is BOUNDED, not minimal: unbounded
    // churn would be 25 rounds × 3 (two checkpoints + one cached frame) ≈ 75.
    val bound = storageBefore + 2 * 16 + 2 + 8
    var tries = 0
    def live() = spark.sparkContext.getRDDStorageInfo.length
    while (live() > bound && tries < 30) { System.gc(); Thread.sleep(500); tries += 1 }
    assert(live() <= bound,
      s"block-manager entries ramped under churn: ${live()} (bound $bound, started $storageBefore)")
    // hygiene for later suites
    PlanCache.clear(spark)
  }
}
