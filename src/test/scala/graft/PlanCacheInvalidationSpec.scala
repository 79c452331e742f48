package graft

import graft.core.{GraphSchema, PlanCache}
import graft.data.{GraphIO, PropertyGraph}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Store-overwrite → cache-invalidation contract (round 17).
  *
  * `semanticHash` is STABLE across separate reads of the same parquet path
  * (verified empirically — two `spark.read.parquet(p)` calls hash
  * identically, and so does a re-read after an overwrite), so a re-run of a
  * PlanCache-backed operator over a re-read lands on the SAME cache key.
  * Two mechanisms keep the hit fresh:
  *  - Spark's own writer path (`InsertIntoHadoopFsRelationCommand`)
  *    refreshes CacheManager entries by path on overwrite, so the persisted
  *    DATA under a surviving entry re-materializes — this alone already
  *    covers same-session `df.write` overwrites;
  *  - `GraphIO.save` (and the IVF index sinks) additionally call
  *    `PlanCache.invalidatePath` + `Indexes.clearGateDecisions`, which
  *    Spark knows nothing about: the ENTRY itself is dropped (pinned here
  *    via the rebuild flag) and the memoized broadcast-gate decisions are
  *    flushed — the gate's stale `small=true` after a data-growing
  *    overwrite is an OOM class, not just staleness; and non-writer-path
  *    writes (schema.json via raw FS, external processes) have no Spark
  *    refresh at all, so the explicit hook is the only correct path.
  */
class PlanCacheInvalidationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private def mkGraph(values: Seq[Long]): PropertyGraph = {
    val v = values.toDF("id").select(col("id"), lit("v").as("label"))
    val e = v.limit(0).select(col("id"), col("id").as("src"),
      col("id").as("dst"), col("label"))
    PropertyGraph(GraphSchema(), v, e)
  }

  /** A stand-in for any PlanCache-backed operator: cache an aggregate of the
    * loaded vertices under the operator-style key (op tag + input-plan
    * semantic hash). */
  private def cachedSum(path: String): Long = {
    val loaded = GraphIO.load(spark, path)
    val in = loaded.vertices
    PlanCache.cached(spark, PlanCache.key("spec-sum", in)) {
      in.agg(sum(col("id")).as("s"))
    }.head.getLong(0)
  }

  test("save → cached op → overwrite → cached op returns FRESH data") {
    val path = Files.createTempDirectory("graft-inval").toString
    GraphIO.save(mkGraph(Seq(1L, 2L, 3L)), path)
    assert(cachedSum(path) === 6L)
    // overwrite through the engine's own sink — this must flush the entry
    GraphIO.save(mkGraph(Seq(10L, 20L)), path)
    // the re-read hashes identically (same path, same plan shape) ⇒ same
    // cache key; without invalidation this returns the stale 6
    assert(cachedSum(path) === 30L)
  }

  test("GraphIO.save drops the PlanCache ENTRY (not just Spark's recache)") {
    val path = Files.createTempDirectory("graft-inval-e").toString
    GraphIO.save(mkGraph(Seq(1L, 2L)), path)
    val in = GraphIO.load(spark, path).vertices
    val key = PlanCache.key("spec-entry", in)
    PlanCache.cached(spark, key)(in.agg(sum(col("id")))).head
    GraphIO.save(mkGraph(Seq(7L)), path)
    // Spark's recacheByPath would refresh the DATA but leave the entry in
    // the map (no rebuild); our invalidatePath removes it, so the build
    // closure must run again on the next call with the same key
    var rebuilt = false
    PlanCache.cached(spark, key) { rebuilt = true; in.agg(sum(col("id"))) }
    assert(rebuilt, "PlanCache entry survived GraphIO.save over its source path")
  }

  test("invalidatePath is selective: entries over other paths survive") {
    val pathA = Files.createTempDirectory("graft-inval-a").toString
    val pathB = Files.createTempDirectory("graft-inval-b").toString
    GraphIO.save(mkGraph(Seq(1L, 2L)), pathA)
    GraphIO.save(mkGraph(Seq(5L)), pathB)
    val inA = GraphIO.load(spark, pathA).vertices
    val keyA = PlanCache.key("spec-sel", inA)
    val framA = PlanCache.cached(spark, keyA)(inA.agg(sum(col("id"))))
    assert(framA.head.getLong(0) === 3L)
    // invalidate B only — A's entry must still be the SAME cached object
    PlanCache.invalidatePath(spark, pathB)
    val framA2 = PlanCache.cached(spark, keyA)(sys.error("rebuilt — entry was dropped"))
    assert(framA2 eq framA)
    // and invalidating A (normalized: plain local path vs file:/// input
    // files) drops it — the build closure runs again
    PlanCache.invalidatePath(spark, pathA)
    var rebuilt = false
    PlanCache.cached(spark, keyA) { rebuilt = true; inA.agg(sum(col("id"))) }
    assert(rebuilt)
  }

  test("in-memory-lineage entries never invalidate by path") {
    val df = Seq(1L, 2L, 3L).toDF("id")
    val key = PlanCache.key("spec-mem", df)
    val cached = PlanCache.cached(spark, key)(df.agg(sum(col("id"))))
    PlanCache.invalidatePath(spark, "/definitely/not/read")
    PlanCache.invalidatePath(spark, "/") // even a root-prefix sweep
    val again = PlanCache.cached(spark, key)(sys.error("must not rebuild"))
    assert(again eq cached)
    PlanCache.invalidate(spark, key)
  }

  test("gate-decision memo: clearGateDecisions flushes; hit verifies plan equality") {
    // only a set over Indexes.LiteralIds ids is decided through the memo
    val over = graft.index.Indexes.LiteralIds + 2L
    val base = spark.range(1L, over + 3L).toDF("id")
    val ids = spark.range(2L, over + 2L).toDF("id")
    // memoized decision path: two identical calls, same result both times
    val r1 = graft.index.Indexes.gatedIdSemiJoin(base, ids).collect().map(_.getLong(0)).sorted
    val r2 = graft.index.Indexes.gatedIdSemiJoin(base, ids).collect().map(_.getLong(0)).sorted
    assert(r1.toSeq === (2L until over + 2L))
    assert(r2.toSeq === r1.toSeq)
    // flush (session-scoped and global) — purely perf-affecting, results hold
    graft.index.Indexes.clearGateDecisions(spark)
    val r3 = graft.index.Indexes.gatedIdSemiJoin(base, ids).collect().map(_.getLong(0)).sorted
    assert(r3.toSeq === r1.toSeq)
    graft.index.Indexes.clearGateDecisions()
    val r4 = graft.index.Indexes.gatedIdSemiJoin(base, ids).collect().map(_.getLong(0)).sorted
    assert(r4.toSeq === r1.toSeq)
  }

  test("a semanticHash collision between two inputs is a miss, not the other input's frame") {
    val base = spark.range(100000).toDF("id")
    def probe(c: Long) = base.filter(col("id") === lit(c))
    // search for two literals whose filters hash alike: swapping the literal
    // into one built plan costs microseconds where building a frame costs a
    // millisecond, and the birthday bound puts a 32-bit repeat within ~10^5
    // tries (the first pair from 0 is found at 33,866)
    import org.apache.spark.sql.catalyst.expressions.Literal
    val plan0 = probe(0L).queryExecution.logical
    val seen = scala.collection.mutable.HashMap.empty[Int, Long]
    var pair = Option.empty[(Long, Long)]
    var c = 0L
    while (pair.isEmpty && c < 1000000L) {
      val h = plan0.transformAllExpressions {
        case Literal(v, _) if v == 0L => Literal(c)
      }.semanticHash()
      seen.put(h, c).foreach(prev => pair = Some((prev, c)))
      c += 1
    }
    val (a, b) = pair.getOrElse(fail("no semanticHash collision found"))
    assert(probe(a).queryExecution.logical.semanticHash() ===
      probe(b).queryExecution.logical.semanticHash(), "the search must yield a real collision")
    val ka = PlanCache.key("spec-collide", probe(a))
    val kb = PlanCache.key("spec-collide", probe(b))
    assert(ka.hashCode === kb.hashCode && ka != kb)
    val rowsA = PlanCache.cached(spark, ka)(probe(a)).collect().map(_.getLong(0)).toSeq
    val rowsB = PlanCache.cached(spark, kb)(probe(b)).collect().map(_.getLong(0)).toSeq
    assert(rowsA === Seq(a) && rowsB === Seq(b))
    // parameters compare as a sequence, not as a joined string
    assert(PlanCache.key("op", base, "a,b") != PlanCache.key("op", base, "a", "b"))
    PlanCache.invalidate(spark, ka)
    PlanCache.invalidate(spark, kb)
  }
}
