package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Bounded per-session cache for expensive intermediate frames (banded LSH
  * tables, analytics edge projections, IVF centroids).
  *
  * Library operators that persist an intermediate face a tension: never
  * unpersisting leaks a CacheManager entry per call for the session lifetime,
  * while unpersisting before returning forfeits reuse when the same operator
  * runs again over the same input (interactive sessions and benchmarks do
  * this constantly — the logical plan is identical, so the second call can
  * serve the cached frame instead of recomputing the dominant stage).
  *
  * Resolution: a small LRU keyed by (operator, canonicalized input plan,
  * params). A repeated call returns the already-persisted frame; once more
  * than `MaxEntries` distinct frames are live, the least-recently-used is
  * unpersisted — so total cached storage is bounded for any call pattern.
  *
  * Session hygiene is bounded on THREE axes (a WeakHashMap alone would NOT
  * work — the cached DataFrames strongly reference their own session,
  * pinning the weak key forever):
  *  - the per-session map count is itself an LRU capped at `MaxSessions`:
  *    a process cycling `newSession()` clones (which share one context and
  *    never individually "stop") evicts the oldest clone's entries instead
  *    of accumulating dead maps;
  *  - every `cached` call sweeps sessions whose context has stopped;
  *  - one listener per CONTEXT (not per session — a listener per clone would
  *    itself leak) drops all that context's session maps on application end.
  *
  * SNAPSHOT SEMANTICS: a cached frame is a frozen snapshot of its input at
  * first computation, exactly like `DataFrame.persist`. The engine CLOSES
  * the staleness loop for its own write paths: every entry records the
  * file-source paths its plan read (`DataFrame.inputFiles`, captured at
  * build time), and the store sinks (`GraphIO.save`, `Similarity.
  * writeIvfPqIndex`/`appendToIvfPqIndex`) call [[invalidatePath]] after
  * writing, so a cached operator re-run over a re-read of an overwritten
  * path recomputes instead of serving the stale snapshot. External writers
  * (a different process overwriting the parquet) remain outside the loop —
  * same contract as Spark's own cache — and can call `invalidate`/`clear`
  * manually.
  */
object PlanCache {
  private val MaxEntries = 16
  private val MaxSessions = 8

  /** A cached frame plus the normalized file paths its plan read (empty for
    * purely in-memory lineage — such entries never go stale by overwrite). */
  private final case class Entry(df: DataFrame, files: Array[String])

  /** Cache key: operator tag, canonicalized input plan and operator
    * parameters. Equality compares all three, so two inputs whose 32-bit
    * `semanticHash` collides are two keys, and parameters compare as a
    * sequence, never as a joined string. The hash is the input's
    * `semanticHash` (the canonicalized plan's hash). */
  final case class Key(op: String,
      canon: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, params: Seq[Any]) {
    override val hashCode: Int = canon.hashCode
  }

  private type EntryMap = java.util.LinkedHashMap[Key, Entry]

  private val caches =
    new java.util.LinkedHashMap[SparkSession, EntryMap](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession, EntryMap]): Boolean = {
        val evict = size() > MaxSessions
        if (evict && !e.getKey.sparkContext.isStopped)
          e.getValue.values.forEach(_.df.unpersist(false))
        evict
      }
    }

  // contexts that already carry the cleanup listener (weak: dies with the SC)
  private val listenerInstalled = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

  /** Stable cache key: operator tag + input plan + operator parameters. */
  def key(op: String, input: DataFrame, params: Any*): Key =
    Key(op, input.queryExecution.logical.canonicalized, params.toList)

  /** Return the cached frame for `key`, or persist `build` and register it
    * (evicting + unpersisting the LRU entry past capacity). */
  def cached(spark: SparkSession, cacheKey: Key)(build: => DataFrame): DataFrame =
    synchronized {
      sweepStopped()
      var m = caches.get(spark)
      if (m == null) {
        val sc = spark.sparkContext
        if (listenerInstalled.add(sc)) {
          sc.addSparkListener(new SparkListener {
            override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
              PlanCache.dropContext(sc)
          })
        }
        m = new EntryMap(16, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[Key, Entry]): Boolean = {
            val evict = size() > MaxEntries
            if (evict) e.getValue.df.unpersist(false)
            evict
          }
        }
        caches.put(spark, m)
      }
      val hit = m.get(cacheKey)
      if (hit != null) hit.df
      else {
        val df = build.persist(StorageLevel.MEMORY_AND_DISK)
        m.put(cacheKey, Entry(df, sourcePaths(df)))
        df
      }
    }

  /** Root paths of every file source in the plan, captured at build time for
    * [[invalidatePath]]. Collected from the ANALYZED plan — NOT
    * `df.inputFiles`, which walks the OPTIMIZED plan: persist() has already
    * registered this frame with the CacheManager by the time we record, so
    * optimization substitutes an InMemoryRelation over the scan and the file
    * list comes back empty (observed empirically). Analysis never performs
    * cache substitution, and touching it does not freeze the frame's
    * optimized plan. Root paths (the dirs the user read) beat file lists:
    * stable across re-listing, and exactly the granularity sinks overwrite. */
  private def sourcePaths(df: DataFrame): Array[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    try df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(p => normalize(p.toString))
        case _ => Seq.empty[String]
      }
      case v2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        v2.table match {
          case t: org.apache.spark.sql.execution.datasources.v2.FileTable =>
            t.fileIndex.rootPaths.map(p => normalize(p.toString))
          case _ => Seq.empty[String]
        }
    }.flatten.toArray
    catch { case _: Throwable => Array.empty[String] }
  }

  /** Live session-map count (bounded by MaxSessions; exposed for tests). */
  def sessionCount: Int = synchronized { caches.size() }

  /** Live entry count for one session (bounded by MaxEntries; exposed for
    * the churn/leak-bound tests). */
  def entryCount(spark: SparkSession): Int = synchronized {
    val m = caches.get(spark)
    if (m == null) 0 else m.size()
  }

  /** Unpersist and forget one cached entry (use after overwriting the files
    * a cached operator read — see SNAPSHOT SEMANTICS above). */
  def invalidate(spark: SparkSession, cacheKey: Key): Unit = synchronized {
    val m = caches.get(spark)
    if (m != null) {
      val e = m.remove(cacheKey)
      if (e != null) e.df.unpersist(false)
    }
  }

  /** Unpersist and forget every cached entry (in EVERY live session — cloned
    * sessions share the files) whose plan read a file under `path`. Called
    * by the engine's own store sinks after an overwrite/append so the next
    * same-plan call recomputes from the new files. Scheme/authority are
    * normalized, so "file:///x", "file:/x" and "/x" all match. */
  def invalidatePath(spark: SparkSession, path: String): Unit = synchronized {
    val dir = normalize(path)
    val prefix = if (dir.endsWith("/")) dir else dir + "/"
    caches.values.forEach { m =>
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.files.exists(f => f == dir || f.startsWith(prefix))) {
          e.getValue.df.unpersist(false)
          it.remove()
        }
      }
    }
  }

  /** scheme-insensitive comparable form: authority (bucket/host) + path. */
  private def normalize(s: String): String = {
    val uri = new org.apache.hadoop.fs.Path(s).toUri
    Option(uri.getAuthority).getOrElse("") + uri.getPath
  }

  /** Drop and unpersist everything cached for a session. */
  def clear(spark: SparkSession): Unit = synchronized {
    val m = caches.remove(spark)
    if (m != null) m.values.forEach(_.df.unpersist(false))
  }

  /** Forget entries of sessions whose context has stopped (their cached
    * blocks died with the executors — nothing to unpersist). */
  private def sweepStopped(): Unit = {
    val it = caches.keySet().iterator()
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
  }

  /** Forget every session map of a stopped context. */
  private def dropContext(sc: SparkContext): Unit = synchronized {
    val it = caches.keySet().iterator()
    while (it.hasNext) if (it.next().sparkContext eq sc) it.remove()
  }
}
