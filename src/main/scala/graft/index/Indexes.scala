package graft.index

import graft.core._
import graft.data.PropertyGraph
import graft.expr.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Index emulation for a columnar engine.
  *
  * The reference's composite index is a point-lookup table (key bytes →
  * element ids, IndexSerializer.java:511-546); its mixed index is an external
  * text/geo backend; its vertex-centric "relation index" is the sort-key
  * clustering of each adjacency row. In Spark those become, respectively:
  * a materialized (key → id) DataFrame enabling semi-join lookups, expression
  * evaluation over tokenized columns, and a bucketed+sorted parquet layout
  * whose min/max stats give the same pruned-slice reads.
  */
object Indexes {

  /** Materialize a composite index table: distinct key columns → element ids.
    * At scale this is the broadcastable lookup side for selective equality
    * queries (the moral of GraphCentricQueryBuilder's index selection: prefer
    * the index whose key covers the most equality conjuncts). */
  def materialize(g: PropertyGraph, ix: IndexDef): DataFrame =
    scopedTable(g, ix).select((ix.keys.map(col) :+ col("id")): _*)

  /** The element table an index covers, restricted to its `onlyLabel`. */
  private def scopedTable(g: PropertyGraph, ix: IndexDef): DataFrame = {
    val table = if (ix.element == ElementCategory.VERTEX) g.vertices else g.edges
    ix.onlyLabel.map(l => table.filter(col("label") === l)).getOrElse(table)
  }

  /** Index-accelerated equality lookup: filter the materialized index on
    * the key values, then fetch full rows by id ([[gatedIdSemiJoin]]: a point
    * read's few ids become an `id IN (…)` filter on the base scan). The
    * reference's composite point-read + element load. `element` selects the
    * base table the ids refer to — vertex and edge ids share the same tag
    * space, so fetching from the wrong table would silently return unrelated
    * elements (IndexSerializer resolves against the index's element category,
    * tc/graphdb/database/IndexSerializer.java:511-546). */
  def lookup(g: PropertyGraph, indexDf: DataFrame, keyValues: Map[String, Any],
      element: ElementCategory = ElementCategory.VERTEX): DataFrame = {
    val matches = keyValues.foldLeft(indexDf) { case (df, (k, v)) => df.filter(col(k) === lit(v)) }
    val base = if (element == ElementCategory.VERTEX) g.vertices else g.edges
    gatedIdSemiJoin(base, matches.select(col("id")))
  }

  /** Id sets of at most this many ids travel into plans as literals
    * (`id IN (…)`) instead of as a join. 1,024 longs are a few KB of literals
    * per task, far below Spark's 1000 KiB task-size warning, and a literal
    * set is a filter the parquet scans push down. */
  private[graft] val LiteralIds = 1024

  /** Restrict `base` to the ids of an ids-only frame (column `id`), on one of
    * three paths chosen by the number of id rows `n`, with
    * `cap = graft.index.broadcast.maxRows` and `lim = min(LiteralIds, cap)`:
    *
    *  - n ≤ lim: `base.filter(id IN (…))` over the collected ids. No join, no
    *    broadcast, and the filter reaches the parquet scan. A cap of 0 thus
    *    turns the literal path off along with the broadcast one.
    *  - lim < n ≤ cap: broadcast hash semi-join. A forced broadcast bypasses
    *    spark.sql.autoBroadcastJoinThreshold, so it applies only under the
    *    cap (rows of bare longs; 100k is single-digit MB of hash relation).
    *  - n > cap: plain semi-join; AQE picks the strategy from actual sizes.
    *    A low-selectivity value or a hot collection cell lands here.
    *
    * One Spark job decides ([[idsUpTo]]): it returns the ids when there are
    * at most `lim`, else the row count (exact up to `cap`). The ids are read
    * fresh on every call, because a memoized id list would be a stale
    * snapshot. The broadcast/plain decision of an over-`lim` set is memoized
    * per (session, ids plan, cap) in a small LRU, so many identical large
    * lookups in one pass (the q_ixp_matrix shape) pay the decision job once;
    * their ids subplan then runs once per call, in the join (persisting the
    * ids frame instead measured 30–80 ms slower per query). The memo stores
    * the canonicalized ids plan next to the decision and re-decides on a
    * mismatch, so a 32-bit semanticHash collision cannot force-broadcast an
    * over-cap frame. [[clearGateDecisions]] is wired to the store sinks next
    * to PlanCache.invalidatePath, so overwriting index files flushes the
    * decisions. A stale decision only picks a slower join, never other
    * rows, but a stale broadcast after a data-growing overwrite is the OOM
    * class again. */
  private[graft] def gatedIdSemiJoin(base: DataFrame, ids: DataFrame): DataFrame = {
    val spark = base.sparkSession
    val cap = spark.conf.get("graft.index.broadcast.maxRows", "100000").toLong
    val plan = ids.queryExecution.logical
    val key = (System.identityHashCode(spark), plan.semanticHash(), cap)
    val canon = plan.canonicalized
    val memo = gateDecisions.synchronized(gateDecisions.get(key)) match {
      case (stored, d) if stored == canon => Some(d.booleanValue)
      case _ => None // miss, or a hash-collision hit on a DIFFERENT plan
    }
    def semiJoin(small: Boolean): DataFrame =
      base.join(if (small) broadcast(ids) else ids, Seq("id"), "left_semi")
    memo match {
      case Some(small) => semiJoin(small)
      case None => idsUpTo(ids, math.min(LiteralIds.toLong, cap).toInt, cap) match {
        case Left(lits) => base.filter(col("id").isin(lits: _*))
        case Right(n) =>
          val small = n <= cap
          gateDecisions.synchronized(gateDecisions.put(key, (canon, java.lang.Boolean.valueOf(small))))
          semiJoin(small)
      }
    }
  }

  /** One Spark job over a one-column frame of (long-castable) ids: the
    * sorted distinct non-null ids when the frame has at most `lim` rows,
    * else its row count, exact up to `cap` and above `cap` past it. Each
    * task stops reading after `max(lim, cap) + 1` rows. Unlike
    * `limit(n).collect()`, which scans partitions incrementally and may run
    * several jobs, this reads every partition in the one job. */
  private[graft] def idsUpTo(ids: DataFrame, lim: Int, cap: Long): Either[Seq[Long], Long] = {
    val spark = ids.sparkSession
    import spark.implicits._
    val stop = math.max(lim.toLong, cap)
    val parts = ids.select(col(ids.columns.head).cast("long")).mapPartitions { rows =>
      var n = 0L
      val kept = Array.newBuilder[Long]
      while (n <= stop && rows.hasNext) {
        val r = rows.next()
        n += 1
        if (n <= lim && !r.isNullAt(0)) kept += r.getLong(0)
      }
      Iterator((n, kept.result()))
    }.collect()
    val n = parts.map(_._1).sum
    if (n <= lim) Left(parts.flatMap(_._2).distinct.sorted.toSeq) else Right(n)
  }

  // decision memo: (session, planHash, cap) → (canonicalized plan, ≤cap?).
  // The stored plan is the collision guard; 1024 entries of (tree, boolean)
  // is a few MB at worst and LRU-bounded.
  private val gateDecisions =
    new java.util.LinkedHashMap[(Int, Int, Long),
        (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, java.lang.Boolean)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, Int, Long),
            (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, java.lang.Boolean)]): Boolean =
        size() > 1024
    }

  /** Flush memoized broadcast-gate decisions for `spark` (every session when
    * null). Wired to the engine's store sinks next to PlanCache.invalidatePath;
    * decisions re-probe on next use (one bounded [[idsUpTo]] job each). */
  def clearGateDecisions(spark: org.apache.spark.sql.SparkSession = null): Unit =
    gateDecisions.synchronized {
      if (spark == null) gateDecisions.clear()
      else {
        val sid = System.identityHashCode(spark)
        val it = gateDecisions.keySet().iterator()
        while (it.hasNext) if (it.next()._1 == sid) it.remove()
      }
    }

  /** Materialize a mixed (text) index as an inverted token table: one row per
    * (token, element id) over the TEXT-mapped keys — the engine-internal
    * stand-in for the reference's external Elasticsearch/Lucene backend
    * (Mapping.TEXT, tc/core/schema/Mapping.java:18-21). Persist + bucket by
    * token for a broadcast/semi-join lookup side at scale. */
  def materializeMixed(g: PropertyGraph, ix: IndexDef): DataFrame = {
    require(!ix.composite, s"index '${ix.name}' is composite; use materialize")
    val scoped = scopedTable(g, ix)
    val textKeys = ix.keys.filter { k =>
      ix.mappings.getOrElse(k, graft.core.Mapping.DEFAULT) match {
        case graft.core.Mapping.TEXT | graft.core.Mapping.TEXTSTRING => true
        case _ => false
      }
    }
    require(textKeys.nonEmpty, s"index '${ix.name}' has no TEXT-mapped keys")
    textKeys.map { k =>
      scoped.select(lit(k).as("key"), explode(Text.tokens(col(k))).as("token"), col("id"))
    }.reduce(_ unionAll _)
  }

  /** Token lookup through a materialized mixed index: ids whose `key` field
    * contains `term` as a token — Text.CONTAINS via the index path (semi-join
    * on the inverted table instead of scanning/tokenizing the base data). */
  def lookupText(g: PropertyGraph, mixedIx: DataFrame, key: String, term: String,
      element: ElementCategory = ElementCategory.VERTEX): DataFrame =
    semiJoinIds(g, mixedIx.filter(col("key") === key &&
      col("token") === term.toLowerCase.trim), element)

  /** Materialize the STRING-exact side of a mixed index: one (key, value, id)
    * row per element, the untokenized full value (Mapping.STRING —
    * docs/searchpredicates.txt:70-86: STRING supports Cmp/eq on the whole
    * field where TEXT supports tokenized textContains). */
  def materializeString(g: PropertyGraph, ix: IndexDef): DataFrame = {
    require(!ix.composite, s"index '${ix.name}' is composite; use materialize")
    val scoped = scopedTable(g, ix)
    val stringKeys = ix.keys.filter { k =>
      ix.mappings.getOrElse(k, graft.core.Mapping.DEFAULT) match {
        case graft.core.Mapping.STRING | graft.core.Mapping.TEXTSTRING => true
        case _ => false
      }
    }
    require(stringKeys.nonEmpty, s"index '${ix.name}' has no STRING-mapped keys")
    stringKeys.map { k =>
      scoped.filter(col(k).isNotNull)
        .select(lit(k).as("key"), col(k).cast("string").as("value"), col("id"))
    }.reduce(_ unionAll _)
  }

  /** Materialize SET/LIST-cardinality (collection) keys as an inverted
    * per-ELEMENT table: one (key, cellvalue, id) row per property cell — the
    * reference's collection indexing registers each element separately
    * (TitanIndexTest.testListIndexing/testSetIndexing:1643-1755;
    * IndexSerializer handles Cardinality != SINGLE per entry). Multi-property
    * cells (`struct<value,meta>`) index their value. The cell column is named
    * `cellvalue` ON PURPOSE: it makes this per-element layout structurally
    * distinct from [[materializeString]]'s scalar (key, value, id) layout, so
    * the planner ([[graft.query.GraphQuery]] collection access path) and the
    * rebuild sniffer ([[graft.data.GraphIO.refreshIndexTables]]) never
    * confuse the two — a scalar string table mistaken for an inverted one
    * has no per-cell rows and would wrongly return empty for collection
    * lookups. [[lookupString]] accepts both layouts. At 100 TB a has(tag, v)
    * over a LIST key prunes to the value's cell rows instead of scanning
    * every array. */
  def materializeCollection(g: PropertyGraph, ix: IndexDef,
      keys: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    require(!ix.composite, s"index '${ix.name}' is composite; use materialize")
    val scoped = scopedTable(g, ix)
    val ks = if (keys.nonEmpty) keys else ix.keys
    val types = scoped.schema.map(f => f.name -> f.dataType).toMap
    val parts = ks.flatMap { k =>
      types.get(k) match {
        case Some(ArrayType(st: StructType, _)) if st.fieldNames.contains("value") =>
          Some(scoped.select(lit(k).as("key"),
            explode(col(k)).as("__c"), col("id"))
            .select(col("key"), col("__c.value").cast("string").as("cellvalue"), col("id")))
        case Some(ArrayType(_, _)) =>
          // explode FIRST, cast in a second projection — a generator can't
          // nest inside a Cast expression
          Some(scoped.select(lit(k).as("key"),
            explode(col(k)).as("__c"), col("id"))
            .select(col("key"), col("__c").cast("string").as("cellvalue"), col("id")))
        case _ => None
      }
    }
    require(parts.nonEmpty, s"index '${ix.name}': no collection-typed keys among $ks")
    parts.reduce(_ unionAll _)
  }

  /** Shared lookup shape of every mixed-index family: filter the index table,
    * project ids, semi-join the element base. One join shape to maintain —
    * the public lookups differ only in their index-side predicate. */
  private def semiJoinIds(g: PropertyGraph, ids: DataFrame,
      element: ElementCategory): DataFrame = {
    val base = if (element == ElementCategory.VERTEX) g.vertices else g.edges
    base.join(ids.select(col("id")), Seq("id"), "left_semi")
  }

  /** Exact-value lookup through a STRING-mapped mixed index (Cmp.EQUAL on the
    * whole field via the index path). Serves BOTH the scalar (key, value, id)
    * layout and [[materializeCollection]]'s per-element (key, cellvalue, id)
    * layout — collection point lookups are an exact match on any cell. */
  def lookupString(g: PropertyGraph, stringIx: DataFrame, key: String, value: String,
      element: ElementCategory = ElementCategory.VERTEX): DataFrame = {
    val vcol = if (stringIx.columns.contains("cellvalue")) col("cellvalue") else col("value")
    semiJoinIds(g, stringIx.filter(col("key") === key && vcol === value), element)
  }

  /** Materialize a TEXTSTRING-mapped key as ONE index table serving BOTH
    * predicate families (Mapping.TEXTSTRING — tc/core/schema/Mapping.java:
    * 18-21, docs/searchpredicates.txt:70-86: the combined mapping indexes the
    * field tokenized AND as the full value): kind='tok' rows carry tokens for
    * textContains, kind='str' rows carry the untokenized value for Cmp
    * equality / string prefix. Partition-prune on `kind` at lookup — each
    * family touches only its half. */
  def materializeTextString(g: PropertyGraph, ix: IndexDef): DataFrame = {
    require(!ix.composite, s"index '${ix.name}' is composite; use materialize")
    val scoped = scopedTable(g, ix)
    val tsKeys = ix.keys.filter(k =>
      ix.mappings.getOrElse(k, graft.core.Mapping.DEFAULT) == graft.core.Mapping.TEXTSTRING)
    require(tsKeys.nonEmpty, s"index '${ix.name}' has no TEXTSTRING-mapped keys")
    tsKeys.map { k =>
      val tok = scoped.select(lit(k).as("key"), lit("tok").as("kind"),
        explode(Text.tokens(col(k))).as("value"), col("id"))
      val str = scoped.filter(col(k).isNotNull)
        .select(lit(k).as("key"), lit("str").as("kind"),
          col(k).cast("string").as("value"), col("id"))
      tok.unionAll(str)
    }.reduce(_ unionAll _)
  }

  /** textContains through the TEXTSTRING index (token half). */
  def lookupTextStringContains(g: PropertyGraph, tsIx: DataFrame, key: String,
      term: String, element: ElementCategory = ElementCategory.VERTEX): DataFrame =
    semiJoinIds(g, tsIx.filter(col("key") === key && col("kind") === "tok" &&
      col("value") === term.toLowerCase.trim), element)

  /** Exact full-value equality through the SAME TEXTSTRING index (string half). */
  def lookupTextStringEquals(g: PropertyGraph, tsIx: DataFrame, key: String,
      value: String, element: ElementCategory = ElementCategory.VERTEX): DataFrame =
    semiJoinIds(g, tsIx.filter(col("key") === key && col("kind") === "str" &&
      col("value") === value), element)

  /** Materialize the numeric side of a mixed index: (key, numvalue, id) rows
    * — the range-queryable backend the reference gets from an external
    * index's numeric fields. Persisted sorted-by-value, parquet min/max
    * stats prune range lookups to the matching row groups. */
  def materializeNumeric(g: PropertyGraph, ix: IndexDef, keys: Seq[String]): DataFrame = {
    val scoped = scopedTable(g, ix)
    keys.map { k =>
      scoped.filter(col(k).isNotNull)
        .select(lit(k).as("key"), col(k).cast("double").as("numvalue"), col("id"))
    }.reduce(_ unionAll _)
  }

  /** Range lookup [lo, hi) through a numeric mixed index. */
  def lookupRange(g: PropertyGraph, numIx: DataFrame, key: String, lo: Double, hi: Double,
      element: ElementCategory = ElementCategory.VERTEX): DataFrame =
    semiJoinIds(g, numIx.filter(col("key") === key && col("numvalue") >= lo &&
      col("numvalue") < hi), element)

  /** Materialize the TEMPORAL side of a mixed index: (key, tsvalue, id)
    * rows with tsvalue a NATIVE timestamp. Date and Instant are first-class
    * mixed-index types in the reference (docs/searchpredicates.txt:70-86 —
    * ordering predicates apply to them exactly as to numerics), so temporal
    * range lookups take typed bounds here instead of forcing caller-side
    * casts through the double-valued numeric side. DATE columns upcast to
    * midnight in the session zone (UTC); persisted sorted-by-value the
    * table prunes by parquet min/max exactly like [[materializeNumeric]]. */
  def materializeTemporal(g: PropertyGraph, ix: IndexDef, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "materializeTemporal: at least one key")
    val scoped = scopedTable(g, ix)
    keys.map { k =>
      scoped.filter(col(k).isNotNull)
        .select(lit(k).as("key"), col(k).cast("timestamp").as("tsvalue"), col("id"))
    }.reduce(_ unionAll _)
  }

  /** Range lookup [lo, hi) through a temporal mixed index with Column
    * bounds (any timestamp-castable literal lifts through `lit`). */
  def lookupTemporalRange(g: PropertyGraph, tsIx: DataFrame, key: String,
      lo: Column, hi: Column,
      element: ElementCategory = ElementCategory.VERTEX): DataFrame =
    semiJoinIds(g, tsIx.filter(col("key") === key &&
      col("tsvalue") >= lo.cast("timestamp") && col("tsvalue") < hi.cast("timestamp")), element)

  /** Typed temporal range: java.time.Instant bounds. */
  def lookupTemporalRange(g: PropertyGraph, tsIx: DataFrame, key: String,
      lo: java.time.Instant, hi: java.time.Instant,
      element: ElementCategory): DataFrame =
    lookupTemporalRange(g, tsIx, key, lit(lo), lit(hi), element)

  /** Typed temporal range: java.sql.Timestamp bounds. */
  def lookupTemporalRange(g: PropertyGraph, tsIx: DataFrame, key: String,
      lo: java.sql.Timestamp, hi: java.sql.Timestamp,
      element: ElementCategory): DataFrame =
    lookupTemporalRange(g, tsIx, key, lit(lo), lit(hi), element)

  /** Typed temporal range: java.sql.Date bounds (lo-inclusive midnight to
    * hi-exclusive midnight — the reference's day-granular range). */
  def lookupTemporalRange(g: PropertyGraph, tsIx: DataFrame, key: String,
      lo: java.sql.Date, hi: java.sql.Date,
      element: ElementCategory): DataFrame =
    lookupTemporalRange(g, tsIx, key, lit(lo), lit(hi), element)

  /** Write edges in the vertex-centric index layout: hash-bucketed by src,
    * sorted within files by (src, label, sortKey...). Parquet min/max stats on
    * the sort columns then prune slice queries the way the reference's
    * byte-ordered column ranges do (EdgeSerializer.getQuery). */
  def writeEdgeLayout(g: PropertyGraph, path: String, buckets: Int,
      sortKeys: Seq[String] = Nil): Unit = {
    g.edges
      .repartition(buckets, col("src"))
      .sortWithinPartitions((Seq(col("src"), col("label")) ++ sortKeys.map(col)): _*)
      .write.mode("overwrite").parquet(path)
  }

  // ---------------- direct index query (scored text search) ----------------

  /** Deterministic relevance score for `indexQuery` parity
    * (tc/core/TitanIndexQuery.java:23-106, docs/directindex.txt). The
    * reference delegates scoring to Lucene; we define a documented token
    * metric: |query tokens ∩ doc tokens| / |query tokens| + a small length
    * prior favoring shorter fields on ties. */
  def tokenOverlapScore(field: Column, query: String): Column = {
    val qTokens = query.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.length > 1).distinct
    if (qTokens.isEmpty) lit(0.0)
    else {
      val hits = qTokens.map(t => when(array_contains(Text.tokens(field), t), 1).otherwise(0))
        .reduce(_ + _)
      when(hits === 0, lit(0.0)).otherwise(
        hits.cast("double") / lit(qTokens.length.toDouble) +
          lit(0.001) / (size(Text.tokens(field)) + 10).cast("double"))
    }
  }

  /** graph.indexQuery(ix, "v.text:(...)").limit(n).offset(o) analogue:
    * scored results ordered by score desc (ties by id). */
  def indexQuery(g: PropertyGraph, element: ElementCategory, field: String,
      query: String, limit: Int = 50, offset: Int = 0): DataFrame = {
    val table = if (element == ElementCategory.VERTEX) g.vertices else g.edges
    val scored = table
      .withColumn("score", tokenOverlapScore(col(field), query))
      .filter(col("score") > 0)
    // distributed paging: sort + GlobalLimit/Offset (top offset+limit rows per
    // partition, merged) — not a single-partition global window
    if (offset == 0) scored.orderBy(col("score").desc, col("id").asc).limit(limit)
    else scored.orderBy(col("score").desc, col("id").asc).offset(offset).limit(limit)
  }

  /** One parsed `field:(terms…)` clause of a direct index query.
    * `prefixed` records whether the element identifier (`v.`/`e.`/`p.` or a
    * custom one) preceded the field — the reference translates PREFIXED
    * field names from property-key name to backend field name, while bare
    * names pass through raw (IndexQueryBuilder.java:46-105, pinned by
    * TitanIndexTest.testRawQueries:956-966 where `v.text:ducks` hits via
    * the mapped name but bare `text:ducks` hits nothing). `phrase` records
    * a quoted `"multi word value"` operand — a Lucene phrase on a
    * STRING-mapped (not-analyzed) field, i.e. exact-value equality. */
  final case class QueryClause(field: String, terms: String,
      prefixed: Boolean = false, phrase: Boolean = false, range: Boolean = false)

  /** Parse the reference's Lucene-flavored direct-index query syntax:
    * `v.name:(small green)`, `name:widget`, quoted fields `v."text":(…)`,
    * quoted phrases `v.name:"exact value"`, numeric ranges
    * `time:[1000 TO 1020]` (inclusive, Lucene `[]` — IndexProviderTest.java:
    * 324 drives them through RawQuery), wildcard `v.*:"x"`, custom element
    * identifiers (`$v$text:ducks`), multi-field clauses AND-ed — literal
    * AND/OR tokens between clauses carry no colon and are skipped (AND is
    * the implicit combiner; tc/graphdb/query/graph/
    * IndexQueryBuilder.java:46-105, IndexSerializer.java:601-658). */
  def parseQuery(q: String, elementId: String = null): Seq[QueryClause] = {
    val pfx = if (elementId == null) """[vep]\."""
              else java.util.regex.Pattern.quote(elementId)
    val clause =
      ("(" + pfx + """)?"?([\w~*][\w.]*)"?\s*:\s*(\(([^)]*)\)|"([^"]*)"|\[([^\]]*)\]|\S+)""").r
    clause.findAllMatchIn(q).map { m =>
      val phrase = m.group(5) != null
      val range = m.group(6) != null
      val terms =
        if (m.group(4) != null) m.group(4)
        else if (phrase) m.group(5)
        else if (range) m.group(6)
        else m.group(3)
      QueryClause(m.group(2), terms, prefixed = m.group(1) != null,
        phrase = phrase, range = range)
    }.toSeq
  }

  /** Direct index query over an arbitrary element frame with the reference's
    * field-name resolution: prefixed clauses resolve property-KEY names via
    * `keyFields`, bare clauses resolve backend field names via `rawFields`
    * (mapped-name parameters), a miss on either side matches NOTHING (the
    * backend has no such field — testRawQueries pins count 0, not an error),
    * `*` scores against every keyed column (wildcard `_all` field,
    * testWidcardQuery:1618-1636), quoted phrases hit on exact value equality
    * (STRING mapping) OR on the phrase's token sequence occurring
    * CONSECUTIVELY in the field's tokens (TEXT mapping — a Lucene phrase on
    * an analyzed field, IndexProviderTest.java:315 `text:"Hello Bob"` must
    * match "Hello Bob, are you there?"), and `[lo TO hi]` ranges hit on
    * inclusive numeric containment. Clause scores sum; all clauses must hit. */
  def indexQueryFrame(df: DataFrame, query: String,
      keyFields: Map[String, String], rawFields: Map[String, String],
      limit: Int = 50, offset: Int = 0, elementId: String = null): DataFrame = {
    val clauses = parseQuery(query, elementId)
    require(clauses.nonEmpty, s"no field:(terms) clauses in query: $query")
    def phraseTokens(c: QueryClause): Seq[String] =
      c.terms.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.length > 1).toSeq
    def consecutiveTokens(colName: String, pts: Seq[String]): Column = {
      // exists i: toks[i..i+m-1] == phrase tokens (1-based element_at)
      val toks = graft.expr.Text.tokens(col(colName))
      val m = pts.length
      val starts = sequence(lit(1), size(toks) - lit(m - 1))
      when(size(toks) >= m,
        exists(starts, i => pts.zipWithIndex.map { case (p, j) =>
          element_at(toks, i + lit(j)) === p }.reduce(_ && _)))
        .otherwise(lit(false))
    }
    def clauseScore(colName: String, c: QueryClause): Column =
      if (c.range) {
        val parts = c.terms.split("(?i)\\s+TO\\s+").map(_.trim)
        require(parts.length == 2, s"range clause needs 'lo TO hi': ${c.terms}")
        when(col(colName).cast("double").between(parts(0).toDouble, parts(1).toDouble),
          1.0).otherwise(0.0)
      } else if (c.phrase) {
        val pts = phraseTokens(c)
        val tokenHit =
          if (pts.isEmpty) lit(false) else consecutiveTokens(colName, pts)
        when(col(colName) === c.terms || tokenHit, 1.0).otherwise(0.0)
      } else if (c.terms.split("\\s+").contains("AND")) {
        // a literal uppercase AND inside a term group is the Lucene boolean
        // operator (IndexProviderTest.java:317 `text:(world AND tomorrow)`):
        // EVERY remaining term must occur, not any-of
        val kept = c.terms.split("\\s+").filter(t => t != "AND" && t != "OR")
          .mkString(" ").toLowerCase
        val condToks = kept.split("[^\\p{L}\\p{N}]+").filter(_.length > 1).distinct.toSeq
        if (condToks.isEmpty) lit(0.0)
        else when(condToks.map(t =>
          array_contains(graft.expr.Text.tokens(col(colName)), t)).reduce(_ && _),
          1.0).otherwise(0.0)
      } else tokenOverlapScore(col(colName), c.terms)
    val perClause: Seq[Column] = clauses.map { c =>
      if (c.field == "*")
        keyFields.values.toSeq.distinct.map(clauseScore(_, c))
          .reduceOption((a, b) => greatest(a, b)).getOrElse(lit(0.0))
      else (if (c.prefixed) keyFields else rawFields).get(c.field) match {
        case Some(cn) => clauseScore(cn, c)
        case None     => lit(0.0) // unresolvable backend field: no results
      }
    }
    val allHit = perClause.map(_ > 0.0).reduce(_ && _)
    val scored = df.withColumn("score", perClause.reduce(_ + _)).filter(allHit)
    // Spark rejects limit+offset > Int.MaxValue; an effectively-unbounded
    // limit shrinks by the offset without changing which rows survive
    val lim = math.min(limit.toLong, Int.MaxValue.toLong - offset).toInt
    if (offset == 0) scored.orderBy(col("score").desc, col("id").asc).limit(lim)
    else scored.orderBy(col("score").desc, col("id").asc).offset(offset).limit(lim)
  }

  /** Direct index query in Lucene syntax over one or more fields of the
    * element table, with every parsed field name taken as a column name
    * (no mapped-name indirection — the identity field map). */
  def indexQueryLucene(g: PropertyGraph, element: ElementCategory, query: String,
      limit: Int = 50, offset: Int = 0): DataFrame = {
    val table = if (element == ElementCategory.VERTEX) g.vertices else g.edges
    val fields = parseQuery(query).map(c => c.field -> c.field).toMap
    indexQueryFrame(table, query, fields, fields, limit, offset)
  }

  // ---------- mixed GEO mapping: grid-cell spatial index ----------

  /** Materialize a mixed GEO index as a grid-cell table: one row per element
    * with its point bucketed into `cellDeg`-degree cells — the engine-internal
    * stand-in for the reference's external geo backend (mixed indexes support
    * Geoshape points: docs/searchpredicates.txt:70-86). Two int cell
    * coordinates are range-filterable, so a circle query prunes to the cells
    * its bounding box covers (partition/min-max pruning when the table is
    * written sorted by cell) instead of scanning every point on earth. */
  /** The table is SELF-DESCRIBING — it records the indexed key name and the
    * cell size alongside the cells — so a mutation-time refresh can
    * re-materialize it from layout alone (the same recognition the other
    * mixed layouts get), instead of dropping the geo acceleration until the
    * caller re-materializes. */
  def materializeGeo(g: PropertyGraph, ix: IndexDef, pointCol: Column,
      cellDeg: Double = 5.0): DataFrame = {
    require(cellDeg > 0, "cell size must be positive")
    val scoped = scopedTable(g, ix)
    val lat = pointCol.getField("coords").getItem(0)
    val lon = pointCol.getField("coords").getItem(1)
    scoped.select(
      lit(ix.keys.headOption.getOrElse("")).as("key"),
      lit(cellDeg).as("cell_deg"),
      floor(lat / cellDeg).cast("int").as("cell_lat"),
      floor(lon / cellDeg).cast("int").as("cell_lon"),
      col("id"))
  }

  /** Circle lookup through the grid index: derive the circle's bounding box
    * in degrees (central angle + a lon stretch of 1/cos at the extreme
    * latitude), range-filter the cell table, semi-join the candidate ids,
    * and apply the EXACT geoWithin as a residual — the index only prunes, it
    * never changes results (same residual-filtering contract as the
    * reference's mixed-index queries). Near-polar circles degrade to a full
    * lon range (cos→0 guard), still correct. */
  def lookupGeoWithinCircle(g: PropertyGraph, geoIx: DataFrame, pointCol: Column,
      centerLat: Double, centerLon: Double, radiusKm: Double,
      cellDeg: Double = 5.0, roundScale: Option[Int] = None,
      element: ElementCategory = ElementCategory.VERTEX): DataFrame = {
    import graft.expr.Geo
    val rDeg = math.toDegrees(radiusKm / Geo.EarthRadiusKm) * 1.0001
    val latLo = centerLat - rDeg
    val latHi = centerLat + rDeg
    val extremeLat = math.min(89.9, math.max(math.abs(latLo), math.abs(latHi)))
    val lonStretch = 1.0 / math.max(1e-3, math.cos(math.toRadians(extremeLat)))
    val lonDeg = rDeg * lonStretch
    // a box crossing the antimeridian would need two cell ranges; degrade to
    // full longitude instead (the exact residual still prunes correctly — an
    // index may widen candidates, never narrow results)
    val fullLon = lonDeg >= 180.0 || latLo <= -89.0 || latHi >= 89.0 ||
      centerLon - lonDeg < -180.0 || centerLon + lonDeg > 180.0
    def cell(v: Double) = math.floor(v / cellDeg).toInt
    var cand = geoIx.filter(
      col("cell_lat") >= cell(latLo) && col("cell_lat") <= cell(latHi))
    if (!fullLon)
      cand = cand.filter(
        col("cell_lon") >= cell(centerLon - lonDeg) && col("cell_lon") <= cell(centerLon + lonDeg))
    semiJoinIds(g, cand, element)
      .filter(Geo.within(pointCol, Geo.circle(centerLat, centerLon, radiusKm), roundScale))
  }

  /** Provider capability matrix — the reference's IndexProvider.supports()
    * SPI (tc/diskstorage/indexing/IndexProvider.java; the contract pinned by
    * IndexProviderTest.testCommonSupport:415-444, which the reference's
    * ES and Lucene providers both satisfy). Management uses it to reject
    * buildMixedIndex calls the backend cannot serve, so the engine exposes
    * the same matrix even though every predicate here evaluates natively:
    *   - types: String, the fixed-width numerics, Boolean, Date/Timestamp
    *     (Instant), UUID-as-String and Geoshape are indexable; arbitrary
    *     Object types are not;
    *   - mappings: TEXT/STRING/TEXTSTRING apply to String only, everything
    *     else takes DEFAULT;
    *   - predicates: Cmp works on orderable types and STRING-mapped text,
    *     Text.CONTAINS* needs a TEXT(STRING) mapping, Text.PREFIX/REGEX
    *     need the untokenized STRING(TEXTSTRING) side, Geo.WITHIN/INTERSECT
    *     work on Geoshape, Geo.DISJOINT is not index-servable (the
    *     reference evaluates it in memory too — Geo.java:44-67).
    * Cardinality is deliberately NOT a parameter: this engine models the
    * reference's ES provider, whose supports() ignores cardinality (every
    * cardinality indexes through the same mapping matrix). Note the
    * reference's LUCENE provider is stricter — LuceneIndex.supports()
    * returns false for non-SINGLE cardinality (LuceneIndex.java:588,617) —
    * so the parameterless signature forecloses modeling a Lucene-style
    * backend; acceptable because the collection-index path here serves
    * SET/LIST natively (materializeCollection). */
  def supports(dt: org.apache.spark.sql.types.DataType,
      mapping: graft.core.Mapping = graft.core.Mapping.DEFAULT): Boolean = {
    import org.apache.spark.sql.types._
    val isGeo = dt == graft.expr.Geo.shapeType
    val typeOk = dt match {
      case StringType | LongType | IntegerType | ShortType | ByteType |
           FloatType | DoubleType | BooleanType | DateType | TimestampType => true
      case _ => isGeo
    }
    val mappingOk = mapping match {
      case graft.core.Mapping.DEFAULT => true
      case _ => dt == StringType // TEXT/STRING/TEXTSTRING are text mappings
    }
    typeOk && mappingOk
  }

  /** supports(keyInfo, predicate) — predicate ops named after [[graft.expr.P]]
    * constructors (eq/neq/lt/lte/gt/gte, textContains/textContainsPrefix/
    * textContainsRegex, textPrefix/textRegex, geoWithin/geoIntersect/
    * geoDisjoint). */
  def supportsPredicate(dt: org.apache.spark.sql.types.DataType, op: String,
      mapping: graft.core.Mapping = graft.core.Mapping.DEFAULT): Boolean = {
    import org.apache.spark.sql.types._
    import graft.core.Mapping
    if (!supports(dt, mapping)) return false
    val isGeo = dt == graft.expr.Geo.shapeType
    val isText = dt == StringType &&
      (mapping == Mapping.TEXT || mapping == Mapping.TEXTSTRING)
    val isString = dt == StringType &&
      (mapping == Mapping.STRING || mapping == Mapping.TEXTSTRING)
    op match {
      case "eq" | "neq" =>
        !isGeo && (dt != StringType || isString || mapping == Mapping.DEFAULT)
      case "lt" | "lte" | "gt" | "gte" =>
        !isGeo && dt != StringType && dt != BooleanType
      case "textContains" | "textContainsPrefix" | "textContainsRegex" =>
        isText || (dt == StringType && mapping == Mapping.DEFAULT)
      case "textPrefix" | "textRegex" =>
        isString || (dt == StringType && mapping == Mapping.DEFAULT)
      case "geoWithin" | "geoIntersect" => isGeo
      case "geoDisjoint" => false
      case _ => false
    }
  }
}

