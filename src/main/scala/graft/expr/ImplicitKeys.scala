package graft.expr

import graft.core.GraphSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Implicit keys — reference: tc/graphdb/types/system/ImplicitKey.java:28-52
  * (ID, LABEL, ADJACENT_ID, TIMESTAMP, VISIBILITY, TTL).
  *
  * `~id`/`~label` are real columns; `~adjacent` is the vertex-centric
  * `adjacent()` restriction. `~timestamp` and `~visibility` read the system
  * columns `_ts` (timestamp) / `_vis` (string) that a provenance-tracking
  * ingest writes next to the data columns — the engine treats them as plain
  * columns, so predicates on them push down like any other. `~ttl` is a
  * CATALOG constant per label (docs/advschema.txt:20-70: TTL is declared on
  * the type), resolved to a CASE expression over `label`. */
object ImplicitKeys {
  val Id = "~id"; val Label = "~label"; val Adjacent = "~adjacent"
  val Timestamp = "~timestamp"; val Visibility = "~visibility"; val Ttl = "~ttl"

  val TimestampColumn = "_ts"
  val VisibilityColumn = "_vis"

  def isImplicit(key: String): Boolean = key.startsWith("~")

  /** Does `key` resolve to a column of `df`, mirroring the analyzer's
    * resolver: case-insensitive unless `spark.sql.caseSensitive` is set.
    * The undefined-key-reads-as-NULL paths must agree with what `col(key)`
    * would resolve, or `has("Weight",...)` over a `weight` column silently
    * matches nothing instead of filtering. */
  def columnDefined(df: DataFrame, key: String): Boolean = {
    val caseSensitive =
      df.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean
    if (caseSensitive) df.columns.contains(key)
    else df.columns.exists(_.equalsIgnoreCase(key))
  }

  /** Resolved column type of `key` over `df` under the analyzer's case rule. */
  def resolvedType(df: DataFrame, key: String): Option[org.apache.spark.sql.types.DataType] = {
    val cs = df.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean
    df.schema.fields
      .find(f => if (cs) f.name == key else f.name.equalsIgnoreCase(key))
      .map(_.dataType)
  }

  /** Is `key` a SET/LIST-cardinality (collection) property over this frame?
    * The catalog decides when the key is declared — a SINGLE-cardinality key
    * whose DATA TYPE is an array (byte[]/int[] custom attributes,
    * testArrayEqualityUsingImplicitKey) compares whole-value, not
    * per-element. Undeclared array-typed columns default to collection
    * (LIST/SET is why element frames carry arrays). */
  def isCollectionKey(schema: GraphSchema, df: DataFrame, key: String): Boolean =
    if (isImplicit(key)) false
    else schema.propertyKeys.get(key) match {
      case Some(k) => k.cardinality != graft.core.Cardinality.SINGLE
      case None => resolvedType(df, key) match {
        case Some(_: org.apache.spark.sql.types.ArrayType) => true
        case _ => false
      }
    }

  /** Apply a predicate with the reference's SET/LIST semantics: on a
    * collection key the condition holds when SOME property element satisfies
    * it (TitanPredicates evaluate per property element —
    * TitanIndexTest.testCollection:1685-1755). Multi-property cells
    * (`struct<value, meta>`) compare on the value field. `keyC` is the
    * already-resolved key column (implicit/undefined handling upstream). */
  def cellPredicate(schema: GraphSchema, df: DataFrame, key: String,
      keyC: Column, p: Column => Column): Column = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    if (!isCollectionKey(schema, df, key)) p(keyC)
    else resolvedType(df, key) match {
      case Some(ArrayType(st: StructType, _)) if st.fieldNames.contains("value") =>
        coalesce(exists(keyC, x => p(x.getField("value"))), lit(false))
      case Some(ArrayType(_, _)) =>
        coalesce(exists(keyC, x => p(x)), lit(false))
      case _ => p(keyC)
    }
  }

  /** Resolve a query key over an element frame, the same way on both query
    * surfaces (GraphQuery and Traversal): `~`-prefixed keys through
    * [[resolve]] (ImplicitKey.java:28-52). An UNDEFINED key reads as NULL
    * for every element — the reference's semantics (testHasNot:
    * hasNot('abcd') matches everything, has on an undefined key matches
    * nothing), not an analysis error. */
  private[graft] def keyColumn(schema: GraphSchema, df: DataFrame, key: String,
      isVertex: Boolean): Column =
    if (isImplicit(key)) resolve(schema, df, key, isVertex)
    else if (columnDefined(df, key)) col(key)
    else lit(null)

  /** has(key): the element has a property ELEMENT under `key`
    * (GraphCentricQueryBuilder.java:99-106) — an empty collection has none. */
  private[graft] def present(schema: GraphSchema, df: DataFrame, key: String,
      isVertex: Boolean): Column = {
    val c = keyColumn(schema, df, key, isVertex)
    if (isCollectionKey(schema, df, key)) c.isNotNull && size(c) > 0 else c.isNotNull
  }

  /** hasNot(key): the collection-aware complement of [[present]] (isNull OR
    * empty on a SET/LIST key). */
  private[graft] def absent(schema: GraphSchema, df: DataFrame, key: String,
      isVertex: Boolean): Column = {
    val c = keyColumn(schema, df, key, isVertex)
    if (isCollectionKey(schema, df, key)) c.isNull || size(c) === 0 else c.isNull
  }

  /** Resolve an implicit key to a Column over an element frame. */
  def resolve(schema: GraphSchema, df: DataFrame, key: String,
      isVertex: Boolean): Column = key match {
    case Id => col("id")
    case Label => col("label")
    case Timestamp =>
      require(df.columns.contains(TimestampColumn),
        s"$Timestamp requires a '$TimestampColumn' system column (provenance-tracking ingest)")
      col(TimestampColumn)
    case Visibility =>
      require(df.columns.contains(VisibilityColumn),
        s"$Visibility requires a '$VisibilityColumn' system column")
      col(VisibilityColumn)
    case Ttl =>
      val defs: Seq[(String, Long)] =
        if (isVertex) schema.vertexLabels.values.toSeq.flatMap(v => v.ttlSeconds.map(v.name -> _))
        else schema.edgeLabels.values.toSeq.flatMap(e => e.ttlSeconds.map(e.name -> _))
      defs.foldLeft(lit(null).cast("long")) { case (acc, (name, ttl)) =>
        when(col("label") === name, lit(ttl)).otherwise(acc)
      }
    case other =>
      throw new IllegalArgumentException(s"unknown implicit key: $other")
  }

  /** The catalog's TTL evaluation instant: the pinned `ttlReadTime` when set
    * (reproducible reads), wall clock otherwise. */
  def ttlNow(schema: GraphSchema): Column =
    schema.ttlReadTime.map(lit(_)).getOrElse(current_timestamp())

  /** Auto-applied catalog-TTL scan filter: identity when no label of this
    * element kind declares a TTL or the frame carries no `_ts` provenance
    * column (nothing to expire against); otherwise the read-time expiry
    * filter. V()/E() and the traversal source call this on every scan —
    * expired elements vanish from plain reads (docs/advschema.txt:20-70). */
  def ttlAutoFilter(schema: GraphSchema, df: DataFrame, isVertex: Boolean): DataFrame = {
    val declared = if (isVertex) schema.hasVertexTtl else schema.hasEdgeTtl
    val rows =
      if (!declared || !df.columns.contains(TimestampColumn)) df
      else df.filter(ttlCatalogFilter(schema, df, isVertex, ttlNow(schema)))
    propertyTtlView(schema, rows)
  }

  /** Edge scan view under catalog TTL: the edge-label + property-key filters
    * of [[ttlAutoFilter]], PLUS the vertex-TTL interaction the reference pins
    * in testEdgeTTLLimitedByVertexTTL (TitanGraphTest.java:4918-4935): once a
    * vertex expires, ALL its incident edges are expired with it, regardless
    * of their own (possibly longer) edge TTL. Implemented as anti-joins
    * against the EXPIRED vertex set — precise (edges to merely-absent
    * endpoints keep the ghost-edge behavior of plain reads) and free when no
    * vertex label declares a TTL (the common case: identity, no join). */
  def ttlAutoFilterEdges(schema: GraphSchema, edges: DataFrame,
      vertices: DataFrame): DataFrame = {
    val e = ttlAutoFilter(schema, edges, isVertex = false)
    if (!schema.hasVertexTtl || !vertices.columns.contains(TimestampColumn)) e
    else {
      val expired = vertices
        .filter(!ttlCatalogFilter(schema, vertices, isVertex = true, ttlNow(schema)))
        .select(col("id"))
      e.join(expired.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(expired.select(col("id").as("dst")), Seq("dst"), "left_anti")
    }
  }

  /** Property-KEY TTL (docs/advschema.txt:41-55 — the reference TTLs property
    * keys independently of their element: the VALUE expires, the element
    * survives). Columnar adaptation: a declared-TTL property column reads as
    * NULL once the row's `_ts` write provenance is older than the key's TTL;
    * the row itself stays. (The reference stamps each property cell; this
    * engine's write provenance is the per-row `_ts` that GraphIO mutations
    * record, so a property shares its element's last-write time.) Identity
    * when no key declares a TTL or the frame carries no `_ts` — a pure
    * projection otherwise, no shuffle, pushdown-transparent for the
    * untouched columns. */
  def propertyTtlView(schema: GraphSchema, df: DataFrame): DataFrame = {
    if (!schema.hasPropertyTtl || !df.columns.contains(TimestampColumn)) return df
    val keys = schema.propertyKeys.values.toSeq
      .filter(k => k.ttlSeconds.isDefined && df.columns.contains(k.name))
    if (keys.isEmpty) df
    else {
      val now = ttlNow(schema)
      keys.foldLeft(df) { (d, k) =>
        // null _ts = pre-TTL-adoption row: its values must not vanish
        // retroactively (same rule as the element-TTL filter above)
        val live = col(TimestampColumn).isNull ||
          unix_micros(col(TimestampColumn)) + k.ttlSeconds.get * 1000000L > unix_micros(now)
        d.withColumn(k.name, when(live, col(k.name)))
      }
    }
  }

  /** Catalog-TTL read-time view: drop elements whose label declares a TTL and
    * whose `_ts` is older than it (cell-TTL expiry semantics of the
    * reference's storage, applied at scan time — same filter shape as
    * GraphOps.ttlView but driven by the per-type catalog). Elements of
    * labels without TTL are kept. */
  def ttlCatalogFilter(schema: GraphSchema, df: DataFrame, isVertex: Boolean,
      now: Column): Column = {
    val anyTtl =
      if (isVertex) schema.vertexLabels.values.exists(_.ttlSeconds.isDefined)
      else schema.edgeLabels.values.exists(_.ttlSeconds.isDefined)
    if (!anyTtl) lit(true) // no label declares TTL — keep all, no _ts needed
    else {
      val ttl = resolve(schema, df, Ttl, isVertex)
      // null _ts = no write-time provenance — such rows cannot expire (the
      // reference's cells always carry a timestamp; rows predating TTL
      // adoption must not vanish retroactively)
      ttl.isNull || col(TimestampColumn).isNull ||
        unix_micros(col(TimestampColumn)) + ttl * 1000000L > unix_micros(now)
    }
  }
}
