package graft.query

import graft.data.PropertyGraph
import graft.expr.P
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph-centric query builder — reference surface `TitanGraphQuery`
  * (tc/core/TitanGraphQuery.java:18-92, compiled by
  * tc/graphdb/query/graph/GraphCentricQueryBuilder.java).
  *
  * The reference's pipeline (QNF normalization → greedy index selection →
  * backend subqueries → residual filter → merge/dedup/sort/limit) collapses to a
  * declarative DataFrame plan: Catalyst performs boolean simplification,
  * predicate pushdown into the parquet scan (the moral equivalent of "fitted"
  * subqueries), and `TakeOrderedAndProject` for orderBy+limit. Index selection
  * (GraphCentricQueryBuilder.java:185-323) is subsumed by columnar pruning +
  * min/max stats; see graft.index for the materialized-index variant.
  */
final case class GraphQuery(
    graph: PropertyGraph,
    target: DataFrame,
    element: graft.core.ElementCategory = graft.core.ElementCategory.VERTEX,
    conds: Vector[Column] = Vector.empty,
    orders: Vector[Column] = Vector.empty,
    limitN: Option[Int] = None,
    eqPairs: Map[String, Any] = Map.empty,
    textPairs: Map[String, String] = Map.empty,
    // equality conditions on SET/LIST keys — candidates for the inverted
    // per-element collection index, never for composite point lookup
    collPairs: Map[String, Any] = Map.empty,
    labelEqs: Set[String] = Set.empty,
    strictIndex: Boolean = false) {

  def eqKeys: Set[String] = eqPairs.keySet

  private def isVertex: Boolean = element == graft.core.ElementCategory.VERTEX

  /** Keys resolve through ImplicitKeys.keyColumn, shared with Traversal. */
  private def keyCol(key: String): Column =
    graft.expr.ImplicitKeys.keyColumn(graph.schema, target, key, isVertex)

  /** SET/LIST predicate semantics — shared with the traversal surface
    * (ImplicitKeys.cellPredicate): on a collection key the condition holds
    * when SOME property element satisfies it; the catalog's cardinality
    * disambiguates array-valued SINGLE keys (whole-value equality). */
  private def cellPred(key: String, p: P): Column =
    graft.expr.ImplicitKeys.cellPredicate(graph.schema, target, key,
      keyCol(key), p.apply)

  private def isCollection(key: String): Boolean =
    graft.expr.ImplicitKeys.isCollectionKey(graph.schema, target, key)

  /** has(key, value) — Cmp.EQUAL; has(key, null) ≡ hasNot(key)
    * (GraphCentricQueryBuilder.java:109-116). The null branch routes through
    * hasNot DIRECTLY so collection keys get the collection-aware absence test
    * (isNull OR empty) — cellPred's exists(x.isNull) is false on an empty
    * array and on a null column coalesced to false, which would break the
    * documented equivalence on SET/LIST keys. */
  def has(key: String, value: Any): GraphQuery = {
    if (value == null) return hasNot(key)
    val coll = isCollection(key)
    copy(conds = conds :+ cellPred(key, P.eq(value)),
      // collection keys never register for composite-index point lookup:
      // the materialized index table holds the raw array column, so the
      // semi-join's whole-array equality would MISS cell matches — they
      // register for the inverted per-element path instead
      eqPairs = if (graft.expr.ImplicitKeys.isImplicit(key) || coll) eqPairs
                else eqPairs + (key -> value),
      collPairs = if (coll) collPairs + (key -> value) else collPairs)
  }

  /** has(key, predicate) — arbitrary TitanPredicate analogue. textContains
    * predicates additionally register for mixed-index selection. A bare
    * `null` second argument resolves to THIS overload (P is more specific
    * than Any), so the has(key,null) ≡ hasNot(key) rule lives here too. */
  def has(key: String, p: P): GraphQuery = if (p == null) hasNot(key) else copy(
    conds = conds :+ cellPred(key, p),
    textPairs =
      if (p.op == "textContains" && !graft.expr.ImplicitKeys.isImplicit(key) &&
          !isCollection(key))
        textPairs + (key -> String.valueOf(p.operand))
      else textPairs)

  /** has(key) — existence of a property ELEMENT (GraphCentricQueryBuilder
    * .java:99-106); an empty collection has none. */
  def has(key: String): GraphQuery =
    copy(conds = conds :+ graft.expr.ImplicitKeys.present(graph.schema, target, key, isVertex))
  def hasNot(key: String): GraphQuery =
    copy(conds = conds :+ graft.expr.ImplicitKeys.absent(graph.schema, target, key, isVertex))
  def hasNot(key: String, value: Any): GraphQuery = has(key, P.neq(value))

  def hasLabel(labels: String*): GraphQuery =
    // single-label constraints also register in labelEqs: they prove the
    // query wants ONLY that label, which makes label-scoped (onlyLabel)
    // indexes safe access paths (see selectedIndex)
    if (labels.size == 1) copy(conds = conds :+ (col("label") === labels.head),
      labelEqs = labelEqs + labels.head)
    else copy(conds = conds :+ col("label").isin(labels: _*))

  def hasId(ids: Long*): GraphQuery =
    copy(conds = conds :+ (if (ids.size == 1) col("id") === ids.head else col("id").isin(ids: _*)))

  /** interval(key, start, end) = start ≤ key < end (GraphCentricQueryBuilder.java:119-122). */
  def interval(key: String, start: Any, end: Any): GraphQuery =
    has(key, P.between(start, end))

  /** orderBy on a SINGLE-cardinality comparable key (…:132-142). Secondary calls
    * append (stable multi-key order, as the reference's OrderList). */
  def orderBy(key: String, asc: Boolean = true): GraphQuery =
    copy(orders = orders :+ (if (asc) col(key).asc else col(key).desc))

  def limit(n: Int): GraphQuery = copy(limitN = Some(n))

  /** force-index strict mode (reference: query.force-index config,
    * GraphDatabaseConfiguration.java:218 + StandardTitanTx.java:1260-1281
    * full-scan rejection): the query must be answerable from a declared
    * composite index over its equality keys, else it is rejected. In this
    * engine "index-covered" means an enabled composite index whose keys are a
    * subset of the equality conjuncts — the same cover test the reference's
    * index selector applies. */
  def forceIndex(): GraphQuery = copy(strictIndex = true)

  /** A label-scoped index (onlyLabel) is a safe access path only when the
    * query itself restricts to that exact label — its table holds one label's
    * elements, so using it elsewhere would drop matches of other labels.
    * The reference scores label-restricted indexes against the query's label
    * condition the same way (GraphCentricQueryBuilder.java:185-323,
    * label-condition handling ~:210-230). */
  private def labelCovers(ix: graft.core.IndexDef): Boolean =
    ix.onlyLabel.forall(labelEqs.contains)

  /** Automatic index selection (GraphCentricQueryBuilder.java:185-323): the
    * best ENABLED composite index whose keys are covered by the equality
    * conjuncts, whose label scope (if any) matches the query's hasLabel
    * constraint, AND whose materialized table is registered on the graph
    * (an unbacked index would make the query strictly worse — two scans of
    * the same base data instead of one pushed-down scan). Greedy best =
    * most keys covered, the reference's primary selectivity proxy. */
  private def selectedIndex: Option[graft.core.IndexDef] =
    graph.schema.compositeIndexCandidates(element, eqKeys)
      .filter(labelCovers)
      .find(ix => graph.indexTables.contains(ix.name))

  /** Collection-key equality access path: a backed ENABLED mixed index over
    * a SET/LIST key whose registered table carries the inverted per-element
    * (key, cellvalue, id) layout (Indexes.materializeCollection) — the
    * reference's collection indexing registers each property element
    * separately, so has(key, v) resolves through the index
    * (TitanIndexTest.testCollection:1685-1755). The layout is recognized by
    * its DISTINCT cellvalue column, never by the column set it shares with a
    * scalar string table (which has no per-cell rows and would wrongly
    * return empty). Usability is folded in (layout + key match), so
    * force-index and the access path agree. */
  private def selectedCollectionIndex: Option[(DataFrame, String, Any)] =
    graph.schema.indexes.values.toSeq.sortBy(_.name)
      .filter(ix => !ix.composite && ix.element == element &&
        ix.status == graft.core.SchemaStatus.ENABLED && labelCovers(ix) &&
        graph.indexTables.contains(ix.name))
      .iterator
      .flatMap { ix =>
        val table = graph.indexTables(ix.name)
        if (table.columns.toSet == Set("key", "cellvalue", "id"))
          ix.keys.find(collPairs.contains).map(k => (table, k, collPairs(k)))
        else None
      }.nextOption()

  /** The operand rendered into the index table's cell encoding: cells were
    * written `cast(<element type> as string)` at materialize time, so the
    * operand takes the SAME two-step cast (operand → declared element type →
    * string). Comparing raw `String.valueOf` forms instead would drop rows
    * whenever Scala's and Spark's renderings differ (Int 5 vs double cells
    * "5.0", Timestamp second-fraction padding) — and since the residual
    * exists() filter can only narrow, the index would CHANGE results instead
    * of just the access path. Falls back to String.valueOf when the operand
    * has no literal form or the column isn't declared on the frame. */
  private def collectionOperandCell(key: String, v: Any): Column = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val elemT = graft.expr.ImplicitKeys.resolvedType(target, key).map {
      case ArrayType(st: StructType, _) if st.fieldNames.contains("value") =>
        st("value").dataType
      case ArrayType(et, _) => et
      case dt => dt
    }
    (elemT, scala.util.Try(lit(v)).toOption) match {
      case (Some(t), Some(l)) => l.cast(t).cast("string")
      case _ => lit(String.valueOf(v))
    }
  }

  /** Restrict the (possibly pre-filtered) element base to an index-matched
    * id set — size-gated literal/broadcast/plain paths, see
    * [[graft.index.Indexes.gatedIdSemiJoin]]. */
  private def idSemiJoin(ids: DataFrame): DataFrame =
    graft.index.Indexes.gatedIdSemiJoin(target, ids)

  /** Mixed-index selection for textContains predicates: a backed ENABLED
    * mixed index whose TEXT/TEXTSTRING key carries one of the query's
    * textContains conditions. Returns the key-scoped token table, its token
    * column, and the condition's tokens (Text.CONTAINS semantics: ALL tokens
    * must occur). ALL usability validation is folded in here — recognized
    * inverted layout, ≥1 condition token — so the force-index strict check
    * and the chosen access path test the SAME predicate: if this returns
    * Some, compile() WILL take the index path (never a silent scan). Both
    * inverted layouts are accepted: (key, token, id) from materializeMixed
    * and (key, kind, value, id) from materializeTextString (token half);
    * an unrecognized layout makes the candidate unusable and selection moves
    * to the next one. */
  private def selectedTextIndex: Option[(DataFrame, Column, Seq[String])] =
    graph.schema.mixedTextIndexCandidates(element, textPairs.keySet)
      .filter(ix => labelCovers(ix) && graph.indexTables.contains(ix.name))
      .iterator
      .flatMap { ix =>
        ix.keys.find(textPairs.contains).flatMap { k =>
          // distinct: CONTAINS("green green") must behave like CONTAINS("green")
          // — the grouped count-distinct in compile() compares against the
          // number of DISTINCT condition tokens, or repeated terms would
          // match nothing
          val toks = textPairs(k).toLowerCase
            .split("[^\\p{L}\\p{N}]+").filter(_.length > 1).distinct.toSeq
          if (toks.isEmpty) None
          else {
            val table = graph.indexTables(ix.name)
            val layout: Option[(Column, DataFrame)] =
              if (table.columns.contains("token")) Some((col("token"), table))
              else if (table.columns.contains("kind") && table.columns.contains("value"))
                Some((col("value"), table.filter(col("kind") === "tok")))
              else None
            layout.map { case (tokenCol, scoped) =>
              (scoped.filter(col("key") === k), tokenCol, toks)
            }
          }
        }
      }.nextOption()

  /** Compile to a DataFrame plan. If a backed composite index covers the
    * equality conjuncts, the plan becomes: filter the (small) index table on
    * the key values → size-gated restriction of the base to those ids
    * (literal `id IN (…)`, broadcast or plain semi-join) — the same
    * shape as the reference's index point-read + element load
    * (IndexSerializer.java:511-546). ALL conditions are still applied as
    * residual filters, so an index can never change results, only access
    * paths. Orders get `id` appended as a deterministic tie-break (the
    * reference's element iterator order is storage-deterministic). */
  def dataframe: DataFrame = {
    // the strict check must test the SAME predicate the selector applies
    // (backed + label-scope-covered + usable layout + ≥1 token) — a
    // declared-but-unusable index must not satisfy force-index while the
    // query silently runs as a full scan
    if (strictIndex && selectedIndex.isEmpty && selectedTextIndex.isEmpty &&
        selectedCollectionIndex.isEmpty)
      throw new IllegalStateException(
        s"Could not find a suitable index to answer graph query (force-index); equality keys: $eqKeys")
    val base = selectedIndex match {
      case Some(ix) =>
        val matches = ix.keys.foldLeft(graph.indexTables(ix.name)) {
          (df, k) => df.filter(col(k) === lit(eqPairs(k)))
        }
        idSemiJoin(matches.select(col("id")))
      case None => selectedCollectionIndex match {
        // inverted per-element table: ids owning a cell equal to the
        // condition value (TYPED through the cell encoding — see
        // collectionOperandCell); the residual membership filter
        // re-verifies, so the index only changes the access path
        case Some((table, k, v)) =>
          val ids = table.filter(col("key") === k &&
            col("cellvalue") === collectionOperandCell(k, v))
            .select(col("id")).distinct()
          idSemiJoin(ids)
        case None => selectedTextIndexBranch
      }
    }
    val filtered = conds.foldLeft(base)((df, c) => df.filter(c))
    val ordered =
      if (orders.nonEmpty) filtered.orderBy(orders :+ col("id").asc: _*)
      else filtered
    limitN.fold(ordered)(ordered.limit)
  }

  // inverted token table: ids holding ALL condition tokens (the grouped
  // count-distinct enforces CONTAINS' conjunction); the residual
  // textContains filter re-verifies, so the index can only change the
  // access path, never the results. Layout and token validation already
  // happened in selectedTextIndex — Some here means this path is definitely
  // taken (force-index soundness).
  private def selectedTextIndexBranch: DataFrame =
    selectedTextIndex match {
      case Some((scoped, tokenCol, toks)) =>
        val ids = scoped
          .filter(tokenCol.isin(toks: _*))
          .groupBy(col("id")).agg(count_distinct(tokenCol).as("__nt"))
          .filter(col("__nt") === toks.size).select(col("id"))
        idSemiJoin(ids)
      case None => target
    }

  def vertices(): DataFrame = dataframe
  def edges(): DataFrame = dataframe
  def count(): Long = dataframe.count() // limit caps counts, as in the reference

  /** profile() — plan-shape introspection (reference QueryProfiler parity). */
  def profile(): QueryProfile = Profiler.profile(dataframe)

  /** PROPERTY element category (graph.query().properties() — properties are
    * first-class relations in the reference, TitanVertexProperty.java): the
    * filtered elements unpivoted to (element id, key, value) rows in a single
    * scan (explode of a struct array, not one scan per key). */
  def properties(keys: String*): DataFrame = {
    val base = dataframe
    val candidates = base.columns.filterNot(c =>
      c == "id" || c == "label" || c == "src" || c == "dst" || c.startsWith("_")).toSeq
    val ks = if (keys.nonEmpty) keys.toSeq else candidates
    graft.traverse.Traversal.unpivot(base, col("id"), ks)
  }
}

object GraphQuery {
  // catalog-TTL is auto-applied at the scan: expired elements never enter a
  // plain V()/E() read (identity when the catalog declares no TTL)
  def vertices(g: PropertyGraph): GraphQuery =
    GraphQuery(g, graft.expr.ImplicitKeys.ttlAutoFilter(g.schema, g.vertices, isVertex = true),
      graft.core.ElementCategory.VERTEX)
  def edges(g: PropertyGraph): GraphQuery =
    GraphQuery(g, graft.expr.ImplicitKeys.ttlAutoFilterEdges(g.schema, g.edges, g.vertices),
      graft.core.ElementCategory.EDGE)
}
