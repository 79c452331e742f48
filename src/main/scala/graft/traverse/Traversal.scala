package graft.traverse

import graft.data.PropertyGraph
import graft.expr.P
import graft.query.Direction
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.expressions.Window

/** Gremlin-subset traversal DSL compiling step lists to Catalyst plans.
  *
  * The reference executes TinkerPop 3.0.2 traversals with provider-optimized
  * steps: `has`/`order`/`range` fold into the start scan
  * (tc/graphdb/tinkerpop/optimize/HasStepFolder.java:65-154, applied by
  * TitanGraphStepStrategy.java:25-55) and frontier expansion batches into one
  * multi-vertex backend call (TitanVertexStep.java:53-98 under query.batch).
  * Here both optimizations are structural: predicates are Catalyst filters on
  * the scan (pushed down to parquet), and every hop is a set-oriented join of
  * the whole frontier against the edge table — the join IS multiQuery
  * (StandardTitanGraph.edgeMultiQuery:416-424).
  *
  * Frontier layout: the current element's columns, plus `_as_<name>_<col>`
  * columns for `as`-labeled steps and an optional `_path` array of element ids.
  * Vertex frontier: `id, label, <props>`. Edge frontier: `vid, other, dir, id,
  * src, dst, label, <props>` (anchor-oriented). Traverser multiplicity is
  * preserved (a vertex reachable twice appears twice), matching Gremlin; use
  * `dedup()` to collapse.
  */
final case class Traversal(
    graph: PropertyGraph,
    df: DataFrame,
    isVertex: Boolean,
    pathEnabled: Boolean = false,
    lastOrder: Seq[Column] = Nil,
    stored: Map[String, DataFrame] = Map.empty,
    asMeta: Map[String, Boolean] = Map.empty,
    // VERTEX label universe the current frontier can contain (None =
    // unknown/all; meaningful only on vertex frontiers — consumers compare
    // it against partitioned VERTEX labels, so edge-label sets must never
    // land here). Narrowed by hasLabel, derived from declared edge-label
    // endpoints on provable hops, reset to None otherwise. A routing hint
    // only — it scopes supernode salting (stale `None` = conservative
    // two-phase, never a wrong result). */
    frontierLabels: Option[Set[String]] = None,
    // EDGE label universe of an edge frontier (outE/inE/bothE restriction,
    // or the label of addE-created edges) — the separate domain that lets
    // inV()/outV()/otherV() re-derive the endpoint vertex universe without
    // ever confusing edge labels with vertex labels. */
    frontierEdgeLabels: Option[Set[String]] = None,
    // Element kind (vertex?) of the FIRST occurrence of each reused as-label
    // (Pop.first can target a different element kind than the latest). */
    asFirstMeta: Map[String, Boolean] = Map.empty,
    // Sack split operator: applied to each clone's sack when a traverser
    // enters a branch (TinkerPop withSack(init, split)); None = identity
    // clone. */
    sackSplit: Option[Column => Column] = None,
    // Sack merge operator as an AGGREGATE builder (e.g. F.sum, F.max —
    // TinkerPop's merge BinaryOperators are exactly these associative ops):
    // when declared, branch-merging steps coalesce traversers that land on
    // the same element with identical as/path state, combining their sacks.
    // None = no coalescing (branch results stay separate traversers). */
    sackMerge: Option[Column => Column] = None) {

  private def asCols: Seq[String] = df.columns.filter(_.startsWith("_as_")).toSeq
  private def hasPath: Boolean = df.columns.contains("_path")

  // ---------- filter steps ----------
  /** Keys resolve through ImplicitKeys.keyColumn, shared with GraphQuery. */
  private def keyCol(key: String): Column =
    graft.expr.ImplicitKeys.keyColumn(graph.schema, df, key, isVertex)
  /** has(key, null) ≡ hasNot(key) (GraphCentricQueryBuilder.java:109-116) —
    * routed through hasNot so collection keys get the collection-aware
    * absence test (isNull OR empty) instead of cellPredicate's per-element
    * exists, which is false on an empty array. */
  def has(key: String, value: Any): Traversal =
    if (value == null) hasNot(key) else has(key, P.eq(value))
  /** Per-element semantics on SET/LIST-cardinality keys, same branch as the
    * graph-centric builder (ImplicitKeys.cellPredicate — TitanPredicates
    * evaluate per property element). A bare `null` second argument resolves
    * to THIS overload (P more specific than Any) — routed to hasNot per the
    * has(key,null) rule. */
  def has(key: String, p: P): Traversal = if (p == null) hasNot(key) else copy(df = df.filter(
    graft.expr.ImplicitKeys.cellPredicate(graph.schema, df, key, keyCol(key), p.apply)))
  def has(key: String): Traversal =
    copy(df = df.filter(graft.expr.ImplicitKeys.present(graph.schema, df, key, isVertex)))
  def hasNot(key: String): Traversal =
    copy(df = df.filter(graft.expr.ImplicitKeys.absent(graph.schema, df, key, isVertex)))
  def hasLabel(ls: String*): Traversal = {
    val filtered = if (ls.size == 1) df.filter(col("label") === ls.head)
                   else df.filter(col("label").isin(ls: _*))
    // narrow the universe of the frontier's OWN domain: vertex labels on a
    // vertex frontier, edge labels on an edge frontier — never cross-domain
    if (isVertex)
      copy(df = filtered,
        frontierLabels = Some(frontierLabels.fold(ls.toSet)(_ intersect ls.toSet)))
    else
      copy(df = filtered,
        frontierEdgeLabels = Some(frontierEdgeLabels.fold(ls.toSet)(_ intersect ls.toSet)))
  }
  def hasId(ids: Long*): Traversal =
    copy(df = if (ids.size == 1) df.filter(col("id") === ids.head)
              else df.filter(col("id").isin(ids: _*)))
  def filterWhere(c: Column): Traversal = copy(df = df.filter(c))

  /** where(exists subtraversal) / where(not(...)) — semi/anti join formulation. */
  def whereExists(other: Traversal, thisKey: String = "id", otherKey: String = "id"): Traversal =
    copy(df = df.join(other.df.select(col(otherKey).as("__k")).distinct(),
      col(thisKey) === col("__k"), "left_semi"))
  def whereNotExists(other: Traversal, thisKey: String = "id", otherKey: String = "id"): Traversal =
    copy(df = df.join(other.df.select(col(otherKey).as("__k")).distinct(),
      col(thisKey) === col("__k"), "left_anti"))

  /** Run `step` from this frontier with source provenance — the shared
    * engine behind every traversal-valued predicate and branch. A reserved
    * `as(tag)` rides through the hops; the result is the stepped traversal
    * with the tag's carry columns dropped, and the distinct ids (`__sid`) of
    * the source elements for which `step` yields ≥1 result. Consumers
    * semi/anti-join those ids through [[splitOn]] (never a count —
    * emptiness is all Gremlin asks). */
  private def subRun(step: Traversal => Traversal, tag: String): (Traversal, DataFrame) = {
    val stepped = step(this.as(tag))
    val carry = stepped.df.columns.filter(_.startsWith(s"_as_${tag}_")).toSeq
    (stepped.copy(df = stepped.df.drop(carry: _*)),
      stepped.df.select(col(s"_as_${tag}_id").as("__sid")).distinct())
  }

  /** Split this frontier on [[subRun]]'s matched source ids: (the rows
    * whose id matched, the rest) — a left-semi and a left-anti join on one
    * id frame. */
  private def splitOn(ids: DataFrame): (DataFrame, DataFrame) =
    (df.join(ids, col("id") === col("__sid"), "left_semi"),
      df.join(ids, col("id") === col("__sid"), "left_anti"))

  /** where(subTraversal) — keep traversers whose sub-traversal produces at
    * least one result (TinkerPop `where(out('knows'))`). */
  def whereSub(step: Traversal => Traversal): Traversal =
    copy(df = splitOn(subRun(step, "__whr")._2)._1)

  /** where(not(subTraversal)) — the negated form (anti-join). */
  def whereNotSub(step: Traversal => Traversal): Traversal =
    copy(df = splitOn(subRun(step, "__whr")._2)._2)

  /** where(sub.count().is(p)) — keep traversers whose sub-traversal yields a
    * RESULT COUNT satisfying `p` (TinkerPop `where(__.out().count().is(gt(2)))`
    * — the count-valued form of [[whereSub]], which only asks emptiness).
    * Compiled as one provenance-keyed aggregate + a left join back: elements
    * with NO sub-results count 0 (so `P.eq(0)` selects them — semantics an
    * emptiness semi-join cannot express). Map-side combinable; the join key
    * is the source id.
    *
    * Per-TRAVERSER semantics under duplication: when the frontier holds the
    * same element twice (e.g. reached from two parents), each duplicate sees
    * the count of ONE sub-run — so the sub spawns from the id-DEDUPED
    * frontier and the per-element count left-joins back onto every
    * duplicate. (An id-keyed aggregate over the raw frontier would SUM the
    * duplicates' counts and apply the inflated total to each.) Like
    * [[whereSub]], the sub is treated as element-pure: among same-id
    * duplicates differing only in path/as history, one representative row
    * spawns the sub. */
  def whereCount(p: graft.expr.P)(step: Traversal => Traversal): Traversal = {
    val once = copy(df = df.dropDuplicates("id"))
    val counts = step(once.as("__whc")).df
      .groupBy(col("_as___whc_id").as("__sid")).agg(F.count(lit(1)).as("__n"))
    copy(df = df.join(counts, col("id") === col("__sid"), "left")
      .filter(p.apply(F.coalesce(col("__n"), lit(0L))))
      .drop("__sid", "__n"))
  }

  /** where('a', P, 'b') — TinkerPop WherePredicateStep over two as-label
    * BINDINGS (`where("a", P.neq("b"))`): keep traversers whose `a` binding
    * compares true against their own `b` binding. Elements compare by id
    * (the reference routes this through TinkerPop's element equality, which
    * is id equality — tc/graphdb/tinkerpop/TitanBlueprintsGraph semantics).
    * A REUSED label resolves through the given Pop — LAST by default (the
    * scope default TinkerPop applies inside where(), same as plain select);
    * FIRST pins the earliest occurrence (`where(select(Pop.first,'a')…)`).
    * Pop.ALL is not a single binding and is rejected, as in the reference.
    * Pure per-row filter on carried id columns — no join, no shuffle. */
  def whereLabels(a: String, cmp: (Column, Column) => Column, b: String,
      popA: Pop = Pop.Last, popB: Pop = Pop.Last): Traversal =
    copy(df = df.filter(cmp(popBinding(a, popA)._1, popBinding(b, popB)._1)))

  /** where('a', P, 'b').by(key) — the by()-MODULATED WherePredicateStep:
    * the predicate compares the two bindings' `key` property values instead
    * of the elements themselves (TinkerPop
    * `where('a', gt('b')).by('totalprice')`). Each binding's value joins
    * back from its element table on the carried id (the same
    * resolve-at-use scheme as select().by()); both joins are equi-joins on
    * ids, broadcast/AQE-planned — never a per-traverser lookup. Pop
    * resolution as in [[whereLabels]]. */
  def whereLabelsBy(a: String, cmp: (Column, Column) => Column, b: String,
      key: String, popA: Pop = Pop.Last, popB: Pop = Pop.Last): Traversal = {
    val (ca, va) = popBinding(a, popA)
    val (cb, vb) = popBinding(b, popB)
    def side(isV: Boolean, tag: String) =
      (if (isV) graph.vertices else graph.edges)
        .select(col("id").as(s"__wb${tag}_id"), col(key).as(s"__wb${tag}_v"))
    copy(df = df
      .join(side(va, "a"), ca === col("__wba_id"))
      .join(side(vb, "b"), cb === col("__wbb_id"))
      .filter(cmp(col("__wba_v"), col("__wbb_v")))
      .drop("__wba_id", "__wba_v", "__wbb_id", "__wbb_v"))
  }

  /** Resolve one as-label binding under Pop: the occurrence's id column and
    * whether that occurrence is a vertex. */
  private def popBinding(name: String, pop: Pop): (Column, Boolean) = {
    val idc = s"_as_${name}_id"
    val allc = s"_as_${name}_ids"
    require(df.columns.contains(idc), s"no as('$name') label in traversal")
    pop match {
      case Pop.All => throw new IllegalArgumentException(
        "where() compares single bindings; Pop.ALL is a list — use selectPop")
      case Pop.First if df.columns.contains(allc) =>
        (col(allc).getItem(0), asFirstMeta.getOrElse(name, true))
      case Pop.First => (col(idc), asFirstMeta.getOrElse(name, true))
      case _ => (col(idc), asMeta.getOrElse(name, true))
    }
  }

  /** local(step.groupCount().by(key)) — the groupCount runs in PER-SOURCE-
    * ELEMENT scope (TinkerPop LocalStep over GroupCountStep): one
    * (source, key, count) row per source element and key value, where a
    * bare [[groupCount]] folds ONE global map over the whole frontier.
    * Sources whose sub-traversal is empty yield no rows (an empty local
    * map). Compiled as a single aggregate keyed by (carried source id,
    * key) — provenance rides as a carry column through the hops, never a
    * per-element subquery. */
  def localGroupCount(step: Traversal => Traversal, key: String): DataFrame = {
    val stepped = step(this.as("__lgc"))
    stepped.df
      .groupBy(col("_as___lgc_id").as("source"), col(key).as(key))
      .agg(F.count(lit(1)).as("count"))
  }

  // ---------- hops ----------
  def out(labels: String*): Traversal = hop(Direction.OUT, labels, toVertex = true)
  def in(labels: String*): Traversal = hop(Direction.IN, labels, toVertex = true)
  def both(labels: String*): Traversal = hop(Direction.BOTH, labels, toVertex = true)
  def outE(labels: String*): Traversal = hop(Direction.OUT, labels, toVertex = false)
  def inE(labels: String*): Traversal = hop(Direction.IN, labels, toVertex = false)
  def bothE(labels: String*): Traversal = hop(Direction.BOTH, labels, toVertex = false)
  def inV(): Traversal = edgeToVertex("dst")
  def outV(): Traversal = edgeToVertex("src")
  def otherV(): Traversal = edgeToVertex("other")
  /** bothV(): BOTH endpoints per edge — two traversers per edge (Gremlin
    * multiplicity), as one union of the two endpoint joins. */
  def bothV(): Traversal = {
    val o = outV()
    val i = inV()
    o.copy(df = o.df.unionByName(i.df, allowMissingColumns = true),
      frontierLabels = for { a <- o.frontierLabels; b <- i.frontierLabels } yield a union b)
  }

  private def hasSack: Boolean = df.columns.contains("_sack")
  private def sackCarry: Seq[Column] = if (hasSack) Seq(col("_sack")) else Nil
  private def carryCols: Seq[Column] =
    asCols.map(col) ++ (if (hasPath) Seq(col("_path")) else Nil) ++ sackCarry

  private def hop(d: Direction, labels: Seq[String], toVertex: Boolean): Traversal = {
    require(isVertex, s"$d hop requires a vertex frontier")
    val pathInit: Seq[Column] =
      if (pathEnabled && !hasPath) Seq(F.array(col("id")).as("_path"))
      else if (hasPath) Seq(col("_path")) else Nil
    val f = df.select(col("id").as("_from") +: (asCols.map(col) ++ pathInit ++ sackCarry): _*)
    val e0 = graft.expr.ImplicitKeys.ttlAutoFilterEdges(
      graph.schema, graph.edges, graph.vertices)
    val e = if (labels.isEmpty) e0
            else if (labels.size == 1) e0.filter(col("label") === labels.head)
            else e0.filter(col("label").isin(labels: _*))
    // unidirected labels are visible only from their out-vertex — the IN
    // orientation drops them (docs/advschema.txt:96-103)
    val uni = graph.schema.unidirectedLabels
    def dropUni(df0: DataFrame) =
      if (uni.isEmpty) df0 else df0.filter(!col("label").isin(uni: _*))
    def orient(srcCol: String, dstCol: String, tag: String) = {
      val base = if (tag == "IN") dropUni(e) else e
      base.select(Seq(col(srcCol).as("vid"), col(dstCol).as("other"), lit(tag).as("dir"),
        col("id"), col("src"), col("dst"), col("label")) ++
        graph.edgePropColumns.map(col): _*)
    }
    val orientedE = d match {
      case Direction.OUT => orient("src", "dst", "OUT")
      case Direction.IN => orient("dst", "src", "IN")
      case Direction.BOTH =>
        // self-loops traverse TWICE under BOTH (once per orientation) —
        // TinkerPop both()/bothE() semantics, and the reference's
        // testSelfLoop pins OUT=1, IN=1, BOTH=2 (its loop dedup applies
        // only to single-direction queries, StandardTitanTx.java:1054-1071)
        orient("src", "dst", "OUT").unionAll(orient("dst", "src", "IN"))
    }
    val joined = f.join(orientedE, col("_from") === col("vid"))
    // Post-hop frontier label universe, where PROVABLE from the catalog's
    // declared edge-label endpoints (None = conservative unknown): an OUT
    // hop lands on dst labels, IN on src labels, BOTH on their union. Keeps
    // supernode-salting scoped across hops instead of resetting per hop.
    val (wantSrc, wantDst) = d match {
      case Direction.OUT => (false, true)
      case Direction.IN => (true, false)
      case Direction.BOTH => (true, true)
    }
    if (!toVertex) {
      val cols = Seq("vid", "other", "dir", "id", "src", "dst", "label").map(col) ++
        graph.edgePropColumns.map(col) ++ asCols.map(col) ++
        (if (pathEnabled) Seq(F.concat(col("_path"), F.array(col("id"))).as("_path")) else Nil) ++
        sackCarry
      // the edge frontier's EDGE-label universe is the hop's restriction;
      // the vertex universe resets (an edge frontier has no vertex labels)
      copy(df = joined.select(cols: _*), isVertex = false, lastOrder = Nil,
        frontierLabels = None,
        frontierEdgeLabels = if (labels.nonEmpty) Some(labels.toSet) else None)
    } else {
      val v = graph.vertices.alias("V")
      val res = joined.join(v, col("other") === col("V.id"))
      val cols = Seq(col("V.*")) ++ asCols.map(col) ++
        (if (pathEnabled) Seq(F.concat(col("_path"), F.array(col("V.id"))).as("_path")) else Nil) ++
        sackCarry
      copy(df = res.select(cols: _*), isVertex = true, lastOrder = Nil,
        frontierLabels = graph.schema.hopEndpointLabels(labels, wantSrc, wantDst),
        frontierEdgeLabels = None)
    }
  }

  private def edgeToVertex(endpoint: String): Traversal = {
    require(!isVertex, "inV/outV/otherV require an edge frontier")
    val f = df.select(col(endpoint).as("_to") +: carryCols: _*)
    val v = graph.vertices.alias("V")
    val res = f.join(v, col("_to") === col("V.id"))
    val cols = Seq(col("V.*")) ++ asCols.map(col) ++
      (if (hasPath) Seq(F.concat(col("_path"), F.array(col("V.id"))).as("_path")) else Nil) ++
      sackCarry
    // when the edge frontier's EDGE-label universe is tracked, the
    // endpoint's vertex-label universe is provable from the catalog's
    // declared endpoints ("other" can be either side → union of both)
    val target = frontierEdgeLabels.flatMap { els =>
      val (wantSrc, wantDst) = endpoint match {
        case "src" => (true, false)
        case "dst" => (false, true)
        case _ => (true, true)
      }
      graph.schema.hopEndpointLabels(els.toSeq, wantSrc, wantDst)
    }
    copy(df = res.select(cols: _*), isVertex = true, lastOrder = Nil,
      frontierLabels = target, frontierEdgeLabels = None)
  }

  // ---------- modulation / projection ----------
  /** as(name) — label the current step. Only the element ID is carried through
    * subsequent joins (`_as_<name>_id`); `select` re-resolves full element
    * rows from the graph by id at projection time, so a multi-label traversal
    * does not drag label-count × column-count extra columns through every hop
    * (TinkerPop path processors keep element references, not copies).
    *
    * A REUSED label (TinkerPop allows `as('x')…as('x')`) keeps every
    * occurrence: `_as_<name>_id` tracks the latest (plain `select` = Pop.last,
    * the TinkerPop default for repeated labels) while `_as_<name>_ids`
    * accumulates the full occurrence list for [[selectPop]] — one extra
    * 8-byte array cell per reuse, only materialized when a label actually
    * repeats. */
  def as(name: String): Traversal = {
    val idc = s"_as_${name}_id"
    val allc = s"_as_${name}_ids"
    val d =
      if (!df.columns.contains(idc)) df.withColumn(idc, col("id"))
      else if (df.columns.contains(allc))
        df.withColumn(allc, F.array_append(col(allc), col("id")))
          .withColumn(idc, col("id"))
      else
        df.withColumn(allc, F.array(col(idc), col("id")))
          .withColumn(idc, col("id"))
    copy(df = d, asMeta = asMeta + (name -> isVertex),
      asFirstMeta = if (asFirstMeta.contains(name)) asFirstMeta
        else asFirstMeta + (name -> isVertex))
  }

  /** select(Pop, name) — Pop semantics over a repeated `as` label (TinkerPop
    * Pop.first/last/all, tp SelectOneStep): FIRST resolves the earliest
    * occurrence's element, LAST the latest (≡ plain `select`), ALL yields the
    * occurrence id list as one comma-joined string column `<name>_ids`
    * (stringified — list cells don't survive the driver's canonicalizer).
    * First/last resolution is the same id-carry + join-back-at-projection
    * scheme as `select` — Pop costs nothing while the traversal streams. */
  def selectPop(name: String, pop: Pop): DataFrame = {
    val idc = s"_as_${name}_id"
    val allc = s"_as_${name}_ids"
    require(df.columns.contains(idc), s"no as('$name') label in traversal")
    val occurs = df.columns.contains(allc)
    pop match {
      case Pop.All =>
        val ids = if (occurs) col(allc) else F.array(col(idc))
        df.select(F.concat_ws(",", ids.cast("array<string>")).as(s"${name}_ids"))
      case Pop.First | Pop.Last =>
        val isFirst = pop == Pop.First
        val pick = if (isFirst && occurs) col(allc).getItem(0) else col(idc)
        val isV = if (isFirst) asFirstMeta.getOrElse(name, true) else asMeta.getOrElse(name, true)
        val keep = elementKeep(isV)
        val base = (if (isV) graph.vertices else graph.edges)
          .select(keep.map(c => col(c).as(s"__pop_$c")): _*)
        df.join(base, pick === col("__pop_id"))
          .select(keep.map(c => col(s"__pop_$c").as(s"${name}_$c")): _*)
    }
  }

  private def elementKeep(isV: Boolean): Seq[String] =
    if (isV) Seq("id", "label") ++ graph.vertexPropColumns
    else Seq("id", "src", "dst", "label") ++ graph.edgePropColumns

  /** select('a','b') → flat columns `<name>_<col>` per saved step. Each label
    * joins the graph's element table back on the carried id — ids stream
    * through the traversal, full rows materialize only here. */
  def select(names: String*): DataFrame = {
    var cur = df
    val out = Seq.newBuilder[Column]
    names.foreach { n =>
      val idc = s"_as_${n}_id"
      require(cur.columns.contains(idc), s"no as('$n') label in traversal")
      val keep = elementKeep(asMeta.getOrElse(n, true))
      val base = (if (asMeta.getOrElse(n, true)) graph.vertices else graph.edges)
        .select(keep.map(c => col(c).as(s"__sel_${n}_$c")): _*)
      cur = cur.join(base, col(idc) === col(s"__sel_${n}_id"))
      out ++= keep.map(c => col(s"__sel_${n}_$c").as(s"${n}_$c"))
    }
    cur.select(out.result(): _*)
  }

  /** select('a').by('name') — by-modulated select (TinkerPop SelectStep with
    * by()): each label contributes only the named property. Indexed join
    * aliases allow the same label twice with different keys. */
  def selectBy(pairs: (String, String)*): DataFrame = {
    var cur = df
    val out = Seq.newBuilder[Column]
    pairs.zipWithIndex.foreach { case ((n, k), i) =>
      val idc = s"_as_${n}_id"
      require(cur.columns.contains(idc), s"no as('$n') label in traversal")
      val base = (if (asMeta.getOrElse(n, true)) graph.vertices else graph.edges)
        .select(col("id").as(s"__sb${i}_id"), col(k).as(s"__sb${i}_v"))
      cur = cur.join(base, col(idc) === col(s"__sb${i}_id"))
      out += col(s"__sb${i}_v").as(s"${n}_$k")
    }
    cur.select(out.result(): _*)
  }

  // ---------- by()-modulation (traversal-valued by) ----------
  /** Correlated by()-core: run `step` from this frontier with id provenance,
    * aggregate `value` per source element, left-join the scalar back onto the
    * frontier as `__byv`. Sources whose sub-traversal is empty get `default`
    * (Gremlin by(out().count()) yields 0 there). One aggregate + one join —
    * never a per-element subquery. */
  private def bySubValue(step: Traversal => Traversal, value: Column,
      default: Column): DataFrame = {
    val stepped = step(this.as("__by"))
    val vals = stepped.df.groupBy(col("_as___by_id").as("__bid"))
      .agg(value.as("__byv"))
    df.join(vals, col("id") === col("__bid"), "left")
      .withColumn("__byv", F.coalesce(col("__byv"), default))
      .drop("__bid")
  }

  /** order().by(subTraversal) — traversal-valued ordering (TinkerPop
    * `order().by(outE().count(), desc)`): each element sorts by an aggregate
    * over a sub-traversal rooted at it; ties break on id. `value` is the
    * aggregate over the stepped frontier (count, sum('weight'), …). */
  def orderBySub(step: Traversal => Traversal, value: Column = F.count(lit(1)),
      asc: Boolean = true, default: Column = lit(0L)): Traversal = {
    // the sort value stays aboard as a carry column so a following
    // range()/skip() re-sorts by THIS order (the Gremlin contract), not by
    // id; a prior orderBySub's carry is dropped first (re-ordering replaces
    // the order — two same-named columns would be ambiguous). range/skip
    // retire the column once the slice is taken.
    val withV = bySubValue(step, value, default)
      .drop("_by_ord").withColumnRenamed("__byv", "_by_ord")
    val o = Seq(if (asc) col("_by_ord").asc else col("_by_ord").desc, col("id").asc)
    copy(df = withV.orderBy(o: _*), lastOrder = o)
  }

  /** group().by(key).by(subTraversal) — keys from the element, per-element
    * values computed by a sub-traversal, folded per group (TinkerPop
    * `group().by('k').by(out().count())` shape, group fold ⇒ `groupAgg`). */
  def groupBySub(key: String, step: Traversal => Traversal,
      value: Column = F.count(lit(1)), groupAgg: Column => Column = F.sum,
      default: Column = lit(0L)): DataFrame =
    bySubValue(step, value, default)
      .groupBy(keyCol(key).as(key))
      .agg(groupAgg(col("__byv")).as("value"))

  /** group().by(keySubTraversal) — by-modulation on the group KEY, not the
    * value (TinkerPop `group().by(out('placed').count())`): each element's
    * key is an aggregate over a sub-traversal rooted at it; elements fold
    * per computed key. `keyValue` is that per-element aggregate (elements
    * with an empty sub-traversal key as `default`); `groupAgg` folds each
    * group (count of members by default). Same one-aggregate-plus-one-join
    * compilation as every by()-modulation — never a per-element subquery. */
  def groupByKeySub(keyStep: Traversal => Traversal,
      keyValue: Column = F.count(lit(1)), default: Column = lit(0L),
      groupAgg: Column = F.count(lit(1))): DataFrame =
    bySubValue(keyStep, keyValue, default)
      .groupBy(col("__byv").as("key"))
      .agg(groupAgg.as("value"))

  /** group().by(outerKey).by(group().by(innerKey).by(valueAgg)) — the NESTED
    * group modulator chain (TinkerPop ProcessStandardSuite GroupTest
    * g_V_group_byXlabelX_byXgroup_byXnameX..., a map-of-maps result). The
    * inner group is a reduce over each outer group's traverser stream
    * COLLECTIVELY (TinkerPop folds the inner GroupStep's side-effect across
    * the whole outer bucket), so the relational form is exact: one row per
    * (outerKey(source), innerKey(destination)) with the folded value — a
    * SINGLE two-key aggregate after the sub-traversal, never a per-element
    * subquery or a map-merge loop. `value` is the inner by()-modulated fold
    * (count by default; any aggregate over the destination frontier). */
  def groupNested(outerKey: String, step: Traversal => Traversal,
      innerKey: String, value: Column = F.count(lit(1))): DataFrame = {
    val stepped = step(this.as("__gn"))
    // recover the SOURCE element's outer key by id-join (the sub-traversal's
    // frontier carries provenance ids, not source properties — same shape
    // as projectSubs); then one (outer, inner) aggregate
    val src = df.select(col("id").as("__gnid"), keyCol(outerKey).as("key"))
    stepped.df
      .withColumn("__gnk", stepped.keyCol(innerKey))
      .join(src, col("_as___gn_id") === col("__gnid"))
      .groupBy(col("key"), col("__gnk").as("key2"))
      .agg(value.as("value"))
  }

  /** project('a','b').by(subTraversal)... — one output column per named
    * field, each a per-element aggregate of its own sub-traversal (TinkerPop
    * by-modulated project). Sub-traversals run independently and join back on
    * the element id — k fields cost k aggregate-joins, never a k-way
    * cartesian. Plain-column fields use `project` directly. */
  def projectSubs(idField: (String, Column),
      fields: (String, Traversal => Traversal, Column, Column)*): DataFrame = {
    val withVals = fields.zipWithIndex.foldLeft(df) {
      case (cur, ((_, step, value, default), i)) =>
        val stepped = step(this.as(s"__pj$i"))
        val vals = stepped.df.groupBy(col(s"_as___pj${i}_id").as(s"__pjk$i"))
          .agg(value.as(s"__pjv$i"))
        cur.join(vals, col("id") === col(s"__pjk$i"), "left")
          .withColumn(s"__pjv$i", F.coalesce(col(s"__pjv$i"), default))
          .drop(s"__pjk$i")
    }
    withVals.select(idField._2.as(idField._1) +:
      fields.zipWithIndex.map { case ((n, _, _, _), i) => col(s"__pjv$i").as(n) }: _*)
  }

  def path(): DataFrame = df.select(col("_path").as("path"))

  /** path().by(key) — each path element rendered by a property instead of its
    * id (Gremlin PathStep by-modulation). Resolution: posexplode the bounded
    * path array, one join against the (vertex ∪ edge) id→value map, regroup
    * by a per-row key and re-sort by position. The join is id-keyed (shuffle
    * or AQE-broadcast of the value map's projection); path length bounds the
    * explode fan-out, so no row amplification beyond hops. */
  def pathBy(key: String): DataFrame = {
    require(hasPath, "pathBy requires withPath traversal source")
    def side(t: DataFrame) =
      if (t.columns.contains(key))
        Some(t.select(col("id").as("__pid"), col(key).cast("string").as("__pv")))
      else None
    val lookup = (side(graph.vertices) ++ side(graph.edges))
      .reduceOption(_.unionByName(_))
      .getOrElse(sys.error(s"pathBy: no element set carries '$key'"))
    val rows = df.select(col("_path")).withColumn("__rid", F.monotonically_increasing_id())
    // LEFT join + id-string fallback: a path element missing the key keeps its
    // slot (Gremlin raises there; we preserve arity with the id as placeholder
    // rather than silently shortening or dropping the path).
    rows.select(col("__rid"), F.posexplode(col("_path")).as(Seq("__pos", "__pid")))
      .join(lookup, Seq("__pid"), "left")
      .withColumn("__pv", F.coalesce(col("__pv"), col("__pid").cast("string")))
      .groupBy(col("__rid"))
      .agg(F.array_sort(F.collect_list(F.struct(col("__pos"), col("__pv")))).as("__s"))
      .select(F.transform(col("__s"), s => s.getField("__pv")).as("path"))
  }

  // ---------- sack (per-traverser accumulator) ----------
  /** withSack(init) — attach a per-traverser accumulator (TinkerPop sack with
    * split = identity, no merge; the reference runs SackStep through its
    * TinkerPop integration). The sack rides every hop/filter/order like an
    * `as`-label, adding one column to the frontier — no extra shuffle. */
  def withSack(init: Column): Traversal = copy(df = df.withColumn("_sack", init))

  /** withSack(init, split, mergeAgg) — full TinkerPop SackStep semantics:
    * `split` transforms each clone's sack when a traverser enters a branch
    * (union/choose/coalesce; identity clone when None), and `mergeAgg` is the
    * merge operator applied when branch results COALESCE — traversers landing
    * on the same element with identical as/path state combine their sacks
    * (TinkerPop's bulking merge, whose operators are exactly the associative
    * aggregates: pass F.sum/F.max/F.min). With no mergeAgg, branch results
    * stay separate traversers — the split-only behavior. */
  def withSack(init: Column, split: Option[Column => Column],
      mergeAgg: Option[Column => Column]): Traversal =
    copy(df = df.withColumn("_sack", init), sackSplit = split, sackMerge = mergeAgg)

  /** Branch-entry sack transform (clone-time split operator). */
  private def sackBranchEntry(d: DataFrame): DataFrame = sackSplit match {
    case Some(f) if d.columns.contains("_sack") => d.withColumn("_sack", f(col("_sack")))
    case _ => d
  }

  /** Post-branch coalescing merge: group traversers identical in EVERYTHING
    * but the sack (element columns, as-history, path) and combine sacks with
    * the declared aggregate. One hash aggregate keyed by the frontier's
    * columns — map-side combinable, no window. Frontiers carrying a
    * map-typed property column skip the merge (Spark cannot group by maps);
    * branch results then stay separate traversers — the documented
    * no-merge behavior, never an error. */
  private def mergeSacks(d: DataFrame): DataFrame = sackMerge match {
    case Some(agg) if d.columns.contains("_sack") =>
      def hasMap(t: org.apache.spark.sql.types.DataType): Boolean = t match {
        case _: org.apache.spark.sql.types.MapType => true
        case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMap(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
        case _ => false
      }
      val keys = d.schema.fields.filterNot(_.name == "_sack")
      if (keys.exists(f => hasMap(f.dataType))) d
      else d.groupBy(keys.map(f => col(f.name)).toSeq: _*).agg(agg(col("_sack")).as("_sack"))
    case _ => d
  }

  /** sack-update step: fold the current element into the accumulator, e.g.
    * `sackOp(_ + col("weight"))` ≡ Gremlin `sack(sum).by('weight')`. */
  def sackOp(f: Column => Column): Traversal = {
    require(hasSack, "withSack(init) must precede sackOp")
    copy(df = df.withColumn("_sack", f(col("_sack"))))
  }

  /** sack() terminal — the accumulator value per surviving traverser. */
  def sackValues(): DataFrame = df.select(col("_sack").as("sack"))

  /** simplePath — keep only traversers that never revisit an element. */
  def simplePath(): Traversal = {
    require(hasPath, "simplePath requires withPath traversal source")
    copy(df = df.filter(F.size(col("_path")) === F.size(F.array_distinct(col("_path")))))
  }

  /** cyclicPath — keep only traversers that DID revisit an element (Gremlin
    * CyclicPathStep, the complement of simplePath). */
  def cyclicPath(): Traversal = {
    require(hasPath, "cyclicPath requires withPath traversal source")
    copy(df = df.filter(F.size(col("_path")) =!= F.size(F.array_distinct(col("_path")))))
  }

  /** tree() — the traversal's paths grouped under their root element (Gremlin
    * TreeStep materializes the same information as a nested map; rows
    * (root, path) are its relational form). */
  def tree(): DataFrame = {
    require(hasPath, "tree requires withPath traversal source")
    df.select(col("_path").getItem(0).as("root"), col("_path").as("path"))
  }

  /** tree().by(key) — TreeStep with by()-modulation (TinkerPop
    * ProcessStandardSuite TreeTest g_V_out_out_tree_byXnameX): every node of
    * the tree rendered by a property instead of its id. Same compilation as
    * [[pathBy]] — posexplode the bounded path array, ONE id-keyed join
    * against the (vertex ∪ edge) id→value projection, regroup and re-sort
    * by position — with the root kept as its own rendered column (rows
    * (root, path) are the relational form of the nested tree map, exactly
    * as [[tree]]). A path element missing the key keeps its slot with the
    * id-string fallback, preserving arity. */
  def treeBy(key: String): DataFrame = {
    require(hasPath, "treeBy requires withPath traversal source")
    def side(t: DataFrame) =
      if (t.columns.contains(key))
        Some(t.select(col("id").as("__pid"), col(key).cast("string").as("__pv")))
      else None
    val lookup = (side(graph.vertices) ++ side(graph.edges))
      .reduceOption(_.unionByName(_))
      .getOrElse(sys.error(s"treeBy: no element set carries '$key'"))
    val rows = df.select(col("_path")).withColumn("__rid", F.monotonically_increasing_id())
    rows.select(col("__rid"), F.posexplode(col("_path")).as(Seq("__pos", "__pid")))
      .join(lookup, Seq("__pid"), "left")
      .withColumn("__pv", F.coalesce(col("__pv"), col("__pid").cast("string")))
      .groupBy(col("__rid"))
      .agg(F.array_sort(F.collect_list(F.struct(col("__pos"), col("__pv")))).as("__s"))
      .select(F.transform(col("__s"), s => s.getField("__pv")).as("path"))
      .select(F.element_at(col("path"), 1).as("root"), col("path"))
  }

  /** project('a' -> expr, ...) — named value projection per traverser
    * (Gremlin project().by() with explicit by-expressions). */
  def project(fields: (String, Column)*): DataFrame =
    df.select(fields.map { case (n, c) => c.as(n) }: _*)

  /** local(step).limit(n) — the sub-traversal runs in per-element scope, so
    * the limit applies PER SOURCE ELEMENT, not globally (Gremlin LocalStep's
    * canonical use). Compiled as a provenance-window top-n: row_number over
    * the source element id with a deterministic order, pre-shuffle-limited by
    * Spark's WindowGroupLimit. */
  def localLimit(n: Int, orderCols: Seq[Column] = Seq(col("id").asc))(
      step: Traversal => Traversal): Traversal =
    localRange(0, n, orderCols)(step)

  /** local(step).range(lo, hi) — the per-source-element slice [lo, hi),
    * 0-based (the reference's `local(__.outE().range(10, 20))` — LocalStep
    * over a RangeGlobalStep, TitanGraphTest.java
    * testTinkerPopOptimizationStrategies). Same provenance-window
    * compilation as the limit form: row_number over the source element id,
    * WindowGroupLimit pre-limits both exchange sides at `hi`. */
  def localRange(lo: Int, hi: Int, orderCols: Seq[Column] = Seq(col("id").asc))(
      step: Traversal => Traversal): Traversal = {
    val stepped = step(this.as("__local"))
    val w = Window.partitionBy(col("_as___local_id"))
      .orderBy(orderCols.map(Traversal.normalizeOrder): _*)
    val limited = stepped.df.withColumn("__rn", F.row_number().over(w))
      .filter(col("__rn") > lo && col("__rn") <= hi).drop("__rn")
    val clean = limited.drop(limited.columns.filter(_.startsWith("_as___local_")).toSeq: _*)
    copy(df = clean)
  }

  /** sample(n) — deterministic pseudo-random sample: order by the md5 of the
    * element id + seed, take n. Gremlin's sample is random per run; a
    * content-keyed hash order makes it reproducible across engines and runs
    * (same trick as the reference's deterministic test fixtures). */
  def sample(n: Int, seed: String = "42"): Traversal =
    copy(df = df.orderBy(F.md5(F.concat(col("id").cast("string"), lit(seed))), col("id")).limit(n))

  /** coin(p) — deterministic per-element Bernoulli filter at granularity
    * 1/256: keep elements whose md5(id+seed) first byte < floor(p·256).
    * Cross-engine reproducible (md5 of the same string everywhere). */
  def coin(p: Double, seed: String = "42"): Traversal =
    if (p >= 1.0) this
    else {
      val threshold = f"${math.max(0, (p * 256).toInt)}%02x"
      copy(df = df.filter(
        F.substring(F.md5(F.concat(col("id").cast("string"), lit(seed))), 1, 2) < lit(threshold)))
    }

  def values(keys: String*): DataFrame = df.select(keys.map(col): _*)

  /** properties(keys*) step — the element's properties as relation rows
    * (id, key, value); nulls omitted, like TitanVertexProperty iteration.
    * Single-scan unpivot (explode of a struct array), not one scan per key. */
  def properties(keys: String*): DataFrame = {
    val candidates = df.columns
      .filterNot(c => Set("id", "label", "src", "dst", "vid", "other", "dir").contains(c))
      .filterNot(Traversal.isCarryColumn).toSeq
    val ks = if (keys.nonEmpty) keys.toSeq else candidates
    Traversal.unpivot(df, col("id"), ks)
  }
  def valueMap(keys: String*): DataFrame =
    df.select(col("id"), F.map_from_arrays(
      F.array(keys.map(lit): _*), F.array(keys.map(k => col(k).cast("string")): _*)).as("valueMap"))

  /** elementMap(keys*) — valueMap plus the element's id and label as columns
    * (Gremlin ElementMapStep; TinkerPop 3's flattened per-element view). */
  def elementMap(keys: String*): DataFrame =
    df.select(col("id") +: col("label") +: keys.map(col): _*)
  def id(): DataFrame = df.select(col("id"))
  def label(): DataFrame = df.select(col("label"))

  // ---------- ordering / slicing ----------
  def order(key: String, asc: Boolean = true): Traversal = {
    val o = Seq(if (asc) col(key).asc else col(key).desc, col("id").asc)
    copy(df = df.orderBy(o: _*), lastOrder = o)
  }
  def orderBy(cols: Column*): Traversal = copy(df = df.orderBy(cols: _*), lastOrder = cols)
  def limit(n: Int): Traversal = copy(df = df.limit(n))

  /** range(lo,hi) — zero-based slice [lo,hi); deterministic when preceded by
    * `order` (uses the last order; Gremlin contract is the same). Compiles to
    * sort + offset + limit (distributed GlobalLimit/Offset), not a
    * single-partition global window. */
  def range(lo: Int, hi: Int): Traversal = {
    val ord = if (lastOrder.nonEmpty) lastOrder.map(Traversal.normalizeOrder)
              else Seq(col("id").asc)
    // the orderBySub carry is retired with the slice; lastOrder must not
    // keep referencing the dropped column
    val sliced = df.orderBy(ord: _*).offset(lo).limit(hi - lo)
    if (df.columns.contains("_by_ord"))
      copy(df = sliced.drop("_by_ord"), lastOrder = Nil)
    else copy(df = sliced)
  }
  /** skip(n) — drop the first n traversers of the last declared order
    * (Gremlin RangeGlobalStep with high = -1, i.e. `range(n, -1)`). Compiles
    * to sort + Offset — no upper limit materialized. */
  def skip(n: Int): Traversal = {
    val ord = if (lastOrder.nonEmpty) lastOrder.map(Traversal.normalizeOrder)
              else Seq(col("id").asc)
    val sliced = df.orderBy(ord: _*).offset(n)
    if (df.columns.contains("_by_ord"))
      copy(df = sliced.drop("_by_ord"), lastOrder = Nil)
    else copy(df = sliced)
  }
  def dedup(): Traversal = copy(df = df.dropDuplicates("id"))

  /** dedup('a','b') — DedupGlobalStep over as-label SCOPES (TinkerPop
    * `dedup("a","b")`): one traverser survives per distinct tuple of
    * bindings. TinkerPop keeps the first by stream order; row sets here are
    * order-free, so the relational contract is ONE representative per
    * tuple — the binding columns themselves are deterministic, the rest of
    * the representative row is not (same caveat as Spark's dropDuplicates).
    * Bindings resolve Pop.last, the scope default. */
  def dedupLabels(names: String*): Traversal = {
    require(names.nonEmpty, "dedupLabels needs at least one label")
    val cols = names.map { n =>
      val idc = s"_as_${n}_id"
      require(df.columns.contains(idc), s"no as('$n') label in traversal")
      idc
    }
    copy(df = df.dropDuplicates(cols))
  }
  def dedupBy(keys: String*): Traversal = copy(df = df.dropDuplicates(keys))

  // ---------- branch / merge ----------
  /** Merge branch traversals into one frontier. The merged traversal's
    * element kind and label universes come from the BRANCHES, not the
    * pre-branch anchor — a union of `outE(…)` branches over a vertex
    * frontier yields an EDGE traversal (kinds must agree across branches;
    * Gremlin unions of mixed element kinds are ill-formed here). Label
    * universes take the cross-branch union (None = unknown wins). */
  private def mergeBranches(branches: Seq[Traversal]): Traversal = {
    require(branches.map(_.isVertex).distinct.size == 1,
      "branch merge: every branch must produce the same element kind " +
        s"(got ${branches.map(t => if (t.isVertex) "vertex" else "edge").distinct.mkString("/")})")
    val merged = branches.map(_.df)
      .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    branches.head.copy(df = branches.head.mergeSacks(merged), lastOrder = Nil,
      frontierLabels = branches.map(_.frontierLabels)
        .reduce((a, b) => for { x <- a; y <- b } yield x union y),
      frontierEdgeLabels = branches.map(_.frontierEdgeLabels)
        .reduce((a, b) => for { x <- a; y <- b } yield x union y))
  }

  def union(others: Traversal*): Traversal = mergeBranches(this +: others)

  /** union(branch1, branch2, …) as branch FUNCTIONS of this traversal —
    * Gremlin's `union(traversal, …)`: every traverser clones into every
    * branch (the declared sack split operator transforms each clone's sack
    * at entry), and branch results merge (the declared sack merge aggregate
    * coalesces traversers that land on the same element with equal as/path
    * state). Prefer this over [[union]] when sacks carry state — externally
    * built traversals cannot receive the clone-time split. */
  def unionSteps(steps: (Traversal => Traversal)*): Traversal = {
    require(steps.nonEmpty, "unionSteps needs at least one branch")
    mergeBranches(steps.map(s => s(copy(df = sackBranchEntry(df)))))
  }

  /** inject(ids*) — add the given graph elements to the frontier as fresh
    * traversers (Gremlin InjectStep). New traversers carry no `as`-history or
    * sack; with path tracking on, their path starts at the injected element. */
  def inject(ids: Long*): Traversal = {
    val base = if (isVertex) graph.vertices else graph.edges
    val injected0 = base.filter(col("id").isin(ids: _*))
    val injected =
      if (hasPath) injected0.withColumn("_path", F.array(col("id"))) else injected0
    copy(df = df.unionByName(injected, allowMissingColumns = true))
  }

  /** optional(step): rows whose step produces no result survive unchanged
    * (Gremlin optional = choose(step, step, identity)). Source provenance is
    * carried through the step via a reserved `as` label so the unmatched set
    * is computed on source ids, not stepped ids. */
  def optional(step: Traversal => Traversal): Traversal = {
    val (stepped, matched) = subRun(step, "__opt")
    copy(df = stepped.df.unionByName(splitOn(matched)._2, allowMissingColumns = true))
  }

  /** match()-style pattern conjunction (Gremlin match ⇒ multi-way join
    * planning): keep traversers whose binding for `alias` also appears as the
    * `alias` binding of `other` — a semi-join of the two patterns on the
    * shared variable. Compose repeatedly for multi-pattern match; use
    * whereNotExists for negated patterns. For patterns sharing SEVERAL
    * variables use matchOnAll — this single-alias form over-matches there
    * (it accepts (a₁,b₂) combinations that only occur in separate rows of
    * the other pattern). */
  def matchOn(other: Traversal, alias: String): Traversal =
    matchOnAll(other, Seq(alias))

  /** Multi-variable match conjunction: semi-join `other` on ALL shared
    * binding variables SIMULTANEOUSLY (TinkerPop MatchStep joins patterns on
    * every shared variable — the reference runs MatchStep through its
    * TinkerPop integration, AbstractTitanGraphProvider.java:57). One
    * multi-column left-semi hash join; the distinct binding projection is
    * id-only and AQE-broadcastable. */
  def matchOnAll(other: Traversal, aliases: Seq[String]): Traversal = {
    require(aliases.nonEmpty, "matchOnAll needs at least one shared alias")
    val keys = aliases.map(a => s"_as_${a}_id")
    val bindings = other.df
      .select(keys.zipWithIndex.map { case (k, i) => col(k).as(s"__m$i") }: _*)
      .distinct()
    val cond = keys.zipWithIndex
      .map { case (k, i) => col(k) === col(s"__m$i") }.reduce(_ && _)
    copy(df = df.join(bindings, cond, "left_semi"))
  }

  /** match(patterns…) as a PLANNER (TinkerPop MatchStep semantics with the
    * reference's selectivity ordering, GraphCentricQueryBuilder.java:185-323 /
    * MatchStep's CountMatchAlgorithm): all patterns share binding `alias`;
    * the result keeps bindings present in EVERY pattern. Patterns are joined
    * in ascending estimated-size order (Catalyst logical stats — no count jobs),
    * so the most selective pattern anchors the chain and each semi-join
    * shrinks the frontier as early as possible. */
  def matchAll(alias: String, patterns: Traversal*): Traversal =
    matchAllOn(Seq(alias), patterns: _*)

  /** matchAll over SEVERAL shared binding variables: every pattern must carry
    * all `aliases`; each semi-join keys on the full alias tuple. Same
    * selectivity-ordered planning as the single-alias form. */
  def matchAllOn(aliases: Seq[String], patterns: Traversal*): Traversal = {
    require(patterns.nonEmpty)
    val ordered = patterns.sortBy(estSize)
    ordered.tail.foldLeft(copy(df = ordered.head.df))((acc, p) => acc.matchOnAll(p, aliases))
  }

  /** A pattern's estimated size from Catalyst's logical stats (no count job),
    * the match planners' selectivity order. */
  private def estSize(t: Traversal): BigInt =
    t.df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** match with HETEROGENEOUS binding sets (TinkerPop MatchStep's general
    * case — patterns need not all carry the same variables): the FIRST
    * pattern anchors the result (its binding tuple is what survives);
    * every other pattern is a constraint, semi-joined on exactly the
    * aliases it shares with the anchor, in ascending estimated-size order
    * (most selective constraint prunes first). A constraint sharing no
    * alias with the anchor would be a cartesian — rejected, as MatchStep
    * rejects disconnected patterns. Note the composition is
    * anchor-centric (like matchAll): constraints are enforced against the
    * anchor's bindings, not pairwise against each other — two constraints
    * sharing a variable absent from the anchor are each checked
    * independently. */
  def matchAllShared(anchor: Traversal, constraints: Traversal*): Traversal = {
    def aliases(d: org.apache.spark.sql.DataFrame): Set[String] =
      d.columns.collect {
        case c if c.startsWith("_as_") && c.endsWith("_id") =>
          c.stripPrefix("_as_").stripSuffix("_id")
      }.toSet
    constraints.sortBy(estSize).foldLeft(copy(df = anchor.df)) { (acc, p) =>
      val shared = (aliases(acc.df) intersect aliases(p.df)).toSeq.sorted
      require(shared.nonEmpty,
        "matchAllShared: pattern shares no binding variable with the anchor pattern")
      acc.matchOnAll(p, shared)
    }
  }

  /** choose(predicate, trueStep, falseStep) — per-traverser branch
    * (Gremlin choose ⇒ filter-split + union). */
  def choose(pred: Column)(trueStep: Traversal => Traversal,
      falseStep: Traversal => Traversal): Traversal = {
    val t = trueStep(copy(df = sackBranchEntry(df.filter(pred))))
    val f = falseStep(copy(df = sackBranchEntry(df.filter(!F.coalesce(pred, lit(false))))))
    mergeBranches(Seq(t, f))
  }

  /** choose(predTraversal)(trueStep, falseStep) — Gremlin's canonical
    * `choose(out('knows'), t, f)`: traversers whose predicate sub-traversal
    * is non-empty take the true branch, the rest the false branch. One semi-
    * plus one anti-join against the same predicate frame (computed once,
    * reused by both branches). */
  def chooseSub(predStep: Traversal => Traversal)(
      trueStep: Traversal => Traversal,
      falseStep: Traversal => Traversal): Traversal = {
    val (hit, miss) = splitOn(subRun(predStep, "__chs")._2)
    val t = trueStep(copy(df = sackBranchEntry(hit)))
    val f = falseStep(copy(df = sackBranchEntry(miss)))
    mergeBranches(Seq(t, f))
  }

  /** choose(selector).option(v1, s1).option(v2, s2)….option(none, sN) —
    * TinkerPop's general n-ary value-switch ChooseStep (part of the
    * ProcessStandardSuite the reference passes,
    * titan-test/.../AbstractTitanGraphProvider.java:57; the binary
    * predicate forms above cover only two-way branching). Compiled as one
    * filter-split per option + union — each branch filters on null-safe
    * selector equality (a pure codegen'd Column predicate; the selector is
    * never materialized), so the n branches share the scan and Catalyst
    * prunes each to its slice. Traversers whose selector value matches no
    * option take the `none` branch when given, else are dropped (TinkerPop
    * Pick.none semantics). A null selector value matches no option and
    * routes to `none`. */
  def chooseOption(selector: Column,
      options: Seq[(Any, Traversal => Traversal)],
      none: Option[Traversal => Traversal] = None): Traversal = {
    require(options.nonEmpty, "chooseOption needs at least one option branch")
    val branches = options.map { case (v, step) =>
      step(copy(df = sackBranchEntry(df.filter(selector <=> lit(v)))))
    }
    val noneBranch = none.map { step =>
      val vals = options.map(_._1)
      // isin yields null for a null selector; coalesce(false) routes it here
      step(copy(df = sackBranchEntry(df.filter(
        !F.coalesce(selector.isin(vals: _*), lit(false))))))
    }
    mergeBranches(branches ++ noneBranch)
  }

  /** coalesce(step1, step2, ...) — per source element, results of the FIRST
    * step that produces any; later steps only fire for sources where all
    * earlier ones were empty (Gremlin coalesce). Provenance via reserved
    * `as`-labels, like optional(). */
  def coalesceSteps(steps: (Traversal => Traversal)*): Traversal = {
    require(steps.nonEmpty)
    var remaining = this
    val branches = scala.collection.mutable.ArrayBuffer.empty[Traversal]
    steps.foreach { step =>
      val (stepped, matched) =
        remaining.copy(df = sackBranchEntry(remaining.df)).subRun(step, "__coal")
      branches += stepped
      remaining = remaining.copy(df = remaining.splitOn(matched)._2)
    }
    mergeBranches(branches.toSeq)
  }

  /** tail(n) — last n by the traversal's last order (Gremlin tail). Compiled
    * as top-n under the REVERSED order (TakeOrderedAndProject — distributed,
    * no count job, no 32-bit row-count cap), then re-sorted to the requested
    * presentation order (cheap: ≤ n rows). Both sorts rebuild the SortOrder
    * fresh from its child — reusing a stored SortOrder Column verbatim in a
    * second orderBy nests SortOrder(SortOrder(..)) which codegen rejects. */
  def tail(n: Int): Traversal = {
    val ord = if (lastOrder.nonEmpty) lastOrder else Seq(col("id").asc)
    val lastN = df.orderBy(ord.map(Traversal.reverseOrder): _*).limit(n)
    copy(df = lastN.orderBy(ord.map(Traversal.normalizeOrder): _*))
  }

  /** aggregate('x') — side-effect barrier collecting the current frontier ids
    * (Gremlin aggregate/cap). Returned as a broadcastable DataFrame; the
    * traversal itself continues unchanged. */
  def aggregateSet(): org.apache.spark.sql.DataFrame = df.select(col("id")).distinct()

  /** store('x') — record the current frontier's ids under `name` and continue
    * (Gremlin StoreStep: lazy side-effect collection). The stored set is a
    * lazy plan, not a driver collection — at use time (`capWithin`) it becomes
    * one side of a semi-join, which AQE broadcasts when small. */
  def store(name: String): Traversal =
    copy(stored = stored + (name -> df.select(col("id")).distinct()))

  /** where(within('x')) — keep traversers whose current element is in the
    * stored set (the canonical in-traversal use of aggregate/store + cap:
    * `aggregate('x')...where(within('x'))`). Compiled as a semi-join against
    * the stored frontier plan — the barrier is Spark's stage boundary. */
  def capWithin(name: String): Traversal = {
    val set = stored.getOrElse(name,
      throw new IllegalArgumentException(s"no stored set '$name' — call store('$name') first"))
    copy(df = df.join(set.withColumnRenamed("id", "__cap_id"),
      col("id") === col("__cap_id"), "left_semi"))
  }

  /** where(without('x')) — the negated form: anti-join on the stored set. */
  def capWithout(name: String): Traversal = {
    val set = stored.getOrElse(name,
      throw new IllegalArgumentException(s"no stored set '$name' — call store('$name') first"))
    copy(df = df.join(set.withColumnRenamed("id", "__cap_id"),
      col("id") === col("__cap_id"), "left_anti"))
  }

  /** fold() — all traverser ids collected into one sorted list (Gremlin fold;
    * sorted for determinism). Driver-size bounded by definition — a global
    * fold IS a collect, use aggregates for scale paths. */
  def fold(): DataFrame =
    df.agg(F.sort_array(F.collect_list(col("id"))).as("ids"))

  /** unfold(arrayCol) — one traverser per array element (Gremlin unfold). */
  def unfold(arrayCol: String, outName: String = "value"): DataFrame =
    df.select(F.explode(col(arrayCol)).as(outName))

  /** barrier() — materialization boundary: everything before is computed
    * before anything after consumes it (Gremlin's bulk-synchronous barrier;
    * here a lazy lineage checkpoint, materialized at first downstream
    * action). */
  def barrier(): Traversal = copy(df = df.localCheckpoint(false))

  /** sideEffect(f) — observe the current frontier without altering it
    * (Gremlin sideEffect; f runs at plan-build time on the lazy frame —
    * counters/logging should use Spark accumulators inside f). */
  def sideEffect(f: DataFrame => Unit): Traversal = { f(df); this }

  // ---------- mutation steps (TinkerPop DropStep / AddEdgeStep) ----------
  /** drop() — remove the frontier's elements from the graph (TinkerPop
    * DropStep; the reference routes element removal through the transaction's
    * delete path, StandardTitanTx removeRelation/vertex deletion). A vertex
    * frontier deletes those vertices WITH incident-edge cascade (the
    * reference deletes the whole adjacency row); an edge frontier deletes
    * exactly those edges. Compiles to [[graft.data.GraphIO.applyMutations]] —
    * the transaction-commit analogue — so static-label and consistency
    * enforcement run unless `enforce=false`. The id set shuffled into the
    * anti-joins is the frontier's ids only.
    *
    * Like TinkerPop's DropStep this CONTINUES the traversal as a filter
    * that removes every traverser: the returned traversal carries the
    * mutated graph with an empty frontier (read the graph via `.graph`). */
  def drop(enforce: Boolean = true): Traversal = {
    val ids = df.select(col("id")).distinct()
    val ng =
      if (isVertex)
        graft.data.GraphIO.applyMutations(graph, deleteVertexIds = Some(ids), enforce = enforce)
      else
        graft.data.GraphIO.applyMutations(graph, deleteEdgeIds = Some(ids), enforce = enforce)
    copy(graph = ng, df = df.limit(0), lastOrder = Nil)
  }

  /** property(key, value) — set a property on the frontier's elements
    * (TinkerPop AddPropertyStep: `V().has(…).property('k', v)`; the
    * reference routes it through the transaction's relation-write path).
    * `value` is any Column over the element's own columns, so computed
    * updates (`property('total', col("a") + col("b"))`) cost the same as
    * constants. Compiles to a whole-row upsert through
    * [[graft.data.GraphIO.applyMutations]]: the frontier's rows re-enter
    * with the column overwritten (last-writer-wins by id), so static-label
    * immutability and consistency checks apply, and an UNDECLARED key
    * auto-creates through the first-use schema maker exactly like a write.
    * Only the frontier's rows travel — untouched elements never shuffle.
    *
    * Like TinkerPop's AddPropertyStep this CONTINUES the traversal on the
    * SAME traversers, now showing the written value (as-labels, path and
    * sack survive); the mutated graph rides along (`.graph`), so
    * `V().has(…).property('k', v).out(…)` chains keep traversing. */
  def property(key: String, value: Column, enforce: Boolean = true): Traversal = {
    val ids = df.select(col("id").as("__pid")).distinct()
    val base = if (isVertex) graph.vertices else graph.edges
    val updated = base.join(ids, col("id") === col("__pid"), "left_semi")
      .withColumn(key, value)
    val ng =
      if (isVertex)
        graft.data.GraphIO.applyMutations(graph, addVertices = Some(updated), enforce = enforce)
      else
        graft.data.GraphIO.applyMutations(graph, addEdges = Some(updated), enforce = enforce)
    copy(graph = ng, df = df.withColumn(key, value))
  }

  /** addE(label, stepLabel, dir) — add one edge per distinct (frontier
    * vertex, saved vertex) pair between the current vertex and the vertex
    * remembered at `as(stepLabel)` (TinkerPop 3.0 AddEdgeStep:
    * `V().as('a').out(…).addE(Direction, 'label', 'a')`; OUT: frontier→saved
    * is src→dst reversed per TP semantics — `addOutE` points FROM the
    * frontier, so OUT = frontier as src). Edge ids synthesize
    * deterministically from xxhash64(src,dst,label) under a reserved top tag
    * byte, so replays are idempotent and pairs collapse to SIMPLE
    * multiplicity (the deterministic-id tradeoff; callers needing MULTI
    * duplicates supply explicit ids through applyMutations directly).
    * Runs through applyMutations ⇒ first-use schema maker + enforcement
    * apply. Only (src,dst) pairs shuffle; property columns can be added by
    * `props` (frontier columns referenced by name).
    *
    * Like TinkerPop's AddEdgeStep this CONTINUES the traversal positioned
    * on the CREATED edges (one traverser per created edge — the SIMPLE
    * multiplicity collapse above also collapses traversers), carrying the
    * mutated graph: `…addE('x', 'a').inV().values(…)` chains without
    * re-anchoring. As-labels, path history and sack state do NOT survive
    * the collapse (many incoming traversers fold into one created edge, so
    * per-traverser state has no well-defined carry) — read them before
    * addE, or re-anchor after. */
  def addE(label: String, stepLabel: String,
      direction: Direction = Direction.OUT,
      props: Seq[String] = Nil, enforce: Boolean = true): Traversal = {
    require(isVertex, "addE: frontier must be vertices")
    val idc = s"_as_${stepLabel}_id"
    require(df.columns.contains(idc), s"no as('$stepLabel') label in traversal")
    require(asMeta.getOrElse(stepLabel, true), s"addE: as('$stepLabel') must mark a vertex step")
    val (srcC, dstC) = direction match {
      case Direction.OUT => (col("id"), col(idc))
      case Direction.IN  => (col(idc), col("id"))
      case Direction.BOTH =>
        throw new IllegalArgumentException("addE: direction must be IN or OUT (edges are directed)")
    }
    val pairs = df
      .select(Seq(srcC.as("src"), dstC.as("dst")) ++ props.map(col): _*)
      .dropDuplicates("src", "dst")
    // [127 | 56-bit hash] — the reserved top tag (highest positive tag byte)
    // keeps synthesized ids positive and disjoint from every loader-assigned
    // tag namespace (GraphIds layout)
    val eid = (lit(127L << graft.core.GraphIds.TagBits) +
      F.pmod(F.xxhash64(col("src"), col("dst"), lit(label)),
        lit(1L << graft.core.GraphIds.TagBits))).as("id")
    val edges = pairs.select(Seq(eid, col("src"), col("dst"), lit(label).as("label")) ++
      props.map(col): _*)
    val ng = graft.data.GraphIO.applyMutations(graph, addEdges = Some(edges), enforce = enforce)
    // frontier = the created edges AS READ BACK from the mutated graph
    // (post-schema-maker columns), in the standard edge-frontier shape
    val created = ng.edges
      .join(edges.select(col("id").as("__eid")).distinct(), col("id") === col("__eid"), "left_semi")
    val ef = created.select(
      Seq(col("src").as("vid"), col("dst").as("other"), lit("OUT").as("dir")) ++
        created.columns.map(col): _*)
    copy(graph = ng, df = ef, isVertex = false, lastOrder = Nil,
      frontierLabels = None, frontierEdgeLabels = Some(Set(label)))
  }

  // ---------- aggregation terminals ----------
  def count(): DataFrame = df.agg(F.count(lit(1)).as("count"))
  def countDistinct(): DataFrame = df.agg(F.count_distinct(col("id")).as("count"))
  def sum(key: String): DataFrame = df.agg(F.sum(col(key)).as("sum"))
  def max(key: String): DataFrame = df.agg(F.max(col(key)).as("max"))
  def min(key: String): DataFrame = df.agg(F.min(col(key)).as("min"))
  def mean(key: String): DataFrame = df.agg(F.avg(col(key)).as("mean"))
  /** groupCount routes through the salted two-phase aggregate when the
    * frontier can contain a partitioned (supernode) vertex label — a grouped
    * count over a supernode's expanded neighborhood funnels its whole group
    * through one reducer otherwise (parity:
    * PartitionedVertexProgramExecutor; count is decomposable, results are
    * identical). Scoped by the tracked frontier label set: a traversal
    * anchored on provably non-partitioned labels plans the plain single
    * aggregate. group() (collect_list) is NOT decomposable order-stably and
    * stays single-phase. */
  def groupCount(key: String): DataFrame = {
    val part = graph.schema.partitionedLabels
    if (part.nonEmpty && frontierLabels.forall(_.exists(part.contains))) {
      graft.olap.GraphOps.saltedAggregate(df, col(key), graft.olap.GraphOps.SupernodeSalts,
        partialAggs = Seq(F.count(lit(1)).as("__c")),
        mergeAggs = Seq(F.sum(col("__c")).as("count")))
        .withColumnRenamed("__key", key)
    } else df.groupBy(col(key)).agg(F.count(lit(1)).as("count"))
  }
  def group(key: String, valueKey: String): DataFrame =
    df.groupBy(col(key)).agg(F.collect_list(col(valueKey)).as("values"))

  // ---------- iteration ----------
  /** The one RepeatStep loop (Gremlin repeat() with its times/until/emit
    * modulators) — a driver-side loop of `n` rounds of joins, each round one
    * `step` of the whole frontier. `emit` picks the rows a frontier
    * surfaces at a depth: the source at depth 0 when `emitFirst`
    * (emit().repeat()), then each round's frontier at that round's depth.
    * `until` splits a round's frontier into the rows that leave the loop
    * and the traversal that keeps stepping. The result is the emitted rows
    * when `emit` is given (leavers were already emitted), else the leavers
    * plus the final frontier.
    *
    * Every variant but plain repeat(n) references its frontier twice per
    * round (emit + next step, or leave + stay), which grows the analyzed
    * plan ~2^rounds without truncation (a 3-round until-subtraversal loop
    * spent minutes of driver CPU in analysis alone). So each round's
    * frontier goes through [[barrier]]: a lazy local checkpoint turns the
    * plan into a LogicalRDD leaf at once, and the RDD materializes with the
    * first downstream action (the per-superstep materialization every BSP
    * engine performs; no job now). Plain repeat(n) references its frontier
    * once per round, grows linearly, skips the barrier and returns the
    * stepped traversal itself. */
  private def repeatLoop(n: Int, step: Traversal => Traversal,
      emit: Option[(Traversal, Int) => DataFrame], emitFirst: Boolean = true,
      until: Option[Traversal => (DataFrame, Traversal)] = None): Traversal =
    if (emit.isEmpty && until.isEmpty) (1 to n).foldLeft(this)((t, _) => step(t))
    else {
      var out = if (emitFirst) emit.map(_(this, 0)) else None
      def add(rows: DataFrame): Unit =
        out = Some(out.fold(rows)(_.unionByName(rows, allowMissingColumns = true)))
      var cur = this
      (1 to n).foreach { d =>
        cur = step(cur).barrier()
        emit.foreach(e => add(e(cur, d)))
        until.foreach { split =>
          val (leave, stay) = split(cur)
          if (emit.isEmpty) add(leave)
          cur = stay
        }
      }
      if (emit.isEmpty) add(cur.df)
      copy(df = out.get)
    }

  /** until(cond) split: traversers satisfying `cond` leave; a NULL
    * condition keeps stepping. */
  private def untilCond(cond: Column)(t: Traversal): (DataFrame, Traversal) =
    (t.df.filter(cond), t.copy(df = t.df.filter(!F.coalesce(cond, lit(false)))))

  /** repeat(n)(step) — bounded driver-side loop of joins (repeat().times(n));
    * unbounded/conditional iteration belongs to graft.olap (Pregel). */
  def repeat(n: Int)(step: Traversal => Traversal): Traversal = repeatLoop(n, step, None)

  /** repeat(n).emit() — union every intermediate frontier with the final one
    * (Gremlin emit(): traversers surface at each loop turn). */
  def repeatEmit(n: Int)(step: Traversal => Traversal): Traversal =
    repeatLoop(n, step, Some((t, _) => t.df))

  /** repeat(step).until(cond) — DO-WHILE like Gremlin's RepeatStep with a
    * trailing until(): every traverser takes at least one step, then those
    * satisfying `cond` exit and are emitted; the rest keep stepping. After
    * `maxIter` rounds (at least 1) the remaining frontier is emitted as-is
    * (the times()-bounded until). Pure plan composition — no driver-side
    * counting; the loop unrolls to maxIter filtered step-unions. */
  def repeatUntil(cond: Column, maxIter: Int)(step: Traversal => Traversal): Traversal = {
    require(maxIter >= 1, s"repeatUntil: maxIter must be at least 1, got $maxIter")
    repeatLoop(maxIter, step, None, until = Some(untilCond(cond)))
  }

  /** repeat(step).emit().until(cond) — each round's frontier is emitted, and
    * traversers satisfying `cond` exit the loop (Gremlin's combined
    * emit()+until(): an element emitted at depth d keeps stepping while the
    * until-condition fails, so its successors surface at depth d+1 too).
    * `maxIter` must be at least 1. */
  def repeatEmitUntil(cond: Column, maxIter: Int)(step: Traversal => Traversal): Traversal = {
    require(maxIter >= 1, s"repeatEmitUntil: maxIter must be at least 1, got $maxIter")
    repeatLoop(maxIter, step, Some((t, _) => t.df), emitFirst = false, until = Some(untilCond(cond)))
  }

  /** repeat(n).emit() with the loop counter exposed — Gremlin's `loops()`
    * (RepeatStep's per-traverser loop depth, readable mid-traversal): every
    * emitted row carries `_depth` = the number of steps taken to reach it
    * (source = 0). The relational form of loops(): downstream filters/
    * projections read the column like any other (`has("_depth", …)`,
    * `values("_depth", …)`). */
  def repeatEmitDepth(n: Int)(step: Traversal => Traversal): Traversal =
    repeatLoop(n, step, Some((t, d) => t.df.withColumn("_depth", lit(d))))

  /** emit(predicate).repeat(step) — emit() with a FILTER: the source frontier
    * and each round's frontier surface ONLY where `emitCond` holds, but every
    * traverser keeps stepping regardless — unlike [[repeatEmitUntil]], where a
    * matching traverser EXITS the loop (Gremlin RepeatStep with an emit
    * predicate: `emit(hasLabel('person')).repeat(out())`; the until- and
    * emit-conditions are independent controls). `emitCond` must resolve on
    * every round's frontier — label/id and shared property columns do. */
  def repeatEmitFilter(n: Int, emitCond: Column)(step: Traversal => Traversal): Traversal =
    repeatLoop(n, step, Some((t, _) => t.df.filter(emitCond)))

  /** emit(subTraversal).repeat(step) — the emit filter is a sub-traversal:
    * a traverser surfaces at a round iff its emit sub-traversal yields ≥1
    * result there (Gremlin `emit(__.out('created')).repeat(out())`). Same
    * per-round semi-join engine as [[whereSub]]/[[repeatUntilSub]]. */
  def repeatEmitSub(n: Int, emitStep: Traversal => Traversal)(
      step: Traversal => Traversal): Traversal =
    repeatLoop(n, step, Some((t, _) => t.splitOn(t.subRun(emitStep, "__emt")._2)._1))

  /** repeat(step).until(condTraversal) — traversers exit when their condition
    * sub-traversal becomes empty (`exitWhenEmpty=true` — Gremlin's
    * `until(__.out().count().is(0))`) or non-empty (`until(__.out('knows'))`).
    * Same unrolled do-while as repeatUntil (`maxIter` at least 1) with the
    * Column predicate replaced by a per-source semi/anti-join on the
    * condition frame. */
  def repeatUntilSub(condStep: Traversal => Traversal, maxIter: Int,
      exitWhenEmpty: Boolean = true)(step: Traversal => Traversal): Traversal = {
    require(maxIter >= 1, s"repeatUntilSub: maxIter must be at least 1, got $maxIter")
    repeatLoop(maxIter, step, None, until = Some { t =>
      val (hit, miss) = t.splitOn(t.subRun(condStep, "__unt")._2)
      if (exitWhenEmpty) (miss, t.copy(df = hit)) else (hit, t.copy(df = miss))
    })
  }

  def toDF: DataFrame = df

  /** profile() step — plan-shape introspection (QueryProfiler parity). */
  def profile(): graft.query.QueryProfile = graft.query.Profiler.profile(df)
}

object Traversal {
  private[traverse] def isCarryColumn(c: String): Boolean =
    c.startsWith("_as_") || c == "_path" || c == "_by_ord"

  /** Single-scan unpivot: (idCol, key, value) rows for `ks`, nulls dropped.
    * One explode over a struct array instead of k filtered scans union'd —
    * at 10¹⁰-row tables the k-scan version reads the base data k times.
    *
    * LIST/SET-cardinality columns (array-typed, optionally MultiProperties
    * cells `struct<value,meta>`) emit ONE ROW PER CELL — each cell is a
    * first-class property element in the reference (TitanVertexProperty;
    * OLAPTest.java:128-139 pins propertyCount("values") == numvals for a
    * LIST key), so a 3-valued list is 3 properties, not one. */
  private[graft] def unpivot(df: DataFrame, idCol: Column, ks: Seq[String],
      outName: String = "id", tsMap: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val kvType = "array<struct<key:string,value:string>>"
    val types = df.schema.map(f => f.name.toLowerCase -> f.dataType).toMap
    val perKey: Seq[Column] = ks.map { k =>
      types.get(k.toLowerCase) match {
        case Some(ArrayType(st: StructType, _)) if st.fieldNames.contains("value") =>
          F.transform(col(k), c =>
            F.struct(lit(k).as("key"), c.getField("value").cast("string").as("value")))
        case Some(ArrayType(_, _)) =>
          F.transform(col(k), c => F.struct(lit(k).as("key"), c.cast("string").as("value")))
        case _ =>
          F.array(F.struct(lit(k).as("key"), col(k).cast("string").as("value")))
      }
    }
    val cells = perKey.map(c => F.coalesce(c, F.array().cast(kvType)))
    val exploded = df.select(Seq(idCol.as("__uid"),
        F.explode(if (cells.size == 1) cells.head else F.concat(cells: _*)).as("kv")) ++
        tsMap.map(m => col(m).as("__pts")): _*)
    // per-cell write time (the property element's ~timestamp implicit key)
    // rides along when the frame carries a `_pts` cell-timestamp map
    exploded.select(Seq(col("__uid").as(outName), col("kv.key").as("key"),
        col("kv.value").as("value")) ++
        tsMap.map(_ => F.element_at(col("__pts"), col("kv.key")).as("ts")): _*)
      .filter(col("value").isNotNull)
  }

  /** Exact reversal of a sort-order Column: both the direction AND the null
    * ordering flip (rows that sorted first must sort last), so tail/range are
    * correct for all four SortOrder combinations. Decomposition happens at the
    * ColumnNode layer (GraftColumnBridge.sortOrderParts) — `expression(c)`
    * returns a lazy wrapper, never a catalyst SortOrder, and wrapping a sort
    * Column in another sort nests SortOrder(SortOrder(..)) which codegen
    * rejects. */
  private[traverse] def reverseOrder(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.sortOrderParts(c) match {
      case Some((base, asc, nullsFirst)) => (asc, nullsFirst) match {
        case (true, true)   => base.desc_nulls_last
        case (true, false)  => base.desc_nulls_first
        case (false, true)  => base.asc_nulls_last
        case (false, false) => base.asc_nulls_first
      }
      case None => c.desc_nulls_last // bare column ≡ asc_nulls_first — exact flip
    }

  /** Rebuild a sort-order Column fresh (same direction and null ordering) so
    * a stored order can be re-applied without nesting SortOrder nodes. */
  private[traverse] def normalizeOrder(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.sortOrderParts(c) match {
      case Some((base, asc, nullsFirst)) => (asc, nullsFirst) match {
        case (true, true)   => base.asc_nulls_first
        case (true, false)  => base.asc_nulls_last
        case (false, true)  => base.desc_nulls_first
        case (false, false) => base.desc_nulls_last
      }
      case None => c
    }
}

/** Pop semantics for repeated `as` labels — TinkerPop
  * org.apache.tinkerpop.gremlin.process.traversal.Pop (first/last/all),
  * consumed by [[Traversal.selectPop]]. */
sealed trait Pop
object Pop {
  case object First extends Pop
  case object Last extends Pop
  case object All extends Pop
}

/** g.V() / g.E() entry — the TraversalSource. */
final class TraversalSource(val graph: PropertyGraph, val pathEnabled: Boolean = false) {
  def withPath: TraversalSource = new TraversalSource(graph, true)
  def V(): Traversal = {
    // catalog-TTL auto-applies at the source scan (identity without TTL)
    val base = graft.expr.ImplicitKeys.ttlAutoFilter(graph.schema, graph.vertices, isVertex = true)
    val df = if (pathEnabled) base.withColumn("_path", F.array(col("id"))) else base
    Traversal(graph, df, isVertex = true, pathEnabled)
  }
  def V(ids: Long*): Traversal = V().hasId(ids: _*)

  /** addV(label, rows) — TinkerPop AddVertexStep, set-oriented: one new
    * vertex per input row, properties = the row's columns. Ids synthesize
    * deterministically from xxhash64(label, uid) under a reserved top tag
    * (like [[Traversal.addE]]), so replays are idempotent and the same
    * logical vertex never duplicates. Routes through
    * [[graft.data.GraphIO.applyMutations]] — static-label/consistency
    * enforcement and first-use schema creation apply like any write.
    *
    * Like TinkerPop's AddVertexStep this returns a TRAVERSAL positioned on
    * the created vertices (mutated graph via `.graph`), so
    * `addV(…).as('n').addE(…)` chains keep going. */
  /** mergeV — TinkerPop's 3.6 upsert step (beyond the reference's Gremlin
    * surface), batch form: each row either UPDATES the unique existing
    * `label` vertex matching it on `matchKeys` (every non-key column
    * overwrites the vertex's property — the onMatch side-effect) or CREATES
    * a new vertex carrying all the row's columns (onCreate), with the same
    * deterministic reserved-tag id scheme as [[addV]] keyed by the match
    * columns — so replaying the batch is IDEMPOTENT, the property that
    * makes merge the ingest primitive. Returns the traversal positioned on
    * the merged (created + updated) vertices in the mutated graph;
    * enforcement and first-use schema creation apply through
    * [[graft.data.GraphIO.applyMutations]].
    *
    * Scale: one matchKeys-keyed join against the label's vertices splits
    * the batch into update/create sides; the rest is the id-keyed upsert
    * merge every mutation batch pays. Rows whose matchKeys collide with
    * MULTIPLE existing vertices update all of them (declare a unique index
    * on the match keys to exclude that by construction). */
  def mergeV(label: String, rows: DataFrame, matchKeys: Seq[String],
      enforce: Boolean = true): Traversal = {
    require(matchKeys.nonEmpty, "mergeV needs at least one match key")
    require(matchKeys.forall(rows.columns.contains),
      s"mergeV: rows lack match key(s) ${matchKeys.filterNot(rows.columns.contains).mkString(", ")}")
    // one row per key tuple: conflicting duplicates collapse arbitrarily —
    // pre-aggregate the batch if the winner matters
    val rows0 = rows.dropDuplicates(matchKeys)
    val props = rows0.columns.filterNot(c => matchKeys.contains(c) || c == "label" || c == "id")
    val existing = graph.vertices.filter(col("label") === label)
    val keyed = rows0.select(matchKeys.map(col) ++
      props.map(c => col(c).as(s"__new_$c")): _*)
    // onMatch: provided columns overwrite, untouched vertex columns survive
    val updated = existing.join(keyed, matchKeys)
      .select(existing.columns.map { c =>
        if (props.contains(c)) col(s"__new_$c").as(c) else col(c) }.toSeq ++
        props.filterNot(existing.columns.contains).map(c => col(s"__new_$c").as(c)): _*)
    // onCreate: rows matching nothing become new vertices, id from the keys
    val vid = (lit(126L << graft.core.GraphIds.TagBits) +
      F.pmod(F.xxhash64(lit(label) +: matchKeys.map(col): _*),
        lit(1L << graft.core.GraphIds.TagBits))).as("id")
    val created = rows0.join(existing.select(matchKeys.map(col): _*).distinct(),
        matchKeys, "left_anti")
      .select(Seq(vid, lit(label).as("label")) ++ (matchKeys ++ props).map(col): _*)
    // Created rows are key tuples ABSENT from this label (the anti-join), so
    // a created id equal to any existing vertex id is a genuine 56-bit hash
    // collision — and the id-keyed upsert below would silently REPLACE that
    // unrelated vertex (birthday bound ~2^28 rows makes this real at scale).
    // Detect and fail loudly: one id semi-join + an intra-batch dup check,
    // read with limit(1) — a bounded control action on a mutation path.
    // Replay stays idempotent (a replayed row matches on its keys and takes
    // the update side, never re-entering this check).
    val cids = created.select(col("id"))
    val collided = cids.groupBy(col("id")).agg(F.count(lit(1)).as("__n"))
      .filter(col("__n") > 1L).select(col("id"))
      .unionAll(cids.join(graph.vertices.select(col("id")), Seq("id"), "left_semi"))
      .limit(1).collect()
    require(collided.isEmpty,
      s"mergeV($label): created vertex id ${collided.headOption.map(_.getLong(0)).getOrElse(-1L)} " +
        "collides with an existing vertex or another created row (56-bit key-hash " +
        "collision) — the upsert would silently replace an unrelated vertex; " +
        "re-key the batch (e.g. add a discriminating match column)")
    val av = updated.unionByName(created, allowMissingColumns = true)
    val ng = graft.data.GraphIO.applyMutations(graph, addVertices = Some(av), enforce = enforce)
    val merged = ng.vertices.join(av.select(col("id").as("__vid")).distinct(),
      col("id") === col("__vid"), "left_semi")
    val df2 = if (pathEnabled) merged.withColumn("_path", F.array(col("id"))) else merged
    Traversal(ng, df2, isVertex = true, pathEnabled, frontierLabels = Some(Set(label)))
  }

  /** mergeE — the edge upsert twin of [[mergeV]]: rows carry (src, dst) plus
    * property columns; an existing `label` edge on that endpoint pair is
    * updated (non-key columns overwrite), a missing one is created with
    * [[addE]]'s deterministic reserved-tag id — idempotent under replay.
    * Returns the traversal positioned on the merged edges. Like [[addE]],
    * path history does not carry onto the edge frontier (batch rows are not
    * traversers) — call path-dependent steps after re-anchoring. */
  def mergeE(label: String, rows: DataFrame, enforce: Boolean = true): Traversal = {
    require(Seq("src", "dst").forall(rows.columns.contains),
      "mergeE: rows need src and dst columns")
    val rows0 = rows.dropDuplicates("src", "dst")
    val props = rows0.columns.filterNot(c =>
      c == "src" || c == "dst" || c == "label" || c == "id")
    val existing = graph.edges.filter(col("label") === label)
    val keyed = rows0.select(Seq(col("src"), col("dst")) ++
      props.map(c => col(c).as(s"__new_$c")): _*)
    val updated = existing.join(keyed, Seq("src", "dst"))
      .select(existing.columns.map { c =>
        if (props.contains(c)) col(s"__new_$c").as(c) else col(c) }.toSeq ++
        props.filterNot(existing.columns.contains).map(c => col(s"__new_$c").as(c)): _*)
    val eid = (lit(127L << graft.core.GraphIds.TagBits) +
      F.pmod(F.xxhash64(col("src"), col("dst"), lit(label)),
        lit(1L << graft.core.GraphIds.TagBits))).as("id")
    val created = rows0.join(existing.select(col("src"), col("dst")).distinct(),
        Seq("src", "dst"), "left_anti")
      .select(Seq(eid, col("src"), col("dst"), lit(label).as("label")) ++ props.map(col): _*)
    // same loud hash-collision guard as mergeV (see there): a created edge id
    // landing on ANY existing edge id would silently replace it
    val ceids = created.select(col("id"))
    val ecollided = ceids.groupBy(col("id")).agg(F.count(lit(1)).as("__n"))
      .filter(col("__n") > 1L).select(col("id"))
      .unionAll(ceids.join(graph.edges.select(col("id")), Seq("id"), "left_semi"))
      .limit(1).collect()
    require(ecollided.isEmpty,
      s"mergeE($label): created edge id ${ecollided.headOption.map(_.getLong(0)).getOrElse(-1L)} " +
        "collides with an existing edge or another created row (56-bit endpoint-hash " +
        "collision) — the upsert would silently replace an unrelated edge")
    val ae = updated.unionByName(created, allowMissingColumns = true)
    val ng = graft.data.GraphIO.applyMutations(graph, addEdges = Some(ae), enforce = enforce)
    val merged = ng.edges.join(ae.select(col("id").as("__eid")).distinct(),
      col("id") === col("__eid"), "left_semi")
    val ef = merged.select(
      Seq(col("src").as("vid"), col("dst").as("other"), lit("OUT").as("dir")) ++
        merged.columns.map(col): _*)
    Traversal(ng, ef, isVertex = false, pathEnabled,
      frontierEdgeLabels = Some(Set(label)))
  }

  def addV(label: String, rows: DataFrame, enforce: Boolean = true): Traversal = {
    require(rows.columns.contains("uid"), "addV: rows need a 'uid' column (identity)")
    val vid = (lit(126L << graft.core.GraphIds.TagBits) +
      F.pmod(F.xxhash64(lit(label), col("uid")),
        lit(1L << graft.core.GraphIds.TagBits))).as("id")
    val av = rows.select(Seq(vid, lit(label).as("label")) ++ rows.columns.map(col): _*)
    val ng = graft.data.GraphIO.applyMutations(graph, addVertices = Some(av), enforce = enforce)
    val created = ng.vertices
      .join(av.select(col("id").as("__vid")).distinct(), col("id") === col("__vid"), "left_semi")
    val df = if (pathEnabled) created.withColumn("_path", F.array(col("id"))) else created
    Traversal(ng, df, isVertex = true, pathEnabled,
      frontierLabels = Some(Set(label)))
  }
  def E(): Traversal = {
    val live = graft.expr.ImplicitKeys.ttlAutoFilterEdges(graph.schema, graph.edges, graph.vertices)
    val e = live.select(
      Seq(col("src").as("vid"), col("dst").as("other"), lit("OUT").as("dir")) ++
        live.columns.map(col): _*)
    Traversal(graph, e, isVertex = false, pathEnabled)
  }
}
