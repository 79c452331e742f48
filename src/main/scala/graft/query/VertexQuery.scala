package graft.query

import graft.data.PropertyGraph
import graft.expr.P
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

sealed trait Direction
object Direction {
  case object OUT extends Direction
  case object IN extends Direction
  case object BOTH extends Direction
}

/** Vertex-centric query — reference surface `BaseVertexQuery`
  * (tc/core/BaseVertexQuery.java:27-167, compiled by
  * tc/graphdb/query/vertex/BasicVertexCentricQueryBuilder.java:391-583) and its
  * batched form `TitanMultiVertexQuery` (tc/core/TitanMultiVertexQuery.java:26-117).
  *
  * The engine always plans the SET version: the single-vertex query is a
  * degenerate frontier. A frontier (DataFrame of vertex ids) joined against the
  * edge table IS the reference's `edgeMultiQuery` batching
  * (StandardTitanGraph.java:416-424); per-vertex order/limit becomes a window
  * over `partitionBy(vid)` — the sort-key slice semantics
  * (BasicVertexCentricQueryBuilder.java:486-583) without byte-range machinery.
  *
  * Result edge frame: `vid` (the anchor vertex), `other` (the other endpoint),
  * `dir` ('OUT'|'IN'), plus all edge columns. Loops under BOTH are emitted
  * TWICE — once per orientation — matching the reference's testSelfLoop
  * (its loop dedup applies only to single-direction queries,
  * StandardTitanTx.java:1054-1071).
  */
final case class VertexCentricQuery(
    graph: PropertyGraph,
    frontier: Option[DataFrame] = None,       // df with column `vid`; None = all vertices
    labels: Seq[String] = Nil,
    dir: Direction = Direction.BOTH,
    conds: Vector[Column] = Vector.empty,
    orders: Vector[(String, Boolean)] = Vector.empty,
    limitN: Option[Int] = None,
    adjacentId: Option[Long] = None,
    // The vertex-label universe the anchor frontier can contain (None =
    // unknown/all). Used ONLY to scope supernode salting — a query whose
    // anchors provably exclude every partitioned label skips the two-phase
    // aggregate (Titan scopes partitioned-vertex handling per label:
    // VertexLabelMaker.partition(), PartitionedVertexProgramExecutor).
    frontierLabels: Option[Seq[String]] = None) {

  // ---- builder surface (BaseVertexQuery.java:27-167) ----
  def labels(ls: String*): VertexCentricQuery = copy(labels = ls)
  def direction(d: Direction): VertexCentricQuery = copy(dir = d)

  /** Resolve a key against the EDGE frame: `~`-prefixed keys route through
    * ImplicitKeys semantics (testImplicitKey, TitanGraphTest.java:1670-1697 —
    * `~nid` is the relation's internal long id, i.e. our `id` column;
    * `~timestamp` reads the `_ts` system column), and an UNDEFINED key reads
    * as NULL for every edge (has ⇒ no match, hasNot ⇒ all match), the same
    * convention the graph-centric builder applies. */
  private def keyCol(key: String): Column = key match {
    case "~nid" => col("id")
    case "~label" => col("label")
    case graft.expr.ImplicitKeys.Timestamp => col(graft.expr.ImplicitKeys.TimestampColumn)
    case k if graft.expr.ImplicitKeys.columnDefined(graph.edges, k) => col(k)
    case _ => lit(null)
  }

  /** has(key, value). `~adjacent` routes to the other-endpoint restriction
    * and `~id` to the composite RelationIdentifier equality — both implicit
    * keys the reference accepts on vertex-centric queries
    * (testImplicitKey:1680-1689; ImplicitKey.java:28-52). Unlike the
    * reference, a `~adjacent` id with no live vertex yields zero edges
    * rather than IllegalArgumentException: validating the handle is a
    * transaction-cache read there, but a distributed probe here. */
  def has(key: String, value: Any): VertexCentricQuery = (key, value) match {
    case ("~adjacent", v: Long) => adjacent(v)
    case ("~adjacent", v: Int) => adjacent(v.toLong)
    case ("~id", rid: graft.data.RelationIdentifier) =>
      val eq = col("id") === rid.relationId && col("src") === rid.outVertexId &&
        col("label") === rid.label
      copy(conds = conds :+ rid.inVertexId.fold(eq)(in => eq && col("dst") === in))
    case _ => has(key, P.eq(value))
  }
  def has(key: String, p: P): VertexCentricQuery =
    // a bare `null` second argument resolves to THIS overload — has(key,null)
    // ≡ hasNot(key), same rule as the graph-centric builder
    if (p == null) hasNot(key) else copy(conds = conds :+ p.apply(keyCol(key)))
  def has(key: String): VertexCentricQuery = copy(conds = conds :+ keyCol(key).isNotNull)
  def hasNot(key: String): VertexCentricQuery = copy(conds = conds :+ keyCol(key).isNull)
  def interval(key: String, start: Any, end: Any): VertexCentricQuery =
    has(key, P.between(start, end))
  /** Restrict to edges whose other endpoint is `v` — the `~adjacent` implicit key
    * (BaseVertexQuery.java:40, ImplicitKey.ADJACENT_ID). */
  def adjacent(v: Long): VertexCentricQuery = copy(adjacentId = Some(v))
  def orderBy(key: String, asc: Boolean = true): VertexCentricQuery =
    copy(orders = orders :+ (key -> asc))
  def limit(n: Int): VertexCentricQuery = copy(limitN = Some(n))

  /** Anchor on an explicit vertex set (multiQuery). `df` must expose `vid`. */
  def onFrontier(df: DataFrame): VertexCentricQuery = copy(frontier = Some(df))
  /** Anchor on an explicit vertex set whose label universe is known — lets
    * the planner skip supernode salting when no partitioned label can occur. */
  def onFrontier(df: DataFrame, anchorLabels: Seq[String]): VertexCentricQuery =
    copy(frontier = Some(df), frontierLabels = Some(anchorLabels))
  def onVertices(ids: Long*): VertexCentricQuery = {
    val df = graph.spark.createDataFrame(
      java.util.Arrays.asList(ids.map(java.lang.Long.valueOf).map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vid", org.apache.spark.sql.types.LongType, nullable = false))))
    copy(frontier = Some(df))
  }

  private def edgeBase: DataFrame = {
    // same live view as E(): catalog TTL on the edge label/properties plus
    // expired-endpoint suppression — vertex-centric reads must not resurrect
    // edges a global scan hides (testEdgeTTLTiming reads via v.query())
    val e0 = graft.expr.ImplicitKeys.ttlAutoFilterEdges(
      graph.schema, graph.edges, graph.vertices)
    val e1 = if (labels.isEmpty) e0
             else if (labels.size == 1) e0.filter(col("label") === labels.head)
             else e0.filter(col("label").isin(labels: _*))
    conds.foldLeft(e1)((df, c) => df.filter(c))
  }

  /** Orient edges relative to the anchor vertex, before any frontier
    * restriction. Unidirected labels (EdgeLabelMaker.unidirected,
    * docs/advschema.txt:96-103) are visible ONLY from their out-vertex — the
    * IN orientation drops them, mirroring the reference storing such edges
    * on one adjacency row only. */
  private def oriented: DataFrame = {
    val e = edgeBase
    val uni = graph.schema.unidirectedLabels
    def dropUni(df: DataFrame) =
      if (uni.isEmpty) df else df.filter(!col("label").isin(uni: _*))
    def out = e.select(col("src").as("vid"), col("dst").as("other"), lit("OUT").as("dir"), col("*"))
    def in = dropUni(e).select(col("dst").as("vid"), col("src").as("other"), lit("IN").as("dir"), col("*"))
    val d = dir match {
      case Direction.OUT => out
      case Direction.IN => in
      // BOTH counts a self-loop TWICE (once per orientation): the
      // reference's loop dedup applies ONLY to single-direction queries
      // ("Need to filter out self-loops if query only asks for one
      // direction" — StandardTitanTx.java:1054-1071) and its own
      // testSelfLoop pins OUT=1, IN=1, BOTH=2
      case Direction.BOTH => out.unionAll(in)
    }
    adjacentId.fold(d)(v => d.filter(col("other") === v))
  }

  /** The per-vertex slice: frontier restriction, then window order/limit.
    * A frontier that is provably small ([[VertexCentricQuery.literalIds]])
    * restricts as `vid IN (…)`: no join, and the filter reaches the edge
    * scan (`src`/`dst`), whose `src`-sorted files can skip row groups. Any
    * other frontier is a `left_semi` join on `vid`, its strategy left to
    * AQE (an explicit broadcast hint would pin it). The window's exchange
    * stays either way. */
  def edges(): DataFrame = {
    val o = oriented
    val restricted = frontier match {
      case None => o
      case Some(f) => VertexCentricQuery.literalIds(f) match {
        case Some(ids) => o.filter(col("vid").isin(ids: _*))
        case None => o.join(f.select(col("vid")).distinct(), Seq("vid"), "left_semi")
      }
    }
    applyWindow(restricted)
  }

  private def applyWindow(df: DataFrame): DataFrame = {
    if (orders.isEmpty && limitN.isEmpty) df
    else {
      val sortCols: Seq[Column] =
        (if (orders.nonEmpty) orders.map { case (k, asc) => if (asc) col(k).asc else col(k).desc }
         else Seq.empty[Column]) :+ col("id").asc // deterministic tie-break
      limitN match {
        case Some(n) =>
          val w = Window.partitionBy(col("vid")).orderBy(sortCols: _*)
          df.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= n).drop("_rn")
        case None =>
          // global sort keyed by vertex keeps per-vertex groups ordered
          df.sortWithinPartitions(col("vid") +: sortCols: _*)
      }
    }
  }

  /** Other-endpoint ids (VertexList analogue — tc/core/VertexList.java:16-74). */
  def vertexIds(): DataFrame = edges().select(col("vid"), col("other"))

  /** Adjacent vertices with their properties. */
  def vertices(): DataFrame =
    edges().select(col("vid"), col("other"))
      .join(graph.vertices, col("other") === graph.vertices("id"))
      .drop("other")

  /** True when the anchor frontier may contain a partitioned (supernode)
    * vertex label: the schema declares one AND the frontier's label universe
    * (if known) intersects it. Unknown universe → engage conservatively. */
  private def mayHitPartitioned: Boolean = {
    val part = graph.schema.partitionedLabels
    part.nonEmpty && frontierLabels.forall(_.exists(part.contains))
  }

  /** Per-vertex edge count; limit caps the count, as in the reference
    * (tc/core/TitanVertexQuery.java edgeCount).
    *
    * Supernode routing (VertexLabelMaker.partition(), docs/partitioning.txt,
    * PartitionedVertexProgramExecutor): when the anchor frontier can contain
    * a partitioned vertex label, the plain per-vertex count would funnel a
    * supernode's whole adjacency through one reducer; route transparently
    * through the salted two-phase aggregate instead — identical results
    * (count is decomposable), bounded reducer load. Scoped by the frontier's
    * label set (Titan scopes partitioned handling per label): a query
    * anchored on provably non-partitioned labels plans the plain single
    * aggregate. Windowed queries (orderBy/limit) already hash by vid for the
    * window, so the plain aggregation adds no second skew point there. Salt
    * count is [[graft.olap.GraphOps.SupernodeSalts]]. */
  def edgeCount(): DataFrame =
    if (mayHitPartitioned && orders.isEmpty && limitN.isEmpty) {
      graft.olap.GraphOps.saltedAggregate(edges(), col("vid"),
        graft.olap.GraphOps.SupernodeSalts,
        partialAggs = Seq(count(lit(1)).as("__c")),
        mergeAggs = Seq(sum(col("__c")).as("count")))
        .withColumnRenamed("__key", "vid")
    } else edges().groupBy(col("vid")).agg(count(lit(1)).as("count"))

  /** Vertex properties as relation rows (TitanVertexProperty is a first-class
    * relation in the reference — tc/core/TitanVertexProperty.java): one row
    * per (vid, key, value) over the frontier, nulls omitted. `keys(...)`
    * restriction comes through the `keys` argument. */
  def properties(keys: String*): DataFrame = {
    val ks: Seq[String] = if (keys.nonEmpty) keys.toSeq else graph.vertexPropColumns
    val base = frontier match {
      case None => graph.vertices
      case Some(f) => VertexCentricQuery.literalIds(f) match {
        case Some(ids) => graph.vertices.filter(col("id").isin(ids: _*))
        case None => graph.vertices.join(
          f.select(col("vid")).distinct(), col("id") === col("vid"), "left_semi")
      }
    }
    // single-scan unpivot — k filtered scans union'd would read the vertex
    // table k times at scale; a `_pts` cell-timestamp map (timestamped-log
    // resolution, TimestampedLog.resolve) surfaces each cell's ~timestamp
    // as a `ts` column so property elements can be filtered by write time
    // (TitanEventualGraphTest.java:113-116)
    graft.traverse.Traversal.unpivot(base, col("id"), ks, outName = "vid",
      tsMap = if (base.columns.contains("_pts")) Some("_pts") else None)
  }

  /** propertyCount with the same supernode routing as edgeCount: a
    * partitioned-label vertex with LIST/SET-cardinality properties is the
    * same one-reducer funnel as its adjacency (count is decomposable, so the
    * salted two-phase result is identical). */
  def propertyCount(keys: String*): DataFrame =
    if (mayHitPartitioned) {
      graft.olap.GraphOps.saltedAggregate(properties(keys: _*), col("vid"),
        graft.olap.GraphOps.SupernodeSalts,
        partialAggs = Seq(count(lit(1)).as("__c")),
        mergeAggs = Seq(sum(col("__c")).as("count")))
        .withColumnRenamed("__key", "vid")
    } else properties(keys: _*).groupBy(col("vid")).agg(count(lit(1)).as("count"))
}

object VertexCentricQuery {
  def apply(g: PropertyGraph): VertexCentricQuery = new VertexCentricQuery(g)

  /** The frontier's distinct non-null `vid`s (a LONG column), when they are
    * provably at most [[graft.index.Indexes.LiteralIds]] without running the
    * frontier:
    *  - its optimized plan is a local relation (`onVertices`, a driver-built
    *    id frame). The rows are on the driver, so this costs no job;
    *  - a filter restricts its anchor column by `=`, `IN` or `InSet` over at
    *    most that many literals, as an index lookup's literal path does.
    *    Catalyst turns a one-element `IN` into `=` and a long one into
    *    `InSet`. One bounded [[graft.index.Indexes.idsUpTo]] job reads the
    *    exact ids, and a frontier with more rows than the bound falls back.
    * None for any other frontier, which spends no job here. */
  private[graft] def literalIds(frontier: DataFrame): Option[Seq[Long]] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val lim = graft.index.Indexes.LiteralIds
    val anchor = frontier.select(col("vid"))
    if (anchor.schema.head.dataType != org.apache.spark.sql.types.LongType) None
    else anchor.queryExecution.optimizedPlan match {
      case lr: LocalRelation =>
        Some(lr.data.filterNot(_.isNullAt(0)).map(_.getLong(0)).distinct)
          .filter(_.size <= lim).map(_.sorted)
      case p if literalBound(p, p.output.head.exprId, lim) =>
        graft.index.Indexes.idsUpTo(anchor, lim, lim).left.toOption
      case _ => None
    }
  }

  /** True when every value of attribute `a` in `p`'s output is one of at
    * most `lim` literals: a filter conjunct `a = lit`, `a IN (lits)` or
    * `InSet(a, …)`, reached through filters and projections (renames). */
  private def literalBound(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      a: org.apache.spark.sql.catalyst.expressions.ExprId, lim: Int): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical._
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def bounds(e: Expression): Boolean = e match {
      case EqualTo(x: Attribute, _: Literal) => x.exprId == a
      case EqualTo(_: Literal, x: Attribute) => x.exprId == a
      case In(x: Attribute, list) =>
        x.exprId == a && list.size <= lim && list.forall(_.isInstanceOf[Literal])
      case InSet(x: Attribute, set) => x.exprId == a && set.size <= lim
      case _ => false
    }
    p match {
      case Filter(cond, child) => conjuncts(cond).exists(bounds) || literalBound(child, a, lim)
      case Project(list, child) => list.find(_.exprId == a) match {
        case Some(Alias(x: Attribute, _)) => literalBound(child, x.exprId, lim)
        case Some(x: Attribute) => literalBound(child, x.exprId, lim)
        case _ => false
      }
      case _ => false
    }
  }
}
