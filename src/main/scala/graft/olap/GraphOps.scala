package graft.olap

import graft.data.PropertyGraph
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph maintenance jobs + skew utilities — the reference's OLAP job suite
  * (tc/graphdb/olap/job/GhostVertexRemover.java, IndexRepairJob.java) and its
  * partitioned-supernode machinery (PartitionedVertexProgramExecutor,
  * FulgoraGraphComputer.java:161-174) as batch DataFrame jobs.
  */
object GraphOps {

  /** Ghost edges: edges referencing a vertex id that no longer exists
    * (half-deleted elements the reference's GhostVertexRemover scans for).
    * Pure anti-join formulation. */
  def ghostEdges(g: PropertyGraph): DataFrame = {
    val ids = g.vertices.select(col("id").as("__vid"))
    g.edges.join(ids, col("src") === col("__vid"), "left_anti")
      .unionByName(
        g.edges.join(ids, col("dst") === col("__vid"), "left_anti"))
      .dropDuplicates("id")
  }

  /** Remove ghost edges and orphan cleanup — returns the repaired graph. */
  def removeGhosts(g: PropertyGraph): PropertyGraph = {
    val ids = g.vertices.select(col("id").as("__vid"))
    val cleaned = g.edges
      .join(ids, col("src") === col("__vid"), "left_semi")
      .join(ids, col("dst") === col("__vid"), "left_semi")
    g.copy(edges = cleaned)
  }

  /** Skew-safe (salted) per-vertex aggregation — the supernode answer
    * (reference: partitioned vertex labels split hot vertices across
    * partitions; here: two-phase aggregation through a salted key).
    *
    * Phase 1 shuffles on (key, salt) — hot keys spread over `salts` reducers;
    * phase 2 merges the partials. Use for degree-like aggregations when a
    * vertex may own an unbounded fraction of edges. `aggs` must be
    * decomposable (sum/count/min/max). */
  def saltedAggregate(edges: DataFrame, key: Column, salts: Int,
      partialAggs: Seq[Column], mergeAggs: Seq[Column]): DataFrame = {
    val salted = edges.withColumn("__salt", pmod(xxhash64(monotonically_increasing_id()), lit(salts)))
    val partial = salted.groupBy(key.as("__key"), col("__salt")).agg(partialAggs.head, partialAggs.tail: _*)
    partial.groupBy(col("__key")).agg(mergeAggs.head, mergeAggs.tail: _*)
  }

  /** Salt count of the supernode routes (`VertexCentricQuery.edgeCount` and
    * `propertyCount`, `Traversal.groupCount`) and [[saltedDegree]]'s default. */
  private[graft] val SupernodeSalts = 64

  /** Salted degree count (the common case): exact per-vertex edge count with
    * bounded reducer load regardless of skew. */
  def saltedDegree(g: PropertyGraph, direction: String = "out",
      salts: Int = SupernodeSalts): DataFrame = {
    val key = if (direction == "out") col("src") else col("dst")
    saltedAggregate(g.edges, key, salts,
      partialAggs = Seq(count(lit(1)).as("__c")),
      mergeAggs = Seq(sum(col("__c")).as("degree")))
      .withColumnRenamed("__key", "id")
  }

  /** TTL view (reference: per-type TTL enforced by storage cell TTL,
    * docs/advschema.txt:20-70): filter elements whose `createdCol` is within
    * `ttlSeconds` of `now`. Evaluated at read time — a snapshot engine's
    * equivalent of expiring cells. */
  def ttlView(df: DataFrame, createdCol: String, ttlSeconds: Long,
      now: Column = current_timestamp()): DataFrame =
    df.filter(col(createdCol) + expr(s"INTERVAL $ttlSeconds SECONDS") > now)

  /** Index repair job (IndexRepairJob analogue): recompute a materialized
    * index table from base data and persist it — callers diff/replace. */
  def reindex(g: PropertyGraph, ix: graft.core.IndexDef, path: String): Unit =
    graft.index.Indexes.materialize(g, ix)
      .write.mode("overwrite").parquet(path)

  /** Rename a property key on BOTH sides at once — catalog (with cascaded
    * references, GraphSchema.renamePropertyKey) and frame columns (a
    * zero-shuffle projection) — the analogue of the reference's
    * `mgmt.changeName` (types referenced by id there, so only the label
    * moves; here names ARE the references, so both must move together).
    * Registered index tables re-derive through the same refresh the
    * mutation path uses, so an index over the renamed key keeps serving. */
  def renameProperty(g: PropertyGraph, from: String, to: String): PropertyGraph = {
    def ren(df: org.apache.spark.sql.DataFrame) =
      if (df.columns.contains(from)) df.withColumnRenamed(from, to) else df
    graft.data.GraphIO.refreshIndexTables(g.copy(
      schema = g.schema.renamePropertyKey(from, to),
      vertices = ren(g.vertices), edges = ren(g.edges)))
  }

  /** Rename an edge label end-to-end: catalog cascade (relation indexes,
    * endpoint declarations) plus the edge frame's label VALUES — unlike a
    * property rename this rewrites data, but as a zero-shuffle projection
    * (one `when` over the label column). testSchemaNameChange
    * (TitanGraphTest.java:1228-1276): the old name stops matching, the new
    * name serves every adjacency query. */
  def renameEdgeLabel(g: PropertyGraph, from: String, to: String): PropertyGraph =
    graft.data.GraphIO.refreshIndexTables(g.copy(
      schema = g.schema.renameEdgeLabel(from, to),
      edges = g.edges.withColumn("label",
        when(col("label") === from, to).otherwise(col("label")))))

  /** Rename a vertex label end-to-end (catalog + vertex frame values). */
  def renameVertexLabel(g: PropertyGraph, from: String, to: String): PropertyGraph =
    graft.data.GraphIO.refreshIndexTables(g.copy(
      schema = g.schema.renameVertexLabel(from, to),
      vertices = g.vertices.withColumn("label",
        when(col("label") === from, to).otherwise(col("label")))))

  /** Rename a graph index: catalog entry + registered table key. */
  def renameIndex(g: PropertyGraph, from: String, to: String): PropertyGraph = {
    val g2 = g.copy(schema = g.schema.renameIndex(from, to))
    g.indexTables.get(from).fold(g2)(t =>
      g2.copy(indexTables = g2.indexTables - from + (to -> t)))
  }

  /** k-hop EGO NETWORK: the induced subgraph on every vertex within `k`
    * UNDIRECTED hops of the seed set — the neighborhood-extraction primitive
    * (fraud rings, social-context windows, GNN sampling). Returns a
    * PropertyGraph of the reached vertices plus exactly the edges with BOTH
    * endpoints reached.
    *
    * Scale: at most k rounds on [[Fixpoint.run]], each one edges⨝frontier
    * semi-join. State is the reached ids, each flagged when the last round
    * found it; a round expands only that frontier (re-probing the whole
    * reached set would redo O(k·|ego|·deg) join work), and the loop stops
    * early once a round finds nothing new. The frontier count is the
    * residual and bounds the next round's broadcast. The final induction is
    * two semi-joins against the reached-id set; unreachable ghosts never
    * enter (induction is against the VERTEX table). */
  def egoNetwork(g: PropertyGraph, seeds: Seq[Long], k: Int): PropertyGraph = {
    require(seeds.nonEmpty, "egoNetwork needs at least one seed")
    require(k >= 0, s"egoNetwork: k must be >= 0, got $k")
    val spark = g.spark
    import spark.implicits._
    val und = g.edges.select(col("src").as("a"), col("dst").as("b"))
      .unionAll(g.edges.select(col("dst").as("a"), col("src").as("b")))
    var frontierN = seeds.distinct.size.toLong
    var reachedN = frontierN
    val seeded = seeds.distinct.toDF("id").select(col("id"), lit(true).as("__new"))
    val (reached, _) = Fixpoint.run("ego", k, seeded, frontierN) { (st, _) =>
      val frontier = st.filter(col("__new")).select(col("id").as("__f"))
      val next = und.join(Analytics.hint(frontier, frontierN), col("a") === col("__f"), "left_semi")
        .select(col("b").as("id")).distinct()
        .join(Analytics.hint(st.select(col("id")), reachedN), Seq("id"), "left_anti")
      st.select(col("id"), lit(false).as("__new"))
        .unionByName(next.select(col("id"), lit(true).as("__new")))
    } { st =>
      frontierN = st.filter(col("__new")).count()
      reachedN += frontierN
      frontierN
    }
    val v = g.vertices.join(Analytics.hint(reached.select(col("id").as("__rid")), reachedN),
      col("id") === col("__rid"), "left_semi")
    // induct against the SURVIVING vertex set, not the raw reached ids — a
    // dangling (ghost) endpoint inside k hops must not smuggle its edge in
    val vids = v.select(col("id").as("__vid"))
    val e = g.edges
      .join(vids, col("src") === col("__vid"), "left_semi")
      .join(vids, col("dst") === col("__vid"), "left_semi")
    g.copy(vertices = v, edges = e)
  }

  /** Graph DATASHEET — the structural health report run on every graph drop
    * (the graph twin of the corpus datasheet): one row per metric, exact
    * integers. Metrics: per-label vertex and edge counts (`v:<label>`,
    * `e:<label>`), totals, self-loop count, ghost-edge count (an endpoint
    * missing from the vertex table — the corruption applyMutations guards
    * against), max degree and isolated-vertex count.
    *
    * Scale: two grouped counts (label-keyed), one degree aggregate, one
    * two-sided ghost anti-join — each a single shuffle over its own frame;
    * nothing quadratic, nothing collected. */
  def graphDatasheet(g: PropertyGraph): DataFrame = {
    val v = g.vertices
    val e = g.edges
    val vl = v.groupBy(col("label"))
      .agg(count(lit(1)).as("value"))
      .select(concat(lit("v:"), col("label")).as("metric"), col("value"))
    val el = e.groupBy(col("label"))
      .agg(count(lit(1)).as("value"))
      .select(concat(lit("e:"), col("label")).as("metric"), col("value"))
    val totals = v.agg(count(lit(1)).as("value"))
      .select(lit("vertices").as("metric"), col("value"))
      .unionByName(e.agg(count(lit(1)).as("value"))
        .select(lit("edges").as("metric"), col("value")))
      .unionByName(e.filter(col("src") === col("dst")).agg(count(lit(1)).as("value"))
        .select(lit("self_loops").as("metric"), col("value")))
      .unionByName(ghostEdges(g).agg(count(lit(1)).as("value"))
        .select(lit("ghost_edges").as("metric"), col("value")))
    val deg = e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("__d"))
    val degStats = deg.agg(coalesce(max(col("__d")), lit(0L)).as("value"))
      .select(lit("max_degree").as("metric"), col("value"))
    val isolated = v.join(deg.select(col("id")), Seq("id"), "left_anti")
      .agg(count(lit(1)).as("value"))
      .select(lit("isolated_vertices").as("metric"), col("value"))
    vl.unionByName(el).unionByName(totals).unionByName(degStats).unionByName(isolated)
  }
}
