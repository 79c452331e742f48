package graft.olap

import graft.data.PropertyGraph
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.graphx.{Edge => GxEdge, Graph => GxGraph, VertexId, PartitionStrategy}
import org.apache.spark.sql.types.{DataType, DecimalType, LongType}
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics — the OLAP layer the reference runs through its
  * "Fulgora" BSP computer (tc/graphdb/olap/computer/FulgoraGraphComputer.java:118-300)
  * or TinkerPop SparkGraphComputer. Here: GraphX (vertex-cut partitioned,
  * message-combining aggregateMessages/Pregel), with results rejoined to the
  * vertex DataFrame — the write-back phase (FulgoraGraphComputer.java:248-300)
  * as a join instead of mutating storage.
  *
  * Scale: GraphX partitions edges with a PartitionStrategy (EdgePartition2D
  * bounds replication at sqrt(numParts) — the supernode mitigation that the
  * reference gets from partitioned vertex labels, VertexLabelMaker.partition()).
  */
object Analytics {

  /** Per-vertex degree — the reference's canonical ScanJob example
    * (tt/olap/OLAPTest.java:91-150, degree via vertex.query().edgeCount()).
    * Pure DataFrame: two partial aggregations, one shuffle each, no GraphX. */
  def degrees(g: PropertyGraph, labels: Seq[String] = Nil): DataFrame = {
    val e0 = if (labels.isEmpty) g.edges else g.edges.filter(col("label").isin(labels: _*))
    val out = e0.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_degree"))
    val in = e0.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_degree"))
    out.join(in, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .withColumn("degree", col("out_degree") + col("in_degree"))
  }

  /** Bipartite co-occurrence projection over one edge label: pairs of src
    * vertices sharing ≥ `minShared` dst neighbors, weighted by the shared
    * count (e.g. customer–customer via co-purchased parts, author–author
    * via shared papers — the standard graph-mining projection). Returns
    * (ida, idb, shared) with ida < idb.
    *
    * Scale: inverted-index join keyed by the HUB side (dst) — a dst shared
    * by m srcs yields m² pair rows, so hub dsts above `maxHubDegree` are
    * dropped with the same broadcast anti-join guard as the text dedup
    * families (a hub shared by everyone carries no co-occurrence signal,
    * exactly like a stop shingle); the pair aggregate is map-side
    * combinable keyed (ida, idb). */
  def projectBipartite(g: PropertyGraph, label: String, minShared: Long = 1L,
      maxHubDegree: Long = 100000L): DataFrame = {
    val e = g.edges.filter(col("label") === label)
      .select(col("src"), col("dst")).dropDuplicates("src", "dst")
    val hubs = e.groupBy(col("dst")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") > maxHubDegree).select(col("dst"))
    val light = hubAntiJoin(g, e, hubs, Seq("dst"))
    val a = light.select(col("dst"), col("src").as("ida"))
    val b = light.select(col("dst"), col("src").as("idb"))
    a.join(b, Seq("dst")).filter(col("ida") < col("idb"))
      .groupBy(col("ida"), col("idb")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Per-vertex BUTTERFLY (bipartite 4-cycle) counts over one edge label —
    * the bipartite analogue of the triangle count: a butterfly is two src
    * vertices sharing two dst neighbors, the densest motif a bipartite
    * graph supports, and the standard cohesion signal for user–item /
    * order–part graphs where triangles cannot exist (Sanei-Mehri et al.
    * "Butterfly Counting in Bipartite Networks", KDD'18; public). For each
    * src-side vertex: wedges = Σ_y s(x,y) (co-neighbor incidences) and
    * butterflies = Σ_y C(s(x,y), 2) where s = shared-dst count with y.
    * Returns (id, wedges, butterflies), butterflies ≥ 1 rows only.
    *
    * Scale: pair generation is exactly [[projectBipartite]] — the inverted
    * index keyed by the dst side, hub dsts above `maxHubDegree` dropped
    * before the m² pair fan-out — then ONE symmetrize + group-by-endpoint
    * pass; every aggregate is a map-side-combinable integer sum, and the
    * C(s,2) arithmetic runs on the (much smaller) pair frame, never on the
    * raw edges. */
  def butterflyCounts(g: PropertyGraph, label: String,
      maxHubDegree: Long = 100000L): DataFrame = {
    val pairs = projectBipartite(g, label, minShared = 2L, maxHubDegree)
      .select(col("ida"), col("idb"),
        col("shared"), expr("shared * (shared - 1) DIV 2").as("bf"))
    pairs.select(col("ida").as("id"), col("shared"), col("bf"))
      .unionAll(pairs.select(col("idb").as("id"), col("shared"), col("bf")))
      .groupBy(col("id"))
      .agg(sum(col("shared")).as("wedges"), sum(col("bf")).as("butterflies"))
  }

  /** RICH-CLUB coefficient per degree threshold (Zhou & Mondragón 2004;
    * Colizza et al. 2006) — do the hubs preferentially wire to each other?
    * For each k in `ks`: n_k = |{v : deg(v) > k}|, e_k = edges with BOTH
    * endpoints above k, φ(k) = 2·e_k / (n_k·(n_k−1)) as the exact
    * floor-scaled integer φ×10⁶ (NULL when n_k < 2 — no pairs to wire).
    * A rising φ(k) is the rich-club signature; flat-or-falling means hubs
    * are mediators, not a club.
    *
    * Scale: degrees once from the canonical simple edges, then BOTH counts
    * come from two tiny histograms — the degree histogram and the per-edge
    * min(deg_u, deg_v) histogram — so the threshold grid never rescans the
    * graph: each φ(k) is a filtered sum over ≤|distinct degrees| rows
    * (broadcast-sized at any corpus), one |E| join total. */
  def richClub(g: PropertyGraph, ks: Seq[Long] = Seq(0L, 1L, 2L, 4L, 8L, 16L, 32L)): DataFrame = {
    require(ks.nonEmpty, "richClub: need at least one threshold")
    val e = simpleEdges(g)
    val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val dh = deg.groupBy(col("d")).agg(count(lit(1)).as("c"))
    val eh = e.join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      .select(least(col("du"), col("dv")).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("c"))
    val spark = g.spark
    import spark.implicits._
    val grid = ks.toDF("k")
    val nk = grid.crossJoin(broadcast(dh)).filter(col("d") > col("k"))
      .groupBy(col("k")).agg(sum(col("c")).as("nk"))
    val ek = grid.crossJoin(broadcast(eh)).filter(col("m") > col("k"))
      .groupBy(col("k")).agg(sum(col("c")).as("ek"))
    grid.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .select(col("k"), coalesce(col("nk"), lit(0L)).as("nk"),
        coalesce(col("ek"), lit(0L)).as("ek"),
        when(coalesce(col("nk"), lit(0L)) >= 2,
          expr("2 * coalesce(ek, 0L) * 1000000L DIV (nk * (nk - 1))")).as("phi_x1e6"))
  }

  /** Weighted single-source shortest distance — reference
    * tt/olap/ShortestDistanceVertexProgram.java:26-146 with its min-combiner
    * (ShortestDistanceMessageCombiner). GraphX Pregel with min merge. */
  def shortestDistance(g: PropertyGraph, source: Long, weightCol: Option[String] = None,
      maxIter: Int = Int.MaxValue): DataFrame = {
    val gx = g.toGraphX(weightCol).partitionBy(PartitionStrategy.EdgePartition2D)
    val init = gx.mapVertices((id, _) => if (id == source) 0.0 else Double.PositiveInfinity)
    val res = org.apache.spark.graphx.Pregel(init, Double.PositiveInfinity, maxIter)(
      vprog = (_, dist, msg) => math.min(dist, msg),
      sendMsg = t =>
        if (t.srcAttr + t.attr < t.dstAttr) Iterator((t.dstId, t.srcAttr + t.attr))
        else Iterator.empty,
      mergeMsg = math.min)
    toDF(g.spark, res.vertices.filter(_._2 < Double.PositiveInfinity), "id", "distance")
  }

  /** Per-vertex triangle count (canonical orientation dedups). */
  def triangleCount(g: PropertyGraph): DataFrame = {
    val gx = g.toGraphXStructure
      .partitionBy(PartitionStrategy.EdgePartition2D)
    val tc = gx.triangleCount().vertices
    toDF(g.spark, tc.map { case (id, n) => (id, n.toLong) }, "id", "triangles")
  }

  /** Canonical undirected simple edge set (u < v, loops and duplicate
    * orientations removed) — the graph every triangle/wedge statistic is
    * defined over (GraphX's triangleCount canonicalizes identically). */
  private[graft] def simpleEdges(g: PropertyGraph): DataFrame =
    g.edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()

  /** Per-vertex triangle count, DataFrame-native — the degree-ordered
    * wedge-closure algorithm (the MapReduce-era standard: Suri & Vassilvitskii
    * "Counting Triangles and the Curse of the Last Reducer", WWW'11; public).
    * Each edge is oriented from lower to higher (degree, id) rank; wedges
    * form only at an edge's LOW-rank corner, so the per-vertex wedge fan-out
    * is bounded by O(√m) regardless of skew — a supernode of degree d
    * contributes d wedges as a leaf, not d² as a center ("the curse of the
    * last reducer" is exactly the unoriented hub center). Closure is one
    * equi-join of wedges against the oriented edge set; each triangle
    * materializes exactly once (a = lowest rank, b = middle, c = highest)
    * and explodes to its three corners for the per-vertex count.
    *
    * Same per-vertex counts as [[triangleCount]] on shared ids (asserted in
    * AnalyticsSpec); the VERTEX UNIVERSES differ at the margins — this path
    * reports every vertex of g.vertices (isolated vertices at 0) and drops
    * ghost endpoints absent from the vertex table, while GraphX derives its
    * universe from edge endpoints (isolated omitted, ghosts included).
    * Unlike the GraphX path it stays in Tungsten rows + whole-stage codegen
    * end to end, with no RDD round-trip. Shuffle profile: one |E| distinct, one degree
    * agg, rank-attach joins, a wedge self-join keyed on the low corner, and
    * the closure join keyed on (b,c) — wedge volume ≤ Σ_a outdeg(a)² =
    * O(m^{3/2}) by the orientation bound. */
  def triangleCountDF(g: PropertyGraph): DataFrame = {
    // reused by the wedge AND closure sides — served from the bounded
    // per-session LRU so repeated calls don't leak a CacheManager entry
    val oriented = graft.core.PlanCache.cached(g.spark,
      graft.core.PlanCache.key("tri-oriented", g.edges)) {
      orientEdges(simpleEdges(g), simpleDegrees(g))
    }
    val corners = triangleInstancesFrom(oriented)
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
    g.vertices.select(col("id")).join(corners, Seq("id"), "left")
      .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Simple-graph degrees (over [[simpleEdges]]) — served from the bounded
    * per-session LRU so the triangle family and [[clusteringCoefficient]]
    * share ONE |E| distinct + degree aggregate instead of re-running them. */
  private[graft] def simpleDegrees(g: PropertyGraph): DataFrame =
    graft.core.PlanCache.cached(g.spark,
      graft.core.PlanCache.key("tri-degrees", g.edges)) {
      degreesOf(simpleEdges(g))
    }

  private def degreesOf(e: DataFrame): DataFrame =
    e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))

  /** Degree-ordered orientation of a canonical simple edge set: each edge
    * becomes (a, b, db) with rank(a) < rank(b) under rank = (degree, id),
    * carrying b's degree so wedge pairs can be ordered without a re-join. */
  private def orientEdges(e: DataFrame, deg: DataFrame): DataFrame = {
    // both degree attaches project deg IDENTICALLY so their broadcast
    // exchanges canonicalize to ONE build per call (ReuseExchange — kTruss
    // calls this every round with a hinted deg; the (u→du)/(v→dv)
    // projections built it twice per round before, r18)
    def degP = deg.select(col("id").as("__j"), col("d").as("__jd"))
    e.join(degP, col("u") === col("__j"))
      .select(col("u"), col("v"), col("__jd").as("du"))
      .join(degP, col("v") === col("__j"))
      .select(col("u"), col("v"), col("du"), col("__jd").as("dv"))
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("a"), col("v").as("b"), col("dv").as("db")))
          .otherwise(struct(col("v").as("a"), col("u").as("b"), col("du").as("db")))
          .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"), col("e.db").as("db"))
  }

  /** Triangle instances (a, b, c) from an oriented layout, each exactly once
    * (a = lowest rank, then b, c): wedges at the low-rank corner closed by
    * one equi-join against the oriented edges. */
  // `attach` lets callers who KNOW the oriented frame's row count
  // broadcast-hint the wedge and closure joins (kTruss does — its per-round
  // edge count is already tracked): without it the closure join exchanges
  // AND sorts the wedge frame (O(m^{3/2}) rows — r17 measured 12.5M wedge
  // rows shipped through a SortMergeJoin per k-truss round at sf0.1, the
  // round's dominant cost); with it the wedges never leave their partitions.
  private def triangleInstancesFrom(oriented: DataFrame,
      attach: DataFrame => DataFrame = identity): DataFrame = {
    val w1 = oriented.select(col("a"), col("b"), col("db"))
    val w2 = attach(oriented.select(col("a"), col("b").as("c"), col("db").as("dc")))
    val wedges = w1.join(w2, Seq("a"))
      .filter(struct(col("db"), col("b")) < struct(col("dc"), col("c")))
      .select(col("a"), col("b"), col("c"))
    wedges.join(attach(oriented.select(col("a").as("b"), col("b").as("c"))), Seq("b", "c"))
  }

  /** k-truss decomposition by synchronous support peeling: each round drops
    * every surviving edge contained in fewer than k−2 surviving triangles,
    * until a round removes nothing or `maxRounds` elapse (the standard
    * cohesive-subgraph relaxation of cliques — Cohen, "Trusses: cohesive
    * subgraphs for social network analysis", 2008; public). Returns the
    * surviving canonical edges (u, v); vertices of the truss are their
    * endpoints. Fixed synchronous rounds keep the result oracle-expressible
    * (the SQL mirror recomputes support per round), like [[kCore]].
    *
    * Scale: per-round support comes from the degree-ORIENTED triangle
    * enumeration ([[triangleInstancesFrom]] — hub corners bounded at O(√m)
    * fan-out), exploded to each triangle's three edges and counted — never
    * the unoriented common-neighbor join whose hub centers explode. The
    * oriented layout is persisted for the round's two consumers and dropped
    * at round end; lineage truncates via lazy checkpoint + the round's own
    * convergence count. */
  def kTruss(g: PropertyGraph, k: Int, maxRounds: Int = 5): DataFrame = {
    val (result, outcome) = kTrussOutcome(g, k, maxRounds)
    Fixpoint.warnIfExhausted(s"kTruss(k=$k)", outcome,
      "result is a SUPERSET of the true k-truss; raise maxRounds or use kTrussConverged")
    result
  }

  /** kTruss with an explicit convergence flag: (surviving edges, converged).
    * The orientation order is frozen at the ROUND-0 degrees: any total order
    * yields each triangle exactly once and support counts are
    * orientation-independent, so correctness is untouched — but every later
    * round skips its degree aggregate and the two rank-attach joins run
    * against one persisted frame instead of a fresh shuffle. Peeling removes
    * few edges per round, so the wedge-bound quality of the frozen order
    * barely degrades. */
  def kTrussConverged(g: PropertyGraph, k: Int, maxRounds: Int = 5): (DataFrame, Boolean) = {
    val (result, outcome) = kTrussOutcome(g, k, maxRounds)
    (result, outcome.converged)
  }

  private def kTrussOutcome(g: PropertyGraph, k: Int, maxRounds: Int): (DataFrame, Outcome) = {
    require(k >= 3, s"kTruss needs k >= 3 (k=2 keeps every edge), got $k")
    val e0 = simpleEdges(g).transform(roundBarrier)
    var cur = e0.count()
    // deg0 is vertex-sized: count it once (the count also materializes the
    // persist) and broadcast-hint the rank-attach joins while it fits —
    // the checkpointed e frame hides stats from AQE, so without the hint
    // round 1 plans both rank attaches as shuffle joins
    val deg0 = degreesOf(e0).persist(StorageLevel.MEMORY_AND_DISK)
    val deg0Hinted = hint(deg0, deg0.count())
    var oriented: DataFrame = null
    Fixpoint.run("ktruss", maxRounds, e0, residual0 = cur, owned = Seq(deg0)) { (e, _) =>
      oriented = orientEdges(e, deg0Hinted).persist(StorageLevel.MEMORY_AND_DISK)
      // support(edge) = triangles containing it: explode each instance into
      // its three canonical edges (orientation is by rank, so re-canonicalize
      // by id before counting). The oriented frame is edge-count-sized (cur
      // rows, maintained by the loop), so the wedge/closure joins broadcast
      // it while it fits — the wedge frame then never exchanges. It is
      // EDGE-shaped and hinted at two concurrent attach sites, so it is
      // gated on the tighter edge-row cap.
      val sup = triangleInstancesFrom(oriented, d => hint(d, cur, edgeShaped = true))
        .select(explode(array(
          struct(col("a").as("x"), col("b").as("y")),
          struct(col("a").as("x"), col("c").as("y")),
          struct(col("b").as("x"), col("c").as("y")))).as("p"))
        .select(least(col("p.x"), col("p.y")).as("u"),
          greatest(col("p.x"), col("p.y")).as("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("__sup"))
      e.join(sup, Seq("u", "v"), "left")
        .filter(coalesce(col("__sup"), lit(0L)) >= (k - 2).toLong)
        .select(col("u"), col("v"))
    } { next =>
      val n = next.count() // materializes the round; doubles as convergence
      oriented.unpersist(false)
      val removed = cur - n
      cur = n
      if (n == 0L) 0L else removed
    }
  }

  /** Edge embeddedness — the per-edge triangle count (support): how many
    * common neighbors an edge's endpoints share. The classic tie-strength /
    * link-analysis feature (Granovetter-style weak ties have support 0) and
    * exactly the quantity [[kTruss]] peels on, exposed as a one-pass
    * statistic: every canonical edge with its support, zero included.
    *
    * Scale: one degree-oriented triangle enumeration ([[triangleInstancesFrom]]
    * — hub fan-out bounded at O(√m)) exploded to its three edges and
    * counted; never the per-edge common-neighbor join whose hubs explode. */
  def edgeSupport(g: PropertyGraph): DataFrame = {
    val e = simpleEdges(g)
    // the same PlanCache entry triangleCountDF/clusteringCoefficient share:
    // one session computes the oriented layout once for the whole family
    val oriented = graft.core.PlanCache.cached(g.spark,
      graft.core.PlanCache.key("tri-oriented", g.edges)) {
      orientEdges(e, simpleDegrees(g))
    }
    val sup = triangleInstancesFrom(oriented)
      .select(explode(array(
        struct(col("a").as("x"), col("b").as("y")),
        struct(col("a").as("x"), col("c").as("y")),
        struct(col("b").as("x"), col("c").as("y")))).as("p"))
      .select(least(col("p.x"), col("p.y")).as("u"),
        greatest(col("p.x"), col("p.y")).as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
    e.join(sup, Seq("u", "v"), "left")
      .select(col("u"), col("v"), coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Per-vertex local clustering coefficient over the canonical simple
    * graph: triangles(v) / (deg(v) choose 2). Emitted EXACTLY — `triangles`
    * and `wedges` = d(d−1)/2 as integers plus `coeff_x1e6` =
    * ⌊10⁶·triangles/wedges⌋ (floor division is engine-agnostic; divide by
    * 10⁶ for the float value; wedges = 0 ⇒ 0). Rides [[triangleCountDF]]'s
    * shuffle profile plus one degree aggregate — both over the shared
    * cached oriented layout. */
  def clusteringCoefficient(g: PropertyGraph): DataFrame = {
    val deg = simpleDegrees(g)
    triangleCountDF(g).join(deg, Seq("id"), "left")
      .select(col("id"), col("triangles"),
        expr("coalesce(d, 0L) * (coalesce(d, 0L) - 1L) DIV 2").as("wedges"))
      .select(col("id"), col("triangles"), col("wedges"),
        when(col("wedges") > 0L, expr("triangles * 1000000L DIV wedges"))
          .otherwise(lit(0L)).as("coeff_x1e6"))
  }

  /** Degree-assortativity moment sums over the canonical simple graph —
    * the exact integer ingredients of Newman's degree-correlation
    * coefficient r (Newman, "Assortative mixing in networks", 2002;
    * public): over all 2|E| directed endpoint pairs (x = deg(u),
    * y = deg(v)), emit m2 = 2|E|, Σxy, Σx, Σx² as one row of DECIMAL(38,0)
    * (overflow-proof at any scale; both orientations make Σx = Σy and
    * Σx² = Σy², so four sums suffice). r = (m2·Σxy − Σx²̂) / (m2·Σx² − Σx·Σx)
    * computed caller-side in one line — the engine ships only exact,
    * order-insensitive sums, which is what makes the statistic
    * oracle-checkable bit-for-bit. Shuffle profile: one degree aggregate +
    * two vertex-keyed joins + one global aggregate. */
  def degreeAssortativity(g: PropertyGraph): DataFrame = {
    val e = simpleEdges(g)
    val both = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val deg = both.groupBy(col("u")).agg(count(lit(1)).as("d"))
    both.join(deg.select(col("u"), col("d").as("dx")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("d").as("dy")), Seq("v"))
      .agg(count(lit(1)).as("m2"),
        sum((col("dx") * col("dy")).cast("decimal(38,0)")).as("sum_xy"),
        sum(col("dx").cast("decimal(38,0)")).as("sum_x"),
        sum((col("dx") * col("dx")).cast("decimal(38,0)")).as("sum_x2"))
  }

  /** Neighborhood Jaccard similarity for every vertex pair sharing ≥
    * `minShared` common neighbors: `inter` = |N(x)∩N(y)|, `uni` =
    * |N(x)∪N(y)| = d(x)+d(y)−inter, and `jaccard_x1e6` = ⌊10⁶·inter/uni⌋ —
    * all exact integers over the canonical simple graph (the standard
    * structural-equivalence / link-prediction feature). `label` restricts
    * the graph to one edge label first (the bipartite case: co-purchase /
    * co-containment similarity).
    *
    * Scale: pairs are generated at their common neighbor (one self-join
    * keyed by the center), so a degree-d center fans out d² pairs —
    * centers above `maxHubDegree` are EXCLUDED as centers (deterministic,
    * oracle-mirrorable, same stop-hub cap as [[projectBipartite]]); pairs
    * reachable only through capped hubs are dropped (recall cap, documented
    * here), while d(x)/d(y) in the denominator stay TRUE degrees. */
  def neighborJaccard(g: PropertyGraph, label: Option[String] = None,
      minShared: Long = 1L, maxHubDegree: Long = 100000L): DataFrame = {
    val (_, light, deg) = hubCappedAdjacency(g, label, maxHubDegree)
    val pairs = commonNeighborCounts(light, minShared)
    pairs
      .join(deg.select(col("x"), col("d").as("dx")), Seq("x"))
      .join(deg.select(col("x").as("y"), col("d").as("dy")), Seq("y"))
      .select(col("x").as("ida"), col("y").as("idb"), col("inter"),
        (col("dx") + col("dy") - col("inter")).as("uni"))
      .select(col("ida"), col("idb"), col("inter"), col("uni"),
        expr("inter * 1000000L DIV uni").as("jaccard_x1e6"))
  }

  /** Adamic–Adar link-prediction index for every vertex pair sharing ≥
    * `minShared` common neighbors: AA(x,y) = Σ_{a ∈ N(x)∩N(y)} 1/ln d(a) —
    * rare shared neighbors predict links more strongly than hubs (Adamic &
    * Adar 2003). Emitted next to the raw common-neighbor count `inter` (the
    * preferential-attachment baseline feature set). A common neighbor has
    * d(a) ≥ 2, so ln d(a) ≥ ln 2 > 0 — no singular weights.
    *
    * Scale + determinism: same common-neighbor self-join shape as
    * [[neighborJaccard]] — pairs materialize at their shared center (one
    * equi-join keyed by the center, d² fanout capped by excluding centers
    * above `maxHubDegree`), per-center weight is computed ONCE on the
    * degree frame (round(1/ln d, 9) — the cross-engine ln recipe of
    * [[graft.pipeline.TextAnalysis.bigramLogProb]]), and the pair aggregate
    * sums 9-dp-pinned weights in DECIMAL (map-side combinable, exact). */
  def adamicAdar(g: PropertyGraph, label: Option[String] = None,
      minShared: Long = 1L, maxHubDegree: Long = 100000L): DataFrame = {
    val (_, light, deg) = hubCappedAdjacency(g, label, maxHubDegree)
    // weight carried BY the center row into the pair join: one weight
    // computation per center, not per pair. d = 1 vertices can never be a
    // common neighbor, and ln 1 = 0 would trip ANSI division — drop them
    // before the divide, not after the join.
    val w = deg.filter(col("d") >= 2).select(col("x").as("a"),
      round(lit(1.0) / log(col("d").cast("double")), 9)
        .cast(DecimalType(28, 12)).as("w"))
    light.select(col("a"), col("x"))
      .join(light.select(col("a"), col("x").as("y")), Seq("a"))
      .filter(col("x") < col("y"))
      .join(w, Seq("a"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("inter"), sum(col("w")).as("ws"))
      .filter(col("inter") >= minShared)
      .select(col("x").as("ida"), col("y").as("idb"), col("inter"),
        round(col("ws").cast("double"), 6).as("aa"))
  }

  /** The full classic link-prediction feature sheet in ONE pair pass:
    * for every vertex pair sharing ≥ `minShared` common neighbors,
    *   inter — common-neighbor count (Newman 2001),
    *   pa    — preferential attachment d(x)·d(y) (Barabási),
    *   aa    — Adamic–Adar Σ 1/ln d(a) (Adamic & Adar 2003),
    *   ra    — resource allocation Σ 1/d(a) (Zhou et al. 2009).
    * The ML-feature-extraction twin of [[adamicAdar]]: models train on the
    * whole sheet, so computing the four measures in one job beats four
    * separate pair joins.
    *
    * Scale + determinism: the SAME single hub-capped common-neighbor join
    * as [[adamicAdar]] — both per-center weights (round(1/ln d, 9) and
    * round(1/d, 9), the cross-engine ln/division recipe) ride the center
    * row into the pair join, so the pair aggregate stays one shuffle with
    * map-side-combinable DECIMAL sums; the degree product joins AFTER the
    * aggregate (two broadcast-size lookups keyed by endpoint, never a
    * per-pair-row weight recomputation). */
  def linkPredictionScores(g: PropertyGraph, label: Option[String] = None,
      minShared: Long = 1L, maxHubDegree: Long = 100000L): DataFrame = {
    val (_, light, deg) = hubCappedAdjacency(g, label, maxHubDegree)
    // common neighbors have d ≥ 2 (they touch both endpoints), so the d = 1
    // rows dropped here can never appear as a center — and ln 1 = 0 stays
    // out of the divide
    val w = deg.filter(col("d") >= 2).select(col("x").as("a"),
      round(lit(1.0) / log(col("d").cast("double")), 9)
        .cast(DecimalType(28, 12)).as("wln"),
      round(lit(1.0) / col("d").cast("double"), 9)
        .cast(DecimalType(28, 12)).as("wd"))
    light.select(col("a"), col("x"))
      .join(light.select(col("a"), col("x").as("y")), Seq("a"))
      .filter(col("x") < col("y"))
      .join(w, Seq("a"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("inter"), sum(col("wln")).as("wls"),
        sum(col("wd")).as("wds"))
      .filter(col("inter") >= minShared)
      .join(deg.select(col("x"), col("d").as("dx")), Seq("x"))
      .join(deg.select(col("x").as("y"), col("d").as("dy")), Seq("y"))
      .select(col("x").as("ida"), col("y").as("idb"), col("inter"),
        (col("dx") * col("dy")).as("pa"),
        round(col("wls").cast("double"), 6).as("aa"),
        round(col("wds").cast("double"), 6).as("ra"))
  }

  /** Shared link-analysis machinery: the (optionally label-restricted)
    * canonical simple edges, the undirected adjacency with centers above
    * `maxHubDegree` removed (the d² pair fan-out cap of [[neighborJaccard]]),
    * and the TRUE degree frame. One definition for the whole link family —
    * [[neighborJaccard]], [[adamicAdar]], [[recommendLinks]]. */
  private def hubCappedAdjacency(g: PropertyGraph, label: Option[String],
      maxHubDegree: Long): (DataFrame, DataFrame, DataFrame) = {
    val base = label.map(l => g.edges.filter(col("label") === l)).getOrElse(g.edges)
    // NOTE (r18, measured): do NOT PlanCache/persist these frames. The
    // logical plan references them 2-3× (the common-neighbor self-join reads
    // `light` twice; recommendLinks anti-joins `e`), but Spark's exchange
    // reuse already shares the repeated shuffle stages at runtime — caching
    // them replaced that free reuse with a columnar InMemoryRelation build +
    // per-row decode on the wedge join's streamed side and made
    // q_recommend_links 2-5× SLOWER at sf0.1 (25.4 s all-cached / 8.9 s
    // e+deg-cached vs 4.5 s uncached, same session — BENCH_AB.md r18).
    val e = simpleEdges(g.copy(edges = base))
    // adjacency, both roles: (x, a) ⇔ a ∈ N(x)
    val adj = e.select(col("u").as("x"), col("v").as("a"))
      .unionAll(e.select(col("v").as("x"), col("u").as("a")))
    val deg = adj.groupBy(col("x")).agg(count(lit(1)).as("d"))
    val hubs = deg.filter(col("d") > maxHubDegree).select(col("x").as("a"))
    (e, hubAntiJoin(g, adj, hubs, Seq("a")), deg)
  }

  /** Common-neighbor pair counts over a hub-capped adjacency: (x < y,
    * inter ≥ minShared), pairs materialized at their shared center. */
  private def commonNeighborCounts(light: DataFrame, minShared: Long): DataFrame =
    light.select(col("a"), col("x"))
      .join(light.select(col("a"), col("x").as("y")), Seq("a"))
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("inter"))
      .filter(col("inter") >= minShared)

  /** Triangle-closing link recommendations — per vertex, the top-`k`
    * NON-adjacent vertices ranked by common-neighbor count (the
    * friend-of-a-friend recipe; ties → smallest candidate id, fully
    * deterministic). Output is directed: (id, rec, inter, rank) — each
    * vertex gets its own ranked list.
    *
    * Scale: pair generation is the same hub-capped common-neighbor join as
    * [[neighborJaccard]]; existing edges drop via one anti-join on the
    * canonical pair; the per-vertex top-k is a rank-limit window (Spark
    * plans WindowGroupLimit — the ≤k cut happens map-side, so only k rows
    * per vertex cross the exchange). */
  def recommendLinks(g: PropertyGraph, label: Option[String] = None,
      k: Int = 5, minShared: Long = 1L,
      maxHubDegree: Long = 100000L): DataFrame = {
    require(k >= 1, "recommendLinks: k >= 1")
    val (e, light, _) = hubCappedAdjacency(g, label, maxHubDegree)
    val cand = commonNeighborCounts(light, minShared)
      // drop pairs that are already edges (both frames are canonical x<y)
      .join(e.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"), "left_anti")
    val sym = cand.select(col("x").as("id"), col("y").as("rec"), col("inter"))
      .unionAll(cand.select(col("y").as("id"), col("x").as("rec"), col("inter")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("inter").desc, col("rec").asc)
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic synchronous label propagation — `rounds` supersteps; each
    * vertex adopts the MOST FREQUENT label among its undirected neighbors,
    * ties broken by the smallest label. GraphX's LPA leaves ties to hash-map
    * iteration order, so its communities are not reproducible across runs;
    * this variant is bit-deterministic and therefore oracle-checkable.
    * Same partition-once / broadcast-regime scaling as
    * connectedComponentsExact: the edge list is laid out on the aggregation
    * key once, the vertex-sized label frame broadcasts while it fits, and
    * each round is two map-side-combinable aggregates (count, then argmax)
    * plus lineage truncation. Isolated vertices keep their own label. */
  def labelPropagationExact(g: PropertyGraph, rounds: Int = 3): DataFrame = {
    val und = g.edges.select(col("src"), col("dst"))
      .unionAll(g.edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ids = g.vertices.select(col("id"))
    // LAZY checkpoints: the plan truncates immediately (constant-size across
    // rounds) but materialization rides the next action over the frame — the
    // count below, or the next round's — instead of costing a dedicated
    // per-round job (eager localCheckpoint runs its own count internally).
    val labels0 = ids.select(col("id"), col("id").as("l")).transform(roundBarrier)
    val vCount = labels0.count()
    val labels = Fixpoint.fixedRounds("lpa", rounds, labels0, owned = Seq(und)) { (labels, _) =>
      val freq = und.join(hint(labels, vCount), und("dst") === labels("id"))
        .groupBy(und("src").as("id"), col("l"))
        .agg(count(lit(1)).as("__c"))
      val adopted = freq.groupBy(col("id"))
        .agg(max_by(col("l"), struct(col("__c"), (-col("l")).as("__nl"))).as("__a"))
      labels.join(adopted, Seq("id"), "left")
        .select(col("id"), coalesce(col("__a"), col("l")).as("l"))
    }
    labels.select(col("id"), col("l").as("community"))
  }

  /** PageRank in exact fixed-point integer arithmetic — bit-identical across
    * engines and run orders, so it can be oracle-checked (double PageRank is
    * summation-order dependent). Ranks are scaled by 10¹² (rank 1.0 = 10¹²);
    * one iteration is `rank' = 0.15·S + 85·(Σ contrib DIV 100)` with
    * `contrib = rank DIV outdeg` — all BIGINT ops, order-insensitive integer
    * sums. Damping/iteration semantics follow the reference's
    * PageRankVertexProgram (tt/olap/PageRankVertexProgram.java:31-110,
    * damping 0.85, fixed iteration count; dangling mass is dropped, as in
    * GraphX staticPageRank). Runs on [[powerIteration]] over the cached
    * (src, dst, outdeg) projection ([[outDegreeEdges]]). */
  def pageRankFixedPoint(g: PropertyGraph, iterations: Int = 10): DataFrame =
    powerIteration("pagerank", g, iterations, lit(RankScale)) { (ids, ranks) =>
      spread(ids, outDegreeEdges(g), ranks, expr("r DIV __deg"))(
        lit(15L * (RankScale / 100L)) + lit(85L) * expr("s DIV 100"))
    }.select(col("id"), col("r").as("rank_fp"))

  /** Edge-WEIGHTED PageRank in [[pageRankFixedPoint]]'s exact fixed-point
    * integer arithmetic: rank flows along each edge proportional to its
    * weight — contribution = ⌊r·w / Σw(u)⌋, computed with the overflow-safe
    * decomposition (r DIV Σw)·w + ((r MOD Σw)·w) DIV Σw so hub ranks times
    * heavy weights never wrap. Weights must be positive Longs (quantities,
    * counts, capped scores — the probe uses lineitem quantities); zero or
    * negative weights fail loudly. Same rounds as the unweighted fixed point
    * over a PlanCache-served 24-byte edge projection. */
  def pageRankWeightedFixedPoint(g: PropertyGraph, weight: Column,
      iterations: Int = 10): DataFrame = {
    // nulls coalesce to -1 so the positivity check below catches them; once
    // validation passes, the coalesce is an identity
    val e = g.edges.select(col("src"), col("dst"),
      coalesce(weight.cast("long"), lit(-1L)).as("__w"))
    val ed = graft.core.PlanCache.cached(g.spark,
      graft.core.PlanCache.key(s"wpagerank-edges-${weight.toString}", g.edges)) {
      // weight validation rides the cache MISS only (one grouped pass, no
      // dedicated scan per call): positivity, plus the overflow bound the
      // floor decomposition needs — (r MOD Σw)·w < Σw·maxW must stay under
      // 2^63 or contributions wrap silently (DuckDB raises; Spark wraps)
      val sw = e.groupBy(col("src")).agg(sum(col("__w")).as("__sw"),
        min(col("__w")).as("__mn"), max(col("__w")).as("__mx"))
      val chk = sw.agg(min(col("__mn")).as("minW"), max(col("__mx")).as("maxW"),
        max(col("__sw")).as("maxSw")).head
      if (!chk.isNullAt(0)) { // empty edge set: nothing to validate
        require(chk.getLong(0) > 0L,
          "pageRankWeightedFixedPoint: weights must be positive and non-null " +
            "(rank mass flows ∝ w)")
        require(BigInt(chk.getLong(2)) * BigInt(chk.getLong(1)) < BigInt(Long.MaxValue),
          s"pageRankWeightedFixedPoint: Σw(src)=${chk.getLong(2)} × maxW=${chk.getLong(1)} " +
            "would overflow the exact floor decomposition — rescale the weights")
      }
      e.join(sw.select(col("src"), col("__sw")), Seq("src"))
        .select(col("src"), col("dst"), col("__w"), col("__sw"))
    }
    powerIteration("pagerank_weighted", g, iterations, lit(RankScale)) { (ids, ranks) =>
      spread(ids, ed, ranks, expr("(r DIV __sw) * __w + ((r % __sw) * __w) DIV __sw"))(
        lit(15L * (RankScale / 100L)) + lit(85L) * expr("s DIV 100"))
    }.select(col("id"), col("r").as("rank_fp"))
  }

  /** Katz centrality in [[pageRankFixedPoint]]'s exact fixed-point integer
    * arithmetic: x ← β + α·Aᵀx (Katz 1953) — unlike PageRank, the FULL rank
    * of a neighbor flows along every edge (no degree division), damped by
    * the attenuation factor α = `alphaNum`/`alphaDen`, so long-range
    * influence decays geometrically with path length. β is the 10¹² unit
    * mass. Converges iff α · max-in-degree < 1; the cache-miss validation
    * enforces exactly that (with the BigInt bound check that keeps every
    * intermediate under 2⁶³), so a graph too dense for the chosen α fails
    * loudly instead of silently wrapping. α applies ONCE post-sum
    * (⌊αnum·Σ/αden⌋), one floor per vertex per round, mirrored exactly by
    * the oracle. */
  def katzFixedPoint(g: PropertyGraph, alphaNum: Long = 1L,
      alphaDen: Long = 10000L, iterations: Int = 8): DataFrame = {
    require(alphaNum > 0 && alphaDen > alphaNum,
      "katzFixedPoint: need 0 < alpha = alphaNum/alphaDen < 1")
    // alpha participates in the cache key: the divergence/overflow guard
    // below depends on it, so a cached projection validated for one alpha
    // must not silently serve a looser one
    val e = graft.core.PlanCache.cached(g.spark,
      graft.core.PlanCache.key(s"katz-edges-$alphaNum-$alphaDen", g.edges)) {
      val ed = g.edges.select(col("src"), col("dst"))
      // contraction + overflow bound ride the cache miss: with D = max
      // in-degree, ranks stay ≤ S·αden/(αden − αnum·D) =: B and the per-
      // vertex message product αnum·D·B must fit a Long
      val mx = ed.groupBy(col("dst")).agg(count(lit(1)).as("d"))
        .agg(max(col("d"))).head
      if (!mx.isNullAt(0)) {
        val d = mx.getLong(0)
        require(alphaNum * d < alphaDen,
          s"katzFixedPoint: alpha=$alphaNum/$alphaDen × max-in-degree=$d ≥ 1 — " +
            "the Katz series diverges; shrink alpha")
        val bound = (BigInt(RankScale) * alphaDen) / (BigInt(alphaDen) - BigInt(alphaNum) * d)
        require(BigInt(alphaNum) * d * bound < BigInt(Long.MaxValue),
          s"katzFixedPoint: αnum·D·bound=${alphaNum * d}·$bound would overflow — shrink alpha")
      }
      ed
    }
    powerIteration("katz", g, iterations, lit(RankScale)) { (ids, ranks) =>
      spread(ids, e, ranks, col("r"))(lit(RankScale) + expr(s"($alphaNum * s) DIV $alphaDen"))
    }.select(col("id"), col("r").as("katz_fp"))
  }

  /** HITS hubs-and-authorities in exact fixed-point integer arithmetic
    * (Kleinberg's algorithm; beyond reference parity — the reference ships
    * only PageRank — but the same OLAP machinery): per iteration the hub
    * score is the sum of pointed-to authority scores and vice versa, each
    * renormalized to a 10⁶ scale by integer division by the round's maximum
    * (floating-point L2 normalization is summation-order dependent; the
    * integer max-norm is bit-exact on any engine, so the result is
    * hash-oracle-checkable). One [[powerIteration]] round is both half-steps,
    * each a [[spread]] with the 1-row maximum broadcast, each barriered. */
  def hitsFixedPoint(g: PropertyGraph, iterations: Int = 4): DataFrame = {
    val S = 1000000L
    val e = graft.core.PlanCache.cached(g.spark,
      graft.core.PlanCache.key("hits-edges", g.edges)) {
      g.edges.select(col("src"), col("dst"))
    }
    val back = e.select(col("dst").as("src"), col("src").as("dst"))
    val normalized = when(col("__m").isNull || col("__m") === 0L, lit(0L))
      .otherwise(expr(s"s * BIGINT($S) DIV __m"))
    var hub = rankIds(g).select(col("id"), lit(S).as("r"))
    val auth = powerIteration("hits", g, iterations, lit(S)) { (ids, auth) =>
      hub = roundBarrier(spread(ids, back, auth, col("r"), byMax = true)(normalized))
      spread(ids, e, hub, col("r"), byMax = true)(normalized)
    }
    hub.select(col("id"), col("r").as("hub"))
      .join(auth.select(col("id"), col("r").as("auth")), Seq("id"))
  }

  /** Personalized PageRank in the same exact fixed-point integer arithmetic
    * as [[pageRankFixedPoint]] (bit-identical across engines / run orders ⇒
    * oracle-checkable): the teleport vector concentrates on `sources`
    * instead of spreading uniformly — the random surfer restarts at a source
    * with probability 0.15, so rank measures proximity to the source set
    * (the standard PPR recommendation primitive; the reference's
    * PageRankVertexProgram generalizes the same way by seeding its initial
    * state). Each source carries full restart mass 0.15·S (un-normalized
    * across sources — deterministic and scale-free; divide by |sources|
    * downstream if a distribution is needed). Only vertices with non-zero
    * rank return — PPR mass is sparse, so at 100 TB the result is a small
    * frame even when the graph is not. Same rounds as pageRankFixedPoint. */
  def personalizedPageRankFixedPoint(g: PropertyGraph, sources: Seq[Long],
      iterations: Int = 10): DataFrame = {
    require(sources.nonEmpty, "personalized PageRank needs at least one source")
    val isSrc = col("id").isin(sources: _*)
    powerIteration("ppr", g, iterations, when(isSrc, lit(RankScale)).otherwise(lit(0L))) {
      (ids, ranks) =>
        spread(ids, outDegreeEdges(g), ranks, expr("r DIV __deg"))(
          when(isSrc, lit(15L * (RankScale / 100L))).otherwise(lit(0L)) +
            lit(85L) * expr("s DIV 100"))
    }.filter(col("r") > 0L).select(col("id"), col("r").as("rank_ppr"))
  }

  /** The rank family's unit mass: rank 1.0 = 10¹². */
  private val RankScale = 1000000000000L

  /** The rank family's vertex-id frame, one PlanCache entry per vertex table. */
  private def rankIds(g: PropertyGraph): DataFrame =
    graft.core.PlanCache.cached(g.spark, graft.core.PlanCache.key("pagerank-ids", g.vertices)) {
      g.vertices.select(col("id"))
    }

  /** (src, dst, __deg) with `__deg` the out-degree of `src`: the edge frame
    * of PageRank and personalized PageRank, one PlanCache entry per edge table. */
  private def outDegreeEdges(g: PropertyGraph): DataFrame =
    graft.core.PlanCache.cached(g.spark, graft.core.PlanCache.key("pagerank-edges", g.edges)) {
      val e = g.edges.select(col("src"), col("dst"))
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("__deg")), Seq("src"))
        .select(col("src"), col("dst"), col("__deg"))
    }

  /** The one round loop of the rank family: `rounds` power-iteration rounds
    * from (id, r = `init`) on [[Fixpoint.fixedRounds]]; `step(ids, ranks)`
    * builds the next (id, r) frame, usually one [[spread]]. */
  private def powerIteration(op: String, g: PropertyGraph, rounds: Int, init: Column)(
      step: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ids = rankIds(g)
    Fixpoint.fixedRounds(op, rounds, ids.select(col("id"), init.as("r"))) { (ranks, _) =>
      step(ids, ranks)
    }
  }

  /** One power-iteration step: each edge of `edges` (src, dst, ...) carries
    * `contrib` — over its columns and the rank `r` of its src — to its dst;
    * the per-dst integer sum is `s`, 0 where nothing arrives, and every id's
    * new rank is `update`. With `byMax`, `update` also reads the step's
    * largest sum as `__m` (a 1-row broadcast; null when nothing arrives). */
  private def spread(ids: DataFrame, edges: DataFrame, ranks: DataFrame, contrib: Column,
      byMax: Boolean = false)(update: Column): DataFrame = {
    val sums = edges.join(ranks, edges("src") === ranks("id"))
      .groupBy(col("dst").as("id")).agg(sum(contrib).as("s"))
    val all = ids.join(sums, Seq("id"), "left").withColumn("s", coalesce(col("s"), lit(0L)))
    (if (byMax) all.crossJoin(broadcast(sums.agg(max(col("s")).as("__m")))) else all)
      .select(col("id"), update.as("r"))
  }

  /** Synchronous Bellman-Ford hop-distance from `source` — `maxIter`
    * relaxation rounds (≡ Pregel min-combiner after maxIter supersteps,
    * reference tt/olap/ShortestDistanceVertexProgram.java:26-146). Integer
    * distances, so exactly oracle-checkable. Only reached vertices are
    * returned. Scale: per round one edges⨝frontier join + min-combine over
    * the rows that changed last round ([[relax]]). */
  def shortestHopsExact(g: PropertyGraph, source: Long, maxIter: Int = 8): DataFrame =
    shortestDistanceExact(g, source, lit(1L), maxIter)

  /** Shortest-path COUNTING from a source — σ(v), the number of distinct
    * shortest (directed, unit-weight) s→v paths: the integer half of
    * Brandes' betweenness machinery and a centrality signal in its own
    * right (high σ at equal distance = well-connected via many routes).
    * Exact BIGINT arithmetic — order-insensitive integer sums, so the SQL
    * oracle matches bit-for-bit (fractional dependency accumulation, the
    * other Brandes half, is NOT engine-portable and is deliberately left
    * out). Returns (id, distance, sigma); σ(source) = 1.
    *
    * Two phases: the exact BFS distances ([[relax]]), then [[pathLayers]] —
    * σ of layer r is the edge-join sum of σ over layer r−1 predecessors
    * (σ(v) = Σ_{u→v, d(u)+1=d(v)} σ(u)), one edges⨝layer join + one
    * map-side-combinable integer sum per level, the BFS's shuffle profile. */
  def shortestPathCounts(g: PropertyGraph, source: Long,
      maxIter: Int = 8): DataFrame = {
    val (e, layers, _) = forward(g, Seq(source), maxIter)
    releasing(e)(layers.reduce(_ unionByName _)
      .select(col("id"), col("distance"), col("sigma")))
  }

  /** STRESS centrality contribution from one source — τ(v) = the number of
    * shortest source→t paths passing THROUGH v as an interior vertex,
    * summed over all targets t: Shimbel's stress (1953), the all-INTEGER
    * sibling of betweenness. Where betweenness accumulates the fractional
    * dependency σ_st(v)/σ_st (not portable across engines bit-for-bit),
    * stress keeps the raw counts, so the whole computation stays in exact
    * BIGINT sums and the SQL oracle matches hash-exact.
    *
    * τ(v) = σ(v)·g(v): σ from [[pathLayers]] (prefix counts), and
    * g(v) = Σ_{w: v→w, d(w)=d(v)+1} (1 + g(w)) — the number of
    * d-respecting path SUFFIXES leaving v, computed in one backward sweep
    * over the BFS DAG ([[sweepBack]], deepest layer first, g = 0 there).
    * Every shortest s→t path through v factors uniquely into a prefix (σ)
    * and a suffix (g), hence the product. τ(source) is reported 0 (endpoints
    * are not interior — Brandes' δ(s)=0 convention). Parallel edges count
    * distinct paths, matching σ's multiplicity.
    *
    * Returns (id, distance, sigma, stress) for reached vertices. Counts can
    * overflow Long on adversarially path-rich graphs (like σ itself — the
    * oracle's BIGINT wraps are not mirrored, DuckDB raises instead), so
    * treat astronomically-path-dense graphs with sampling. */
  def stressCentrality(g: PropertyGraph, source: Long,
      maxIter: Int = 8): DataFrame =
    swept(g, Seq(source), maxIter, LongType)((_, _, gw) => gw + 1L)
      .select(col("id"), col("distance"), col("sigma"),
        when(col("distance") === 0L, lit(0L))
          .otherwise(col("sigma") * col("g")).as("stress"))

  /** Brandes BETWEENNESS dependency from one source (Brandes 2001): δ_s(v)
    * = Σ_{w ∈ succ(v)} (σ_v/σ_w)·(1 + δ_s(w)), accumulated over the BFS DAG
    * deepest layer first — the fractional sibling of [[stressCentrality]],
    * with the engine-portable per-edge term of [[dependency]]. Returns
    * (id, distance, sigma, delta) for reached vertices; δ(source) is
    * computed but conventionally NOT added to betweenness (Brandes' w ≠ s
    * rule — [[betweennessSampled]] drops it).
    *
    * Scale: the [[stressCentrality]] profile — σ layers forward, one
    * edges⨝next-layer join + one map-side-combinable DECIMAL sum per level
    * back. σ overflows past ~2⁵³ distinguishable doubles on adversarially
    * path-dense graphs (same caveat as stress): sample sources, don't run
    * all-pairs. */
  def betweennessContribution(g: PropertyGraph, source: Long,
      maxIter: Int = 8): DataFrame =
    swept(g, Seq(source), maxIter, Dependency)(dependency)
      .select(col("id"), col("distance"), col("sigma"), col("g").as("delta"))

  /** Sampled betweenness centrality — Σ over the sampled sources of the
    * Brandes dependency, endpoints excluded (the standard estimator:
    * Brandes & Pich 2007 pivot sampling; exact when `sources` = V). A
    * repeated source is sampled once.
    *
    * ALL pivots run in ONE (source, id)-keyed frame — the 100 TB shape:
    * per BFS level the batch pays one edges⨝frontier join + one aggregate
    * for EVERY source together, so adding pivots widens rows instead of
    * multiplying Spark jobs (a per-source loop was measured 3× slower at
    * 3 pivots from job overhead alone, and the gap grows with the sample).
    * The code path is [[betweennessContribution]]'s, so the result matches
    * the per-source sweep bit-for-bit. */
  def betweennessSampled(g: PropertyGraph, sources: Seq[Long],
      maxIter: Int = 8): DataFrame = {
    require(sources.nonEmpty, "betweennessSampled: need at least one source")
    swept(g, sources, maxIter, Dependency)(dependency)
      .filter(col("id") =!= col("s"))
      .groupBy(col("id"))
      .agg(round(sum(col("g")).cast("double"), 6).as("betweenness"))
  }

  /** Brandes' per-edge dependency term (σv/σw)·(1 + δw), engine-portable:
    * the ratio is a 9-dp-pinned double (absorbing last-ulp division
    * differences) cast to DECIMAL(13,12) — it is ≤ 1 by construction — the
    * product against (1 + δw) is EXACT in DECIMAL (scales sized to stay
    * inside 38 digits) and then pinned to 6 dp, and every sum is DECIMAL —
    * so the result is bit-identical on any engine that mirrors the formula,
    * at the cost of ~1e-6 drift from the real-valued δ (irrelevant for
    * ranking). */
  private val Dependency = DecimalType(21, 6)
  private def dependency(sv: Column, sw: Column, dw: Column): Column =
    round(round(sv.cast("double") / sw.cast("double"), 9).cast(DecimalType(13, 12)) *
      (lit(1).cast(Dependency) + dw), 6).cast(Dependency)

  /** The forward half of the σ family: BFS distances from the distinct
    * `sources` ([[relax]]) cut into σ layers ([[pathLayers]]). Returns the
    * persisted edge frame (released by [[releasing]] once the caller's
    * output is settled), the layers and their row bounds. */
  private def forward(g: PropertyGraph, sources: Seq[Long],
      maxIter: Int): (DataFrame, Vector[DataFrame], Vector[Long]) = {
    val e = bfsEdges(g, g.edges.select(col("src"), col("dst")))
    val (dist, sizes) = relax("sigma_bfs", g, e, sources, maxIter)
    (e, pathLayers(e, dist, sizes), sizes)
  }

  /** Per-level σ frames (s, id, distance, sigma) over unit-weight [[relax]]
    * distances: level r sums σ over its level r−1 predecessors. Each level
    * is a lazy barrier with no action of its own — it materializes inside
    * the next level's job (the plan is already truncated, so no chain
    * compounds) and the caller's one action settles the rest; `sizes(r)`
    * is level r's row count, so the broadcast hints cost no count. */
  private def pathLayers(e: DataFrame, dist: DataFrame,
      sizes: Vector[Long]): Vector[DataFrame] = {
    val layer0 = dist.filter(col("d") === 0L)
      .select(col("s"), col("id"), col("d").as("distance"), lit(1L).as("sigma"))
    (1 until sizes.size).takeWhile(sizes(_) > 0).foldLeft(Vector(layer0)) { (layers, r) =>
      val prev = layers.last.select(col("s"), col("id").as("src"), col("sigma"))
      layers :+ e.join(hint(prev, sizes(r - 1)), Seq("src"))
        .select(col("s"), col("dst").as("id"), col("sigma"))
        .join(hint(dist.filter(col("d") === r).select(col("s"), col("id")), sizes(r)),
          Seq("s", "id"), "left_semi")
        .groupBy(col("s"), col("id")).agg(sum(col("sigma")).as("sigma"))
        .select(col("s"), col("id"), lit(r.toLong).as("distance"), col("sigma"))
        .transform(roundBarrier)
    }
  }

  /** One deepest-first sweep over [[pathLayers]]: the deepest level seeds
    * g = 0; level r sums `contrib(σv, σw, gw)` over its edges v→w into level
    * r+1, and a vertex with none gets 0. Values are typed `dt`. Returns
    * (s, id, distance, sigma, g) for every level. */
  private def sweepBack(e: DataFrame, layers: Vector[DataFrame], sizes: Vector[Long],
      dt: DataType)(contrib: (Column, Column, Column) => Column): DataFrame = {
    val zero = lit(0).cast(dt)
    layers.indices.init.reverse.foldLeft(Vector(layers.last.withColumn("g", zero))) { (done, r) =>
      val next = done.last.select(col("s"), col("id").as("dst"),
        col("sigma").as("__sw"), col("g").as("__gw"))
      val here = layers(r).select(col("s"), col("id").as("src"), col("sigma").as("__sv"))
      val c = e.join(hint(next, sizes(r + 1)), Seq("dst"))
        .join(hint(here, sizes(r)), Seq("s", "src"))
        .groupBy(col("s"), col("src").as("id"))
        .agg(sum(contrib(col("__sv"), col("__sw"), col("__gw"))).as("__c"))
      done :+ layers(r).join(hint(c, sizes(r)), Seq("s", "id"), "left")
        .select(col("s"), col("id"), col("distance"), col("sigma"),
          coalesce(col("__c"), zero).cast(dt).as("g"))
        .transform(roundBarrier)
    }.reduce(_ unionByName _)
  }

  /** [[forward]] then [[sweepBack]], settled, edge frame released. */
  private def swept(g: PropertyGraph, sources: Seq[Long], maxIter: Int, dt: DataType)(
      contrib: (Column, Column, Column) => Column): DataFrame = {
    val (e, layers, sizes) = forward(g, sources, maxIter)
    releasing(e)(sweepBack(e, layers, sizes, dt)(contrib))
  }

  /** Unweighted shortest-path TREE from `source`: (id, distance, pred),
    * pred = the MINIMUM-id optimal predecessor — the deterministic choice,
    * so every engine (and the SQL oracle) reconstructs the identical paths.
    * This is the relational form of TinkerPop's ShortestPathVertexProgram
    * output (the reference runs that program through its SparkGraphComputer
    * integration): the tree IS every shortest path, materialized as one
    * pointer per vertex instead of one array per path.
    *
    * The distances come from [[relax]]; pred is then derived the oracle's
    * way, as the min src with d(src) = d(v) − 1 and an edge to v — one
    * edges⨝distances pass collapsed map-side by the min aggregate. */
  def shortestPathTree(g: PropertyGraph, source: Long, maxIter: Int = 8): DataFrame = {
    val e = bfsEdges(g, g.edges.select(col("src"), col("dst")))
    val (dist, sizes) = relax("sssp_tree", g, e, Seq(source), maxIter)
    val reached = sizes.sum // the seed bound plus one improvement per reached row
    val pred = e
      .join(hint(dist.select(col("id").as("src"), col("d").as("__ds")), reached), Seq("src"))
      .join(hint(dist.select(col("id").as("dst"), col("d").as("__dd")), reached), Seq("dst"))
      .filter(col("__dd") === col("__ds") + 1L)
      .groupBy(col("dst").as("id")).agg(min(col("src")).as("pred"))
    releasing(e)(dist.join(pred, Seq("id"), "left")
      .select(col("id"), col("d").as("distance"), col("pred")).transform(roundBarrier))
  }

  /** Sampled harmonic (closeness) centrality — Σ over sampled sources of
    * 1/dist(source, v), the standard scalable estimator (exact closeness
    * needs all-pairs; the public recipe samples k sources — Eppstein–Wang).
    * Emitted as an exact INTEGER `harmonic_x1e12` (Σ ⌊10¹²/d⌋ — both
    * engines floor-divide integers identically, so the oracle is
    * hash-exact; divide by 10¹² for the float value) plus `reached` (how
    * many sampled sources see v; v itself excluded — 1/0 is not a term).
    *
    * One multi-source BFS ([[relax]]): state (source, id, d) carries the
    * source tag, so each round is ONE edges⨝frontier join regardless of
    * |sources|, over at most k·|V| reached rows — the price of k samples. */
  def harmonicCentrality(g: PropertyGraph, sources: Seq[Long],
      maxIter: Int = 6): DataFrame =
    multiSourceBfs(g, sources, maxIter, "harmonicCentrality")
      .filter(col("d") > 0)
      .groupBy(col("id"))
      // `div`, not `/`: integer floor division in both engines, hash-exact
      .agg(sum(expr("1000000000000L div d")).cast("long").as("harmonic_x1e12"),
        count(lit(1)).as("reached"))

  /** Sampled classic closeness centrality — the Bavelas/Sabidussi form over
    * sampled sources: per vertex v, Σ dist(source, v) and the reached count
    * (v excluded from its own sum). Closeness = reached/dist_sum is one
    * driver-side divide; the two integer moments are emitted instead of the
    * quotient so the result is hash-exact on any engine (same contract as
    * [[degreeAssortativity]]'s moment sums). Prefer [[harmonicCentrality]]
    * on disconnected graphs — harmonic degrades gracefully when some
    * sources cannot reach v, while closeness's Σd silently drops the
    * missing pairs (the `reached` column makes that visible). Shares the
    * one-BFS-for-k-sources engine: one edges⨝frontier join per round
    * regardless of |sources|. */
  def closenessCentrality(g: PropertyGraph, sources: Seq[Long],
      maxIter: Int = 6): DataFrame =
    multiSourceBfs(g, sources, maxIter, "closenessCentrality")
      .filter(col("d") > 0)
      .groupBy(col("id"))
      .agg(sum(col("d")).cast("long").as("dist_sum"),
        count(lit(1)).as("reached"))

  /** Sampled hop-distance distribution — the histogram behind "effective
    * diameter" (the 90th-percentile pairwise distance, Leskovec et al.'s
    * shrinking-diameters statistic; public): per sampled source, how many
    * vertices sit at each BFS distance. The CDF over `n_at_d` read off by
    * the caller gives the effective-diameter estimate; a heavy tail or a
    * sudden plateau flags disconnection. Shares [[harmonicCentrality]]'s
    * one-BFS-for-k-sources engine plus one alphabet-sized count aggregate. */
  def hopHistogram(g: PropertyGraph, sources: Seq[Long],
      maxIter: Int = 6): DataFrame =
    multiSourceBfs(g, sources, maxIter, "hopHistogram")
      .groupBy(col("source"), col("d"))
      .agg(count(lit(1)).as("n_at_d"))

  /** Sampled eccentricity / pseudo-diameter: per sampled source, the max BFS
    * distance over reached vertices (its directed eccentricity) plus the
    * reached count (including the source itself — a reachability sanity
    * column: an eccentricity over 1 % of the graph is not a diameter
    * estimate). max over the rows = the standard pseudo-diameter lower
    * bound (the double-sweep/iFUB family's building block; public). Shares
    * [[harmonicCentrality]]'s one-BFS-for-k-sources engine. */
  def eccentricity(g: PropertyGraph, sources: Seq[Long],
      maxIter: Int = 6): DataFrame =
    multiSourceBfs(g, sources, maxIter, "eccentricity")
      .groupBy(col("source"))
      .agg(max(col("d")).as("eccentricity"), count(lit(1)).as("reached"))

  /** BFS-parity 2-coloring from one source per (undirected) component: the
    * classic bipartiteness test — color(v) = dist(source, v) mod 2; the
    * graph is bipartite on the reached region iff NO edge joins two
    * same-colored endpoints (an odd cycle forces one). Returns (id, color)
    * for reached vertices plus one sentinel row (id = −1, color = the
    * odd-edge count over colored endpoints) so the conflict verdict travels
    * with the coloring. Shares the multi-source BFS engine (undirected
    * expansion); one extra edges⨝colors join for the conflict count. */
  def bipartiteColoring(g: PropertyGraph, source: Long,
      maxIter: Int = 8): DataFrame = {
    val colors = multiSourceBfs(g, Seq(source), maxIter, "bipartiteColoring",
        undirected = true)
      .select(col("id"), (col("d") % 2L).as("color"))
    // the verdict row is keyed id = -1, so a REAL negative vertex id would
    // be indistinguishable from the sentinel — fail loudly instead (the BFS
    // state is checkpointed, so this probe re-scans it, not the whole BFS)
    require(colors.filter(col("id") < 0L).isEmpty,
      "bipartiteColoring: reached vertex ids must be nonnegative (id = -1 is " +
        "reserved for the odd-edge-count sentinel row)")
    val ca = colors.select(col("id").as("src"), col("color").as("__ca"))
    val cb = colors.select(col("id").as("dst"), col("color").as("__cb"))
    val odd = g.edges.select(col("src"), col("dst"))
      .join(ca, Seq("src")).join(cb, Seq("dst"))
      .filter(col("__ca") === col("__cb"))
      .agg(count(lit(1)).as("color"))
      .select(lit(-1L).as("id"), col("color"))
    colors.unionByName(odd)
  }

  /** Multi-source BFS on [[relax]] — directed by default, both-orientation
    * expansion with `undirected`: one (source, id, d) row per REACHED pair,
    * one edges⨝frontier join per round regardless of |sources|. A repeated
    * source counts once per repetition, as in the oracle's VALUES list. */
  private def multiSourceBfs(g: PropertyGraph, sources: Seq[Long],
      maxIter: Int, opName: String, undirected: Boolean = false): DataFrame = {
    require(sources.nonEmpty, s"$opName needs at least one source")
    val spark = g.spark
    import spark.implicits._
    val fwd = g.edges.select(col("src"), col("dst"))
    val e = bfsEdges(g, if (undirected)
      fwd.unionAll(g.edges.select(col("dst").as("src"), col("src").as("dst"))) else fwd)
    val (dist, _) = relax(opName, g, e, sources, maxIter)
    e.unpersist(false) // dist is the last round's settled checkpoint
    // `source` comes from the local list's side, keeping its non-null flag
    broadcast(sources.toDF("source"))
      .join(dist.select(col("id"), col("s").as("source"), col("d")), Seq("source"))
  }

  /** Materialize the source→v id chain for EVERY vertex of a
    * [[shortestPathTree]] as a comma-joined string: `maxSteps` pred-walk
    * self-joins (maxSteps must be ≥ the tree's deepest distance; extra
    * steps are no-ops — a settled row's pred pointer is exhausted). Scale:
    * the tree is the bounded artifact (3 longs/vertex); this explicit
    * materialization is O(V · path length) output by construction and meant
    * for diameter-bounded trees or an id-restricted subset — filter the
    * tree first to materialize selected targets only. The pred pointers are
    * persisted for the rounds, which gives the join their real size. */
  def shortestPaths(tree: DataFrame, maxSteps: Int = 8): DataFrame = {
    val preds = tree.select(col("id").as("__pid"), col("pred").as("__pp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val start = tree.select(col("id"), col("distance"),
      col("pred").as("__p"), col("id").cast("string").as("path"))
    Fixpoint.fixedRounds("shortest_paths", maxSteps, start, owned = Seq(preds)) { (cur, _) =>
      cur.join(preds, col("__p") === col("__pid"), "left")
        .select(col("id"), col("distance"),
          col("__pp").as("__p"),
          when(col("__pid").isNotNull,
            concat(col("__pid").cast("string"), lit(","), col("path")))
            .otherwise(col("path")).as("path"))
    }.select(col("id"), col("distance"), col("path"))
  }

  /** Weighted single-source shortest distance in exact integer arithmetic —
    * [[shortestHopsExact]] generalized with a per-edge integer `weight`
    * column (the reference's ShortestDistanceVertexProgram reads its edge
    * `distance` property the same way). Runs on [[relax]]; an edge whose
    * weight is NULL never relaxes anything, so it is dropped up front. */
  def shortestDistanceExact(g: PropertyGraph, source: Long, weight: Column,
      maxIter: Int = 8): DataFrame = {
    val e = bfsEdges(g, g.edges.select(col("src"), col("dst"), weight.cast("long").as("__w"))
      .filter(col("__w").isNotNull))
    val (dist, _) = relax("sssp", g, e, Seq(source), maxIter, col("__w"))
    e.unpersist(false) // dist is the last round's settled checkpoint
    dist.select(col("id"), col("d").as("distance"))
  }

  /** The one frontier loop of the shortest-path family: synchronous
    * Bellman-Ford from the distinct `sources` present in `g`, on
    * [[Fixpoint.run]] and keyed (s, id), so one join per round serves every
    * source. State is the reached rows only, each flagged when its d changed
    * in the last round. Round k relaxes just the flagged rows: an unchanged
    * row's relaxation already landed in round k−1, so d_k equals a full
    * relaxation's for any weights. The residual is the number of rows the
    * round improved; 0 is the exact fixpoint. `e` holds (src, dst) plus the
    * columns `w` reads, ghost endpoints already dropped ([[bfsEdges]]).
    *
    * Returns the reached (s, id, d) rows and the improved-row count of every
    * round, index 0 holding the seed bound. Each count is the next round's
    * exact frontier size, so the frontier hint needs no action of its own;
    * for unit weights, entry r is the number of rows at distance r. */
  private def relax(op: String, g: PropertyGraph, e: DataFrame, sources: Seq[Long],
      maxIter: Int, w: Column = lit(1L)): (DataFrame, Vector[Long]) = {
    val srcs = sources.distinct
    var sizes = Vector(srcs.size.toLong)
    val seeds = g.vertices.filter(col("id").isin(srcs: _*))
      .select(col("id").as("s"), col("id"), lit(0L).as("d"), lit(true).as("__ch"))
      .transform(roundBarrier)
    val (dist, _) = Fixpoint.run(op, maxIter, seeds) { (st, _) =>
      val frontier = st.filter(col("__ch"))
        .select(col("s"), col("id").as("src"), col("d").as("__f"))
      val offers = e.join(hint(frontier, sizes.last), Seq("src"))
        .select(col("s"), col("dst").as("id"), (col("__f") + w).as("d"),
          lit(null).cast("long").as("__o"))
      st.select(col("s"), col("id"), col("d"), col("d").as("__o")).unionByName(offers)
        .groupBy(col("s"), col("id")).agg(min(col("d")).as("d"), min(col("__o")).as("__o"))
        .select(col("s"), col("id"), col("d"),
          (col("__o").isNull || col("d") < col("__o")).as("__ch"))
    } { st =>
      sizes :+= st.filter(col("__ch")).count()
      sizes.last
    }
    (dist.select(col("s"), col("id"), col("d")), sizes)
  }

  /** The shortest-path family's edge frame, persisted for its rounds. Ghost
    * `dst` endpoints (absent from the vertex table) are dropped here, once:
    * the SQL oracles relax over `vg`, which never holds them. */
  private def bfsEdges(g: PropertyGraph, e: DataFrame): DataFrame =
    e.join(g.vertices.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Runs `out`'s one action, which settles every lazy barrier in its plan,
    * then releases the edge frame those rounds read. */
  private def releasing(e: DataFrame)(out: DataFrame): DataFrame = {
    out.count()
    e.unpersist(false)
    out
  }

  /** Connected components by synchronous min-label propagation PLUS pointer
    * jumping over the undirected edge set. Labels = min vertex id in the
    * component — the same fixed point as plain neighbor-min (GraphX
    * connectedComponents, and the SQL oracle's `iterations`-round propagation
    * once `iterations` ≥ diameter), but the per-round pointer jump
    * (l ← min(l, label(l)), the classic Shiloach–Vishkin doubling step)
    * shortcuts label chains so convergence needs ~log(diameter) rounds, not
    * ~diameter. At 100 TB each SAVED round is an edge-set-sized shuffle; the
    * jump itself is a vertex-set join (3 longs wide), far cheaper than the
    * neighbor join it replaces rounds of. */
  def connectedComponentsExact(g: PropertyGraph, iterations: Int = 12): DataFrame = {
    // partition-once, iterate: the undirected edge list is hash-partitioned
    // on the AGGREGATION key (src — the vertex receiving the neighbor-min)
    // BEFORE persisting. While the (id, label) frame fits a broadcast it is
    // explicitly broadcast into the neighbor join (16-byte rows — fine up to
    // tens of millions of vertices; localCheckpoint hides size stats, so
    // without the hint AQE plans a shuffle join), the join preserves this
    // layout, and the groupBy(src) needs NO exchange — the |E|-sized frame
    // never moves after the initial layout shuffle. Past the broadcast
    // threshold the join degrades to one |E| exchange per round, the same
    // floor any orientation has; the agg stays exchange-free either way.
    val und = g.edges.select(col("src"), col("dst"))
      .unionAll(g.edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val labels0 = g.vertices.select(col("id"), col("id").as("l")).transform(roundBarrier)
    // Early exit at the fixed point: min-label propagation is MONOTONE
    // (labels only ever decrease), so the EXACT decimal label-sum strictly
    // decreases until convergence — an unchanged sum ⇒ every remaining round
    // is a no-op. The sum rides each round's one action over the
    // already-checkpointed (id, label) frame; each round it skips saves a
    // full keyed shuffle of the vertex set (what a wasted superstep costs at
    // 100 TB). decimal(38,0), not long: a big-id × big-vertex-count sum
    // overflows int64, and an overflow wraparound could fake convergence.
    // The setup action yields the vertex count (one cheap count decides the
    // broadcast regime for the whole run) and the round-0 sum together.
    val setup = labels0.agg(count(lit(1)), sum(col("l").cast("decimal(38,0)"))).head
    val vCount = setup.getLong(0)
    var prevSum = if (setup.isNullAt(1)) java.math.BigDecimal.ZERO else setup.getDecimal(1)
    val (labels, _) = Fixpoint.run("cc", iterations, labels0, owned = Seq(und)) { (labels, _) =>
      val nb = und.join(hint(labels, vCount), und("dst") === labels("id"))
        .select(und("src").as("id"), col("l").as("nl"))
        .groupBy(col("id")).agg(min(col("nl")).as("nl"))
      val stepped = labels.join(nb, Seq("id"), "left")
        .select(col("id"), least(col("l"), col("nl")).as("l"))
      // pointer jump: follow the label through the PREVIOUS round's
      // (already-checkpointed) labels — a slightly stale but still monotone
      // shortcut with the same fixed point, chosen over jumping through
      // `stepped` itself because that self-reference would either run the
      // neighbor join twice or cost a second materialization per round.
      // TWO SEQUENTIAL stale jumps through one shared projection (r18):
      // labels[x] <= x always (min-label invariant), so j2 computes exactly
      // min(s, m[s], m[m[s]]) — value-identical per round to the old
      // pre-joined m2 = min(m[x], m[m[x]]) doubling — while the two probes'
      // broadcast exchanges canonicalize to ONE build per round
      // (ReuseExchange) and the m2 self-join job disappears (the old form
      // built m, m-renamed AND m2 as three broadcast relations per round).
      def labP = labels.select(col("id").as("__j"), col("l").as("__jl"))
      val j1 = stepped.join(hint(labP, vCount), col("l") === col("__j"), "left")
        .select(col("id"), least(col("l"), col("__jl")).as("l"))
      j1.join(hint(labP, vCount), col("l") === col("__j"), "left")
        .select(col("id"), least(col("l"), col("__jl")).as("l"))
    } { labels =>
      // the round's one action; it also materializes the lazy barrier
      val s = decSig(labels, "l")
      val residual = Fixpoint.sigChange(prevSum, s)
      prevSum = s
      residual
    }
    labels.select(col("id"), col("l").as("component"))
  }

  /** Topological layering by synchronous zero-in-degree peeling (Kahn's
    * algorithm, rounds = layers): round r peels every surviving vertex with
    * no surviving in-edge and assigns it `layer` = r; when a round peels
    * nothing while vertices survive, the survivors are exactly the
    * cycle-involved vertices (plus anything downstream of a cycle) and are
    * emitted with `layer` = −1 — so this is simultaneously the topological
    * sort AND the cycle detector for dependency-graph workloads. Runs to
    * fixpoint or `maxRounds` (running out of rounds on a deep DAG leaves
    * unpeeled vertices at −1; raise maxRounds — flagged loudly like
    * [[kCore]]). Per round: one semi-join (surviving in-edge targets) + one
    * anti-join (the peel) + one count — the kCore shuffle profile, vertex-
    * keyed, with lazy lineage truncation. */
  def topologicalLayers(g: PropertyGraph, maxRounds: Int = 10): DataFrame = {
    val e = g.edges.select(col("src"), col("dst"))
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var alive = g.vertices.select(col("id")).transform(roundBarrier)
    var aliveCount = alive.count()
    var layers = Vector.empty[DataFrame]
    val (_, outcome) = Fixpoint.run("topo", maxRounds, alive, residual0 = aliveCount,
        owned = Seq(e)) { (_, round) =>
      // dsts that still have an ALIVE in-neighbor cannot peel this round
      val blocked = e
        .join(hint(alive.select(col("id").as("__s")), aliveCount), col("src") === col("__s"), "left_semi")
        .select(col("dst").as("id")).distinct()
      alive.join(blocked, Seq("id"), "left_anti")
        .select(col("id"), lit(round - 1L).as("layer"))
    } { layerR =>
      val n = layerR.count()
      if (n > 0) {
        layers = layers :+ layerR
        alive = alive.join(layerR.select(col("id")), Seq("id"), "left_anti")
          .transform(roundBarrier)
        aliveCount -= n
      }
      // a round that peels nothing leaves exactly the cyclic survivors
      if (n == 0) 0L else aliveCount
    }
    Fixpoint.warnIfExhausted("topologicalLayers", outcome,
      "unpeeled vertices are reported layer=-1 but may be a deep DAG tail, not a cycle")
    val cyclic = alive.select(col("id"), lit(-1L).as("layer"))
    (layers :+ cyclic).reduce(_ unionByName _)
  }

  /** (walk, seed) start pairs for the walk family. Walk ids pack as
    * seed·100 + walkIndex under 64-bit WRAP — the wrap is intentional
    * (tag-prefixed vertex ids overflow the multiply, and the SQL oracles
    * inline the identically-wrapped literals), but it is only injective for
    * walksPerSeed ≤ 100 (101 walks would alias walk(s,101) with
    * walk(s+1,1)), so that bound is REQUIRED — and because a wrap can in
    * principle also alias two far-apart seeds, the packed ids are checked
    * for uniqueness outright (seeds are a driver-side list, so the check is
    * exact and free) instead of silently merging two walks' hash draws. */
  private def walkIds(seeds: Seq[Long], walksPerSeed: Int,
      opName: String): Seq[(Long, Long)] = {
    require(walksPerSeed <= 100,
      s"$opName: walksPerSeed must be <= 100 (walk ids pack as seed*100+walkIndex; " +
        "more walks would alias adjacent seeds' walks)")
    val ids = for (s0 <- seeds; wk <- 1 to walksPerSeed)
      yield (s0 * 100L + wk, s0)
    require(ids.iterator.map(_._1).toSet.size == ids.size,
      s"$opName: walk ids (seed*100+walkIndex, 64-bit wrap) collide for this " +
        "seed set — de-duplicate or re-map the seeds")
    ids
  }

  /** The walk family's hash draw: the ⌊h mod deg⌋ + 1-th candidate, h = the
    * low-48-bit md5 of "salt:walk:vertex:step" — one expression, so the
    * first- and second-order walks and their oracles cannot drift apart. */
  private def walkPick(salt: String, walk: Column, at: Column, step: Int,
      deg: Column): Column =
    pmod(conv(substring(md5(concat_ws(":", lit(salt), walk.cast("string"),
      at.cast("string"), lit(step.toString))), 21, 12), 16, 10).cast("long"), deg) + 1L

  /** The walk family's loop on [[Fixpoint.run]]: up to `steps` hops from the
    * (walk, seed) starts; `hop(frontier, step)` draws each walk's next
    * vertex, and the count of the checkpointed hop — the round's one action —
    * ends the loop early once every walk has stopped. `carry` columns ride
    * the frontier but not the output; `nbr` is released on exit. Returns
    * (walk, seed, step, id), one row per visited position. */
  private def walkLoop(op: String, seeds: Seq[Long], walksPerSeed: Int, steps: Int,
      nbr: DataFrame, carry: Column*)(hop: (DataFrame, Int) => DataFrame): DataFrame = {
    val spark = nbr.sparkSession
    import spark.implicits._
    val starts = walkIds(seeds, walksPerSeed, op)
    val init = starts.toDF("walk", "seed")
      .select(Seq(col("walk"), col("seed"), lit(0L).as("step"), col("seed").as("id")) ++ carry: _*)
      .transform(roundBarrier)
    var out = Vector(init)
    Fixpoint.run(op, steps, init, residual0 = starts.size, owned = Seq(nbr))(hop) { f =>
      out :+= f
      f.count()
    }
    out.map(_.select(col("walk"), col("seed"), col("step"), col("id"))).reduce(_ unionByName _)
  }

  /** Deterministic hash-seeded RANDOM WALKS — the graph-sampling primitive
    * behind DeepWalk/node2vec-style embedding pipelines and GNN neighbor
    * sampling: `walksPerSeed` walks of `steps` hops from every seed, each
    * hop choosing the ⌊h mod outdeg⌋-th DISTINCT out-neighbor in ascending
    * dst order, where h = the low-48-bit md5 of "salt:walk:vertex:step".
    * A true RNG would make results unreproducible across runs and engines;
    * the content-keyed hash gives the same uniform-ish draw DETERMINISTICALLY
    * (the [[graft.pipeline.TextAnalysis.hashSplit]] trick walked over a
    * graph), so walks are replayable and a SQL oracle mirrors them verbatim.
    * Walks stop early at sinks (no out-neighbors). Returns one row per
    * visited position: (walk, seed, step, id) with step 0 = the seed.
    *
    * Scale: the ranked neighbor table (src, dst, rk, deg) is built once —
    * one window keyed by src (map-side cut irrelevant: every row is kept,
    * but the layout is reused all `steps` rounds); each hop is ONE
    * equi-join of the walk frontier (|seeds|·walksPerSeed rows, ids only)
    * against it. State is the frontier, not the history — emitted rows
    * accumulate in a union of per-step checkpointed frames. */
  def randomWalks(g: PropertyGraph, seeds: Seq[Long], steps: Int,
      walksPerSeed: Int = 1, salt: String = ""): DataFrame = {
    require(seeds.nonEmpty, "randomWalks needs at least one seed")
    require(steps >= 0 && walksPerSeed >= 1, "randomWalks: steps >= 0, walksPerSeed >= 1")
    val bySrc = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    val nbr = g.edges.select(col("src"), col("dst")).distinct()
      .withColumn("rk", row_number().over(bySrc.orderBy(col("dst").asc)))
      .withColumn("deg", count(lit(1)).over(bySrc))
      .persist(StorageLevel.MEMORY_AND_DISK)
    walkLoop("randomWalks", seeds, walksPerSeed, steps, nbr) { (frontier, step) =>
      // join picks the hash-ranked neighbor; sinks (no nbr row) drop out
      frontier.join(nbr, frontier("id") === nbr("src"))
        .filter(col("rk") === walkPick(salt, col("walk"), frontier("id"), step, col("deg")))
        .select(col("walk"), col("seed"), lit(step.toLong).as("step"), col("dst").as("id"))
    }
  }

  /** NON-BACKTRACKING walks — the second-order variant of [[randomWalks]]
    * (node2vec's essential mechanic reduced to its deterministic core): the
    * walk carries its PREVIOUS vertex and never immediately returns to it;
    * the hash draw ranks the surviving candidates per walk. Walks stop at
    * sinks AND at dead ends (the only neighbor is the one we came from).
    * Returns (walk, seed, step, id).
    *
    * Scale: candidates per hop = frontier⨝neighbors (ids only) minus the
    * backtrack row; the per-walk rank is a window PARTITIONed BY walk —
    * frontier-sized, never edge-sized. Deterministic and oracle-mirrored
    * like [[randomWalks]]. */
  def nonBacktrackingWalks(g: PropertyGraph, seeds: Seq[Long], steps: Int,
      walksPerSeed: Int = 1, salt: String = ""): DataFrame = {
    require(seeds.nonEmpty, "nonBacktrackingWalks needs at least one seed")
    require(steps >= 0 && walksPerSeed >= 1,
      "nonBacktrackingWalks: steps >= 0, walksPerSeed >= 1")
    val nbr = g.edges.select(col("src"), col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val byWalk = org.apache.spark.sql.expressions.Window.partitionBy(col("walk"))
    walkLoop("nonBacktrackingWalks", seeds, walksPerSeed, steps, nbr,
        lit(null).cast("long").as("prev")) { (frontier, step) =>
      frontier.join(nbr, frontier("id") === nbr("src"))
        .filter(col("prev").isNull || col("dst") =!= col("prev"))
        .withColumn("__rk", row_number().over(byWalk.orderBy(col("dst").asc)))
        .withColumn("__deg", count(lit(1)).over(byWalk))
        .filter(col("__rk") === walkPick(salt, col("walk"), frontier("id"), step, col("__deg")))
        .select(col("walk"), col("seed"), lit(step.toLong).as("step"),
          col("dst").as("id"), frontier("id").as("prev"))
    }
  }

  /** Skip-gram (center, context) co-occurrence pairs from a walk frame —
    * the step that turns [[randomWalks]]/[[nonBacktrackingWalks]] output
    * into DeepWalk/node2vec training data (Perozzi et al. 2014 §4.2): for
    * every walk, each vertex pairs with every other vertex at step distance
    * ≤ `window`, aggregated to (id, ctx, cnt) co-occurrence counts. Pairs
    * are DIRECTED (both (u,v) and (v,u) rows), matching the asymmetric
    * center/context roles of skip-gram training.
    *
    * Scale: the self-join is keyed by walk id, so each walk's rows
    * co-partition and fan out at most (steps+1)·2·window pairs per walk —
    * linear in corpus-of-walks size, never in graph size; the count
    * aggregate is map-side combinable. */
  def walkContextPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window >= 1, "walkContextPairs: window >= 1")
    val a = walks.select(col("walk"), col("step"), col("id"))
    val b = walks.select(col("walk"), col("step").as("cstep"), col("id").as("ctx"))
    a.join(b, Seq("walk"))
      .filter(col("cstep") =!= col("step") &&
        abs(col("cstep") - col("step")) <= window)
      .groupBy(col("id"), col("ctx")).agg(count(lit(1)).as("cnt"))
  }

  /** k-core decomposition by synchronous peeling: each round removes every
    * vertex whose undirected degree (incident edge count over SURVIVING
    * endpoints; multi-edges count) is below k, until no vertex is removed or
    * `maxRounds` elapse. Returns the surviving vertex ids. Fixed synchronous
    * rounds make the result expressible in SQL (oracle-checkable, like
    * connectedComponentsExact); the fixpoint is reached once a round removes
    * nothing. Per round: two semi-joins + one count agg, each keyed by
    * vertex id — the same shuffle profile as one BSP superstep; lazy
    * lineage truncation keeps the plan constant-size across rounds. */
  def kCore(g: PropertyGraph, k: Int, maxRounds: Int = 10): DataFrame = {
    val (result, outcome) = kCoreOutcome(g, k, maxRounds)
    // fail loudly (not silently superset): direct API callers get a signal
    // when peeling ran out of rounds, matching the oracle's NOT_CONVERGED stance
    Fixpoint.warnIfExhausted(s"kCore(k=$k)", outcome,
      "result is a SUPERSET of the true k-core; raise maxRounds or use kCoreConverged")
    result
  }

  /** kCore with an explicit convergence flag: (survivors, converged). */
  def kCoreConverged(g: PropertyGraph, k: Int, maxRounds: Int = 10): (DataFrame, Boolean) = {
    val (result, outcome) = kCoreOutcome(g, k, maxRounds)
    (result, outcome.converged)
  }

  private def kCoreOutcome(g: PropertyGraph, k: Int, maxRounds: Int): (DataFrame, Outcome) = {
    // DECREMENTAL peeling (r18, guide §2.4 — process only the delta): the
    // r17 form re-counted EVERY live edge every round (two alive-set
    // semi-joins + a full groupBy(a) per round). Peeling is monotone: a
    // vertex's alive-degree changes only when a NEIGHBOR was removed last
    // round, so each round now counts, per survivor, only the edges INTO
    // last round's removed set — one broadcast probe over the a-partitioned
    // layout (no exchange; the aggregate touches ~edges incident to the
    // removals, not |E|) — and decrements the carried degree state. Round 1
    // is the threshold cut on the degree aggregate itself. Per-round sets
    // are identical to the re-counting form round for round (deg_r(a) =
    // deg_{r-1}(a) − |removed neighbors|, multi-edges and self-loops
    // counted with multiplicity in both), so the oracle recurrence is
    // untouched. Ghost endpoints (absent from g.vertices) drop ONCE at
    // setup — the per-round alive semi-joins that used to drop them are
    // gone.
    val vids = g.vertices.select(col("id"))
    // maxRounds = 0 ran zero peeling rounds in the re-counting form: every
    // vertex survives, unconverged — keep that contract (the decremental
    // loop below folds the first threshold cut into its first round; no
    // round ran, so the residual is only "some peeling may remain")
    if (maxRounds <= 0) return (vids, BudgetExhausted(0, 1L))
    var aliveCount = vids.count()
    val und = g.edges.select(col("src").as("a"), col("dst").as("b"))
      .unionAll(g.edges.select(col("dst").as("a"), col("src").as("b")))
      .repartition(col("a"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // degree state (a, __d, __n): __d = ghost-filtered degree, __n = RAW
    // und degree (ghost neighbors included). One row per vertex with >= 1
    // und edge; isolated vertices never appear and, like vertices whose
    // only neighbors are ghosts (__d = 0), are removed in round 1 — the
    // re-counting form's round-1 cut. The ghost filter applies HERE, not
    // on the persisted und: a ghost-b edge then never contributes to __d,
    // and in the decrement rounds it can never match (removals are drawn
    // from the degree state, which has no ghost rows), while a ghost-a row
    // has no state row for a loss to land on — so the raw und is
    // probe-safe and its persist does not wait on the vertex broadcast
    // (measured: filtering und itself cost ~0.2-0.3 s of setup at sf0.1,
    // BENCH_AB.md r18). Both vertex probes are flagged left joins that
    // project vids identically up to names, so their broadcast exchanges
    // canonicalize to one build (ReuseExchange); a semi-join probe is
    // pruned to a different projection and costs a second build.
    def vP(key: String, flag: String) =
      hint(vids.select(col("id").as(key), col("id").as(flag)), aliveCount)
    val deg0 = und
      .join(vP("a", "__va"), Seq("a"), "left")
      .join(vP("b", "__vb"), Seq("b"), "left")
      .groupBy(col("a"))
      .agg(max(col("__va")).as("__va"), count(col("__vb")).as("__d"), count(lit(1)).as("__n"))
      .filter(col("__va").isNotNull)
      .select(col("a"), col("__d"), col("__n"))
      .transform(roundBarrier) // lazy: round 1's count materializes it
    var removedCount = 0L
    // Σ raw degree of the last removal batch: `lost` holds at most one row
    // per und edge into the batch, ghost and already-peeled endpoints
    // included, so this — not the alive count — bounds its rows
    var removedEdges = 0L
    val (deg, outcome) = Fixpoint.run("kcore", maxRounds, deg0, owned = Seq(und)) { (deg, round) =>
      if (round == 1) deg // round 1 is the threshold cut on the setup state
      else {
        val lost = und
          .join(hint(deg.filter(col("__d") < k).select(col("a").as("b")), removedCount), Seq("b"))
          .groupBy(col("a")).agg(count(lit(1)).as("__l"))
        deg.filter(col("__d") >= k).join(hint(lost, removedEdges), Seq("a"), "left")
          .select(col("a"), (col("__d") - coalesce(col("__l"), lit(0L))).as("__d"), col("__n"))
      }
    } { deg =>
      // peeling is monotone ⇒ count equality ≡ set equality; the count is
      // the round's ONE action and materializes the lazy barrier
      val r = deg.agg(count(when(col("__d") >= k, lit(1))),
        sum(when(col("__d") < k, col("__n")))).head
      val nextCount = r.getLong(0)
      removedEdges = if (r.isNullAt(1)) 0L else r.getLong(1)
      removedCount = aliveCount - nextCount
      aliveCount = nextCount
      removedCount
    }
    (deg.filter(col("__d") >= k).select(col("a").as("id")), outcome)
  }

  /** CORENESS — the per-vertex core number (the largest k such that the
    * vertex survives in the k-core), for the whole graph in one pass family:
    * the distributed h-index iteration (Montresor/De Pellegrini/Miorandi,
    * "Distributed k-core decomposition", IEEE TPDS 2013 — public). c₀(v) =
    * degree(v); each synchronous round replaces c(v) with the H-INDEX of its
    * neighbors' current values (the largest h with ≥ h neighbors at c ≥ h).
    * Values are monotone non-increasing and converge to the exact core
    * number; fixed rounds keep every step SQL-expressible, so the oracle
    * mirrors the recurrence bit-for-bit. Runs on the SIMPLE undirected
    * graph: parallel edges collapse and self-loops drop (coreness is a
    * simple-graph notion — [[kCore]] documents the multi-edge-counting
    * peeling variant for a single k).
    *
    * Scale: the deduped undirected edge list lays out ONCE partitioned by
    * the window/aggregation key `a`; in the broadcast regime (|V| within
    * `spark.graft.broadcast.maxRows`) both per-round frames that touch it
    * (c and h) are vertex-sized and broadcast, so the edge frame is NEVER
    * exchanged after the initial layout — the h-index window sorts within
    * the persisted partitions. Every round recomputes h over the whole
    * adjacency: restricting it to vertices with a changed neighbor cost
    * more than it saved at every frontier size measured at sf0.1 (BENCH_AB.md
    * r18). Past the cap the c-join and the window each degrade to one |E|
    * exchange per round — the floor any layout pays. Convergence detection
    * rides the per-round action: Σc is monotone non-increasing, so an
    * unchanged sum IS the fixed point. */
  def coreness(g: PropertyGraph, maxRounds: Int = 10): DataFrame = {
    val (result, outcome) = corenessOutcome(g, maxRounds)
    Fixpoint.warnIfExhausted("coreness", outcome,
      "values are an UPPER BOUND on the true core numbers; raise maxRounds")
    result
  }

  /** [[coreness]] with an explicit convergence flag: ((id, core), converged). */
  def corenessConverged(g: PropertyGraph, maxRounds: Int = 10): (DataFrame, Boolean) = {
    val (result, outcome) = corenessOutcome(g, maxRounds)
    (result, outcome.converged)
  }

  private def corenessOutcome(g: PropertyGraph, maxRounds: Int): (DataFrame, Outcome) = {
    // partition-once, iterate (see kCoreConverged): laid out by the
    // WINDOW/AGGREGATION key `a`, so in the broadcast regime the per-round
    // plan exchanges NO edge-sized frame at all — the c/h frames
    // broadcast (checkpointed frames hide size stats from AQE, so the hints
    // are load-bearing), the h-index window sorts within the persisted
    // a-partitions, and groupBy(a) reuses the same layout. Past the
    // broadcast cap the joins degrade to the |E| exchanges any layout pays
    // (r17: measured 9-10 AQE stage-jobs per round at sf0.1 before, 3-4
    // after — the b-layout shipped the edge frame three times per round).
    val und = g.edges.select(col("src").as("a"), col("dst").as("b"))
      .unionAll(g.edges.select(col("dst").as("a"), col("src").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .repartition(col("a"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ids = g.vertices.select(col("id"))
    val c0 = ids.join(und.groupBy(col("a")).agg(count(lit(1)).as("__c"))
        .select(col("a").as("id"), col("__c")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), lit(0L)).as("core"))
      .transform(roundBarrier)
    // one setup action: |V| (one static gate for every vertex-sized
    // per-round frame — c and h are <= |V| rows) and the round-0 Σcore
    // signature
    val setup = c0.agg(count(lit(1)), sum(col("core"))).head
    val vCount = setup.getLong(0)
    var prevSig = if (setup.isNullAt(1)) 0L else setup.getLong(1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a")).orderBy(col("__cb").desc, col("b").asc)
    Fixpoint.run("coreness", maxRounds, c0, residual0 = prevSig, owned = Seq(und)) { (c, _) =>
      val h = und
        .join(hint(c.select(col("id").as("b"), col("core").as("__cb")), vCount), Seq("b"))
        .select(col("a"), col("b"), col("__cb"))
        .withColumn("__rn", row_number().over(w).cast("long"))
        .groupBy(col("a")).agg(max(least(col("__cb"), col("__rn"))).as("__c"))
      // vertices with no neighbor have no h row and keep their core (0)
      c.join(hint(h.select(col("a").as("id"), col("__c")), vCount), Seq("id"), "left")
        .select(col("id"), coalesce(col("__c"), col("core")).as("core"))
    } { next =>
      // ONE action materializes the round: the monotone Σcore signature
      // (equal sum = fixed point)
      val r = next.agg(sum(col("core"))).head
      val s = if (r.isNullAt(0)) 0L else r.getLong(0)
      val residual = math.abs(prevSig - s)
      prevSig = s
      residual
    }
  }

  /** STRONGLY connected components — the directed twin of
    * [[connectedComponentsExact]], by Trim + Forward-Backward coloring (the
    * standard distributed SCC family: FW-BW of Fleischer/Hendrickson/Pinar
    * 2000 with Orzan-style min-label coloring and trivial-SCC trimming —
    * public algorithms). Per outer round: (1) TRIM — peel vertices with no
    * in- or no out-neighbor among the survivors (each is its own SCC; on
    * DAG regions this alone resolves everything in diameter rounds);
    * (2) COLOR — propagate the minimum forward-reaching id to fixpoint:
    * every color label is a pivot, and all of a pivot's SCC shares its
    * color; (3) BACKWARD — flood reachability-of-the-pivot inside each
    * color (one flag bit, all colors in parallel); flagged vertices are
    * exactly the pivot's SCC and retire with scc = color — but ONLY when
    * both floods reached their fixpoint within `maxInner` (a lagging
    * coloring would crown false pivots and silently split long cycles, so
    * an exhausted inner budget skips resolution instead). Unresolved
    * vertices — outer budget elapsed or inner budget too small — come back
    * with scc = NULL (and a stderr warning) — loud, not silently wrong.
    *
    * Returns (id, scc). Deterministic, and every phase is a fixed-round
    * monotone recurrence (min-label non-increasing, reach flag
    * non-decreasing, alive set shrinking), so the SQL oracle mirrors it
    * round for round and early convergence cannot diverge from the oracle's
    * fixed round budget (extra rounds are no-ops).
    *
    * Scale: parallel edges dedupe once up front; every round is
    * edges⨝vertex-frame equi-joins with map-side-combinable MIN/MAX
    * aggregates — the [[pageRankFixedPoint]] shuffle profile; trim's
    * semi-joins ship only id frames. State per vertex is 16-24 bytes; the
    * alive set only shrinks, so later rounds cost less. Convergence
    * signatures ride the per-round action (Σ as DECIMAL — id sums overflow
    * BIGINT at tag-prefixed scale). */
  def stronglyConnectedComponents(g: PropertyGraph, maxOuter: Int = 3,
      maxTrim: Int = 8, maxInner: Int = 8): DataFrame = {
    var alive = g.vertices.select(col("id")).transform(roundBarrier)
    var aliveCount = alive.count()
    val vCount = aliveCount
    // broadcast-regime gate (see connectedComponentsExact): every per-round
    // frame here — alive, f, rb — is bounded by the CURRENT aliveCount,
    // which the loop maintains anyway; checkpointed frames hide size stats
    // from AQE, so the hints are load-bearing. In the broadcast regime no
    // |E|-sized frame is exchanged after the phase layouts (ea by dst for
    // the coloring's groupBy(dst), eaC by src for the backward flood's
    // groupBy(src)); past the cap every join degrades to the per-round |E|
    // exchange any layout pays.
    // ghost endpoints (absent from g.vertices) drop ONCE at setup — the old
    // per-trim-round alive semi-joins were the only thing dropping them
    val ed = g.edges.select(col("src"), col("dst"))
      .join(hint(alive.select(col("id").as("src")), aliveCount), Seq("src"), "left_semi")
      .join(hint(alive.select(col("id").as("dst")), aliveCount), Seq("dst"), "left_semi")
      .distinct() // ghost-filter FIRST: fewer rows into the distinct exchange
      .persist(StorageLevel.MEMORY_AND_DISK)
    // DECREMENTAL trim (r18, guide §2.4 — process only the delta; the kCore
    // recipe): a survivor needs BOTH an out- and an in-edge among the alive
    // set, and those counts change only when a NEIGHBOR leaves. Carry the
    // per-vertex (out, in) alive-degree state across trim rounds AND outer
    // rounds (resolved SCCs are removals too), decrementing by the edges
    // incident to each batch of removals — one broadcast probe over ed, rows
    // ~ edges touching the removals — instead of re-filtering and
    // re-exploding the full alive edge set every trim round (the r17 form:
    // two alive semi-joins + a 2|E| explode per round).
    var degs = ed.select(explode(array(
        struct(col("src").as("id"), lit(1L).as("__o"), lit(0L).as("__i")),
        struct(col("dst").as("id"), lit(0L).as("__o"), lit(1L).as("__i")))).as("e"))
      .select(col("e.id").as("id"), col("e.__o").as("__o"), col("e.__i").as("__i"))
      .groupBy(col("id")).agg(sum(col("__o")).as("__o"), sum(col("__i")).as("__i"))
      .transform(roundBarrier)
    // removals not yet folded into degs. Every removal batch (trim peels,
    // resolved SCCs) ACCUMULATES here until the next trim round folds it
    // in — a trim loop that stops at its budget leaves its last peel
    // pending, and the resolution that follows must add to it, not replace
    // it, or those decrements are lost for every later outer round.
    var pending: DataFrame = null
    var pendingCount = 0L
    def remove(ids: DataFrame, n: Long): Unit = if (n > 0) {
      pending = if (pending == null) ids else pending.unionByName(ids)
      pendingCount += n
    }
    def applyRemovals(degs: DataFrame): DataFrame = if (pending == null) degs else {
      // one pass over ed: an edge with a removed endpoint contributes a loss
      // to its (possibly surviving) other endpoint. The probe and the degs
      // anti-join below project the removal frame IDENTICALLY so their
      // broadcast exchanges canonicalize to one — built once per round
      // (ReuseExchange), not once per reference.
      val (removed, n) = (pending, pendingCount)
      def rP = removed.select(col("id").as("__r"))
      val lost = ed.select(explode(array(
          struct(col("src").as("id"), col("dst").as("__other"),
            lit(1L).as("__lo"), lit(0L).as("__li")),
          struct(col("dst").as("id"), col("src").as("__other"),
            lit(0L).as("__lo"), lit(1L).as("__li")))).as("e"))
        .select(col("e.id").as("id"), col("e.__other").as("__other"),
          col("e.__lo").as("__lo"), col("e.__li").as("__li"))
        .join(hint(rP, n), col("__other") === col("__r"), "left_semi")
        .groupBy(col("id")).agg(sum(col("__lo")).as("__lo"), sum(col("__li")).as("__li"))
      pending = null
      pendingCount = 0L
      // lost's ids are ed endpoints, and ed is ghost-filtered, so |V| bounds
      // its rows in every round (the shrinking alive count does not: a late
      // round that peels a hub emits one row per ORIGINAL neighbor)
      degs
        .join(hint(rP, n), col("id") === col("__r"), "left_anti")
        .join(hint(lost, vCount), Seq("id"), "left")
        .select(col("id"),
          (col("__o") - coalesce(col("__lo"), lit(0L))).as("__o"),
          (col("__i") - coalesce(col("__li"), lit(0L))).as("__i"))
    }
    var out = Vector.empty[DataFrame]
    var outer = 0
    var halted = false
    while (outer < maxOuter && aliveCount > 0 && !halted) {
      degs = Fixpoint.run(s"scc_trim_o$outer", maxTrim, degs, residual0 = aliveCount) {
        (degs, _) => applyRemovals(degs) // fold pending peels / resolved SCCs
      } { degs =>
        // degs rows are exactly the alive vertices with >= 1 alive edge, so
        // the survivor set reads straight off the carried state (isolated
        // or fully-peeled-neighborhood vertices simply have no row / fail
        // the filter — same universe the old ends aggregate produced)
        val keep = degs.filter(col("__o") >= 1L && col("__i") >= 1L).select(col("id"))
        val keepCount = keep.count() // materializes applyRemovals' barrier
        val peeledCount = aliveCount - keepCount
        if (peeledCount > 0) {
          val peeled = alive.join(hint(keep, keepCount), Seq("id"), "left_anti")
            .transform(roundBarrier)
          out = out :+ peeled.select(col("id"), col("id").as("scc"))
          remove(peeled, peeledCount)
        }
        alive = keep
        aliveCount = keepCount
        peeledCount
      }._1
      if (aliveCount > 0) {
        // laid out by the coloring's aggregation key (dst): with f broadcast,
        // the join preserves this layout and groupBy(dst) needs no exchange
        val ea = ed
          .join(hint(alive.select(col("id").as("src")), aliveCount), Seq("src"), "left_semi")
          .join(hint(alive.select(col("id").as("dst")), aliveCount), Seq("dst"), "left_semi")
          .repartition(col("dst"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val f0 = alive.select(col("id"), col("id").as("f")).transform(roundBarrier)
        var fSig = decSig(f0, "f")
        val (f, colored) = Fixpoint.run(s"scc_color_o$outer", maxInner, f0) { (f, _) =>
          // the message probe and the pointer jump project f IDENTICALLY so
          // their broadcast exchanges canonicalize to ONE build per round
          // (ReuseExchange) — r17 built f twice per round under two shapes
          def fP = f.select(col("id").as("__j"), col("f").as("__l"))
          val m = ea.join(hint(fP, aliveCount), col("src") === col("__j"))
            .groupBy(col("dst")).agg(min(col("__l")).as("__fm"))
          val stepped = f.join(hint(m.select(col("dst").as("id"), col("__fm")), aliveCount),
              Seq("id"), "left")
            .select(col("id"), least(col("f"), coalesce(col("__fm"), col("f"))).as("f"))
          // label composition f'(v) = min(f(v), f_prev(f(v))) — the same
          // pointer-jumping shortcut [[connectedComponentsExact]] uses.
          // SOUND here because a color label is itself a vertex id whose
          // forward-reach set contains everything its label reaches: if u
          // forward-reaches v (f(v)=u) and w forward-reaches u, then w
          // forward-reaches v. Cuts the flood from diameter rounds to
          // ~log(diameter) — one vertex-sized join per round, measured on
          // the directed-cycle fixture in SCALE.md (round growth +1/10×).
          stepped
            .join(hint(fP, aliveCount), col("f") === col("__j"), "left")
            .select(col("id"), least(col("f"), coalesce(col("__l"), col("f"))).as("f"))
        } { f =>
          val s = decSig(f, "f") // min-label is monotone non-increasing
          val residual = Fixpoint.sigChange(fSig, s)
          fSig = s
          residual
        }
        // Backward phase as a MIN-LABEL flood, not a boolean reach flag:
        // b(v) = min id reachable FROM v inside v's color. Every id in
        // color p is ≥ p (p reaches all of them and a smaller reached id
        // would have recolored), so b(v) = p ⟺ v reaches the pivot — the
        // boolean flood's fixpoint, but with labels that COMPOSE: b is a
        // vertex id, so the same pointer-jumping shortcut as the coloring
        // applies (b'(v) = min(b(v), b_prev(b(v))) — b(v) is in v's color
        // and reachable from v, so anything IT reaches, v reaches). A
        // boolean flag cannot double and left this phase diameter-round
        // bound — the one super-log outlier of the round-14 diameter
        // measurement (directed-cycle fixture, SCALE.md).
        //
        // The within-color edge restriction is computed ONCE (any v→p path
        // stays inside color p — shown above — so the flood never needs
        // cross-color edges), and the per-round state is the bare
        // (id, b, s) frame — the [[connectedComponentsExact]] recurrence
        // shape, which one barrier + one action per round keeps
        // constant-cost per round.
        //
        // DUAL pointers: b = MIN known-reachable id, s = MAX known-reachable
        // id (both start at self). Each round takes the one-hop min/max
        // from successors, then composes through BOTH pointers — everything
        // x with b(v)=x or s(v)=x is certified reachable from v, so x's own
        // horizon extends v's (soundness by induction; completeness needs
        // only the one-hop closure at the joint fixpoint). A single pointer
        // degenerates on monotone id layouts (ids ascending along edges —
        // e.g. any generated cycle — pin b(v)=v forever, measured as a
        // one-hop-per-round flood); whichever of min/max is non-degenerate
        // for the layout doubles the horizon, so monotone layouts converge
        // in ~log₂(diameter) rounds either way.
        val eaC = ea
          .join(hint(f.select(col("id").as("src"), col("f").as("__fs")), aliveCount), Seq("src"))
          .join(hint(f.select(col("id").as("dst"), col("f").as("__fd")), aliveCount), Seq("dst"))
          .filter(col("__fs") === col("__fd"))
          .select(col("src"), col("dst"))
          .repartition(col("src")) // the backward flood aggregates by src
          .persist(StorageLevel.MEMORY_AND_DISK)
        // one action per round: both monotone signatures in a single agg
        def sigBS(df: DataFrame): (java.math.BigDecimal, java.math.BigDecimal) = {
          val r = df.agg(sum(col("b").cast("decimal(38,0)")),
            sum(col("s").cast("decimal(38,0)"))).head
          (if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0),
            if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
        }
        val rb0 = f.select(col("id"), col("id").as("b"), col("id").as("s"))
          .transform(roundBarrier)
        var (rSigB, rSigS) = sigBS(rb0)
        val (rb, flooded) = Fixpoint.run(s"scc_bw_o$outer", maxInner, rb0,
            owned = Seq(eaC)) { (rb, _) =>
          // the message probe and BOTH pointer jumps project rb IDENTICALLY
          // so the three broadcast exchanges canonicalize to ONE build per
          // round (ReuseExchange) — r17 built rb three times per round
          // under three shapes. Each join's projection is consumed by the
          // select right after it, so the repeated names never clash.
          def rbP = rb.select(col("id").as("__j"), col("b").as("__jb"),
            col("s").as("__js"))
          val m = eaC
            .join(hint(rbP, aliveCount), col("dst") === col("__j"))
            .groupBy(col("src"))
            .agg(min(col("__jb")).as("__bm"), max(col("__js")).as("__sm"))
          val stepped = rb.join(hint(m.select(col("src").as("id"), col("__bm"),
              col("__sm")), aliveCount), Seq("id"), "left")
            .select(col("id"),
              least(col("b"), coalesce(col("__bm"), col("b"))).as("b"),
              greatest(col("s"), coalesce(col("__sm"), col("s"))).as("s"))
          val viaS = stepped
            .join(hint(rbP, aliveCount), col("s") === col("__j"), "left")
            .select(col("id"),
              least(col("b"), coalesce(col("__jb"), col("b"))).as("b"),
              greatest(col("s"), coalesce(col("__js"), col("s"))).as("s"))
          viaS
            .join(hint(rbP, aliveCount), col("b") === col("__j"), "left")
            .select(col("id"),
              least(col("b"), coalesce(col("__jb"), col("b"))).as("b"),
              greatest(col("s"), coalesce(col("__js"), col("s"))).as("s"))
        } { rb =>
          // joint fixpoint: b monotone non-increasing, s non-decreasing —
          // the horizon is transitively closed only when BOTH stabilize
          val (sb, ss) = sigBS(rb)
          val residual = math.max(Fixpoint.sigChange(rSigB, sb), Fixpoint.sigChange(rSigS, ss))
          rSigB = sb
          rSigS = ss
          residual
        }
        // FW-BW resolution is only sound when BOTH floods reached their
        // fixpoint: a lagging coloring can crown false pivots (a long cycle
        // would retire its minimum as a singleton, silently SPLITTING the
        // SCC), and a lagging backward flood would retire a partial SCC.
        // When either budget ran out mid-flood, resolve NOTHING — the
        // survivors come back scc = NULL with the loud warning below, and
        // no further outer round can do better on this alive set.
        if (!colored.converged || !flooded.converged) {
          val (phase, o) = if (!colored.converged) ("coloring", colored) else ("backward", flooded)
          Fixpoint.warnIfExhausted(s"stronglyConnectedComponents $phase flood", o,
            "skipping resolution (unresolved vertices are reported scc = NULL); raise maxInner")
          halted = true
        } else {
          // v ∈ SCC(pivot) ⟺ pivot reaches v (f(v) = pivot) AND v reaches
          // the pivot within the color (b(v) = pivot = f(v))
          val resolved = rb
            .join(hint(f.select(col("id"), col("f")), aliveCount), Seq("id"))
            .filter(col("b") === col("f"))
            .select(col("id"), col("f").as("scc")).transform(roundBarrier)
          // no dedicated count: the alive anti-join's broadcast build below
          // materializes the lazy barrier as part of the same round
          out = out :+ resolved
          val prevAlive = aliveCount
          alive = alive.join(hint(resolved.select(col("id")), aliveCount),
              Seq("id"), "left_anti")
            .transform(roundBarrier)
          aliveCount = alive.count()
          // resolved SCCs are removals for the carried trim degree state:
          // the next outer round's trim folds them in with any peel its
          // predecessor left pending
          remove(resolved.select(col("id")), prevAlive - aliveCount)
        }
        ea.unpersist(false)
      }
      outer += 1
    }
    ed.unpersist(false)
    val outcome = if (aliveCount > 0) BudgetExhausted(outer, aliveCount) else Converged(outer)
    Fixpoint.record("scc", outcome)
    Fixpoint.warnIfExhausted("stronglyConnectedComponents", outcome,
      "unresolved vertices are reported scc = NULL")
    if (aliveCount > 0) out = out :+ alive.select(col("id"), lit(null).cast("long").as("scc"))
    if (out.isEmpty)
      g.vertices.select(col("id"), lit(null).cast("long").as("scc")).limit(0)
    else out.reduce(_ unionByName _)
  }

  /** MAXIMAL MATCHING over the undirected simple graph — the deterministic
    * mutual-minimum handshake (the classic distributed matching round of
    * Israeli–Itai made deterministic by id order, the coarsening primitive
    * under multilevel partitioners): each round every alive vertex proposes
    * to its MINIMUM-id alive neighbor, mutually-proposing pairs marry and
    * retire with their incident edges, repeat. The alive vertex with the
    * globally minimal id always pairs mutually, so every round with an
    * alive edge matches at least one pair and a 0-match round IS the
    * fixpoint — at which point no edge joins two unmatched vertices, i.e.
    * the matching is maximal. Returns one (u, v, round) row per matched
    * pair (u < v); deterministic, so the SQL oracle mirrors it round for
    * round (a round budget too small for maximality shows up as the
    * oracle's leftover-edge sentinel — loud, like kCore).
    *
    * Scale: pair set dedupes once; each round is one edges⨝alive semi-join
    * pair + a map-side-combinable MIN per vertex + one self-join of the
    * vertex-sized proposal frame. Alive only shrinks. */
  def maximalMatching(g: PropertyGraph, maxRounds: Int = 16): DataFrame = {
    val ue = g.edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val ne = ue.select(col("u").as("x"), col("v").as("y"))
      .unionAll(ue.select(col("v").as("x"), col("u").as("y")))
      .repartition(col("x"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var alive = g.vertices.select(col("id")).transform(roundBarrier)
    var out = Vector.empty[DataFrame]
    def aliveEdges = ne
      .join(alive.select(col("id").as("x")), Seq("x"), "left_semi")
      .join(alive.select(col("id").as("y")), Seq("y"), "left_semi")
    val (_, outcome) = Fixpoint.run("matching", maxRounds, alive) { (_, round) =>
      val prop = aliveEdges.groupBy(col("x")).agg(min(col("y")).as("p"))
      prop.as("a")
        .join(prop.as("b"), col("b.x") === col("a.p") && col("b.p") === col("a.x"))
        .filter(col("a.x") < col("a.p"))
        .select(col("a.x").as("u"), col("a.p").as("v"), lit(round.toLong).as("round"))
    } { m =>
      val nMatched = m.count()
      if (nMatched > 0) {
        out = out :+ m
        val gone = m.select(col("u").as("id")).unionAll(m.select(col("v").as("id")))
        alive = alive.join(gone, Seq("id"), "left_anti").transform(roundBarrier)
        alive.count()
      }
      nMatched
    }
    // budget elapsed while still matching is only a problem if an edge
    // between two UNMATCHED vertices actually remains (the final round may
    // have saturated the graph exactly at the budget)
    if (!outcome.converged && aliveEdges.limit(1).count() > 0)
      Fixpoint.warnIfExhausted("maximalMatching", outcome,
        "the matching may not be maximal; raise maxRounds")
    ne.unpersist(false)
    if (out.isEmpty) {
      val spark = g.spark
      import spark.implicits._
      Seq.empty[(Long, Long, Long)].toDF("u", "v", "round")
    } else out.reduce(_ unionByName _)
  }

  /** CONTRACT a matching into the coarse graph — the second half of the
    * multilevel coarsening step [[maximalMatching]] begins: every matched
    * pair collapses into a supervertex keyed by its smaller id, unmatched
    * vertices survive as themselves, and the coarse UNDIRECTED edge (a, b),
    * a < b, carries weight = the number of original edges between the two
    * clusters (self-loops from intra-pair edges drop). Iterating match →
    * contract is exactly how multilevel partitioners (the public
    * Metis/Graclus family) shrink a graph while preserving its cut
    * structure. Returns (src, dst, weight).
    *
    * Scale: the vertex→representative map is vertex-sized (broadcastable
    * when the matching is small); the edge re-wire is two equi-joins + one
    * map-side-combinable count — one pass over the edge list. */
  def contractMatching(g: PropertyGraph, matching: DataFrame): DataFrame = {
    val map = matching.select(col("u").as("id"), least(col("u"), col("v")).as("rep"))
      .unionAll(matching.select(col("v").as("id"), least(col("u"), col("v")).as("rep")))
    val full = g.vertices.select(col("id"))
      .join(map, Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
    g.edges.select(col("src"), col("dst"))
      .join(full.select(col("id").as("src"), col("rep").as("__rs")), Seq("src"))
      .join(full.select(col("id").as("dst"), col("rep").as("__rd")), Seq("dst"))
      .filter(col("__rs") =!= col("__rd"))
      .select(least(col("__rs"), col("__rd")).as("src"),
        greatest(col("__rs"), col("__rd")).as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("weight"))
  }

  /** Σ of a column as DECIMAL(38,0) — the convergence signature for
    * monotone label recurrences whose BIGINT sums would overflow at
    * tag-prefixed id scale (shared by the label-merging loops). */
  private def decSig(df: DataFrame, c: String): java.math.BigDecimal = {
    val r = df.agg(sum(col(c).cast("decimal(38,0)"))).head
    if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
  }

  /** BORŮVKA minimum spanning forest — the classic parallel MST (Borůvka
    * 1926; the round structure every distributed MST paper builds on): each
    * round, every component adopts its MINIMUM-weight outgoing edge under
    * the (w, u, v) total order (ties impossible once (u, v) breaks them —
    * the selection is the unique MSF of the tie-broken weights, and the
    * per-round selection graph is acyclic), adopted edges join the forest,
    * and touched components merge by a min-label flood over the selection
    * pairs. Components at least halve per effective round ⇒ O(log V)
    * rounds. Parallel edges pre-collapse to their min weight; `weight`
    * defaults to the edge id (any Long-castable column works — unique ids
    * make the forest canonical). Returns (u, v, w) forest edges.
    *
    * Determinism: fixed monotone recurrences throughout (min-edge per comp,
    * min-label flood, shrinking component sum), so the SQL oracle mirrors
    * round for round; early convergence equals the oracle's fixed budgets.
    * A too-small `maxInner` leaves labels lagging (warned loudly — the
    * next round could then adopt an intra-component edge), and a too-small
    * `maxOuter` leaves the forest incomplete (the oracle's crossing-edge
    * sentinel makes that red, not silent).
    *
    * Scale: edge list dedupes and lays out once; per round the component
    * frame (vertex-sized) joins it twice, the min-edge selection is one
    * map-side-combinable struct-MIN, and the label flood runs on the
    * SELECTION pairs — one row per merging component, far below edge
    * scale. */
  def minimumSpanningForest(g: PropertyGraph, weight: Column = col("id"),
      maxOuter: Int = 10, maxInner: Int = 12): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val ed = g.edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"), weight.cast("long").as("w"))
      .filter(col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var comp = g.vertices.select(col("id"), col("id").as("c")).transform(roundBarrier)
    // broadcast-regime gate for the vertex-sized comp frame (checkpointed
    // frames hide size stats from AQE — see connectedComponentsExact): in
    // the broadcast regime the two rank-attach joins leave the persisted
    // edge layout untouched, so the per-round |E| work is the one map-side-
    // combinable min-selection aggregate
    val vCount = comp.count()
    var out = Vector.empty[DataFrame]
    val (_, outcome) = Fixpoint.run("msf", maxOuter, comp) { (_, _) =>
      // both rank attaches project comp IDENTICALLY so their broadcast
      // exchanges canonicalize to ONE build per round (ReuseExchange) — the
      // intermediate select renames the first attach out of the way (r18;
      // the (u→cu)/(v→cv) projections built comp twice per round before)
      def compP = comp.select(col("id").as("__j"), col("c").as("__jc"))
      val ec = ed
        .join(hint(compP, vCount), col("u") === col("__j"))
        .select(col("u"), col("v"), col("w"), col("__jc").as("cu"))
        .join(hint(compP, vCount), col("v") === col("__j"))
        .select(col("u"), col("v"), col("w"), col("cu"), col("__jc").as("cv"))
        .filter(col("cu") =!= col("cv"))
      // one explode pass instead of a self-union (the union re-ran the two
      // rank-attach joins — ec is not persisted); cu/cv RIDE THE MIN STRUCT,
      // so the merge pairs need no post-selection re-attach joins — (u, v)
      // determines (cu, cv), so the winner per component and the distinct
      // row set project to exactly the previous (u, v, w) selection
      val cand = ec.select(explode(array(col("cu"), col("cv"))).as("comp"),
        col("w"), col("u"), col("v"), col("cu"), col("cv"))
      cand.groupBy(col("comp"))
        .agg(min(struct(col("w"), col("u"), col("v"),
          col("cu"), col("cv"))).as("m"))
        .select(col("m.u").as("u"), col("m.v").as("v"), col("m.w").as("w"),
          col("m.cu").as("cu"), col("m.cv").as("cv"))
        .distinct()
    } { sel =>
      val nSel = sel.count()
      if (nSel > 0) {
        out = out :+ sel.select(col("u"), col("v"), col("w"))
        // Label merge over the SELECTION pairs — one row per merging
        // component, far below edge scale. Dual regime shared with the
        // streaming incrementalComponents via [[classMergeMapping]].
        // 2·nSel bounds und's rows (each selected edge contributes two
        // oriented class pairs), so the regime gate needs no extra count
        // action; duplicates are harmless to both regimes (min over dupes),
        // so no distinct pass either.
        val und = sel.select(col("cu").as("a"), col("cv").as("b"))
          .unionAll(sel.select(col("cv").as("a"), col("cu").as("b")))
          .transform(roundBarrier)
        val lblMap = classMergeMapping(und, 2L * nSel, maxInner,
          "minimumSpanningForest")
        // no dedicated materialization: the next round's count (or the
        // caller's action on the final frame) materializes the lazy barrier
        comp = comp.join(lblMap, Seq("c"), "left")
          .select(col("id"), coalesce(col("l"), col("c")).as("c"))
          .transform(roundBarrier)
      }
      nSel
    }
    // "budget elapsed" alone is not evidence of incompleteness (the final
    // round may have finished the forest exactly at the budget): warn only
    // if a component-crossing edge actually remains
    if (!outcome.converged && ed
        .join(comp.select(col("id").as("u"), col("c").as("cu")), Seq("u"))
        .join(comp.select(col("id").as("v"), col("c").as("cv")), Seq("v"))
        .filter(col("cu") =!= col("cv")).limit(1).count() > 0)
      Fixpoint.warnIfExhausted("minimumSpanningForest", outcome,
        "the forest is incomplete; raise maxOuter")
    ed.unpersist(false)
    if (out.isEmpty) Seq.empty[(Long, Long, Long)].toDF("u", "v", "w")
    else out.reduce(_ unionByName _)
  }

  /** GREEDY graph COLORING — Jones–Plassmann (1993, public) with
    * deterministic md5 priorities: each round, every still-uncolored vertex
    * whose (hash, id) priority beats all its uncolored neighbors' takes the
    * SMALLEST color absent from its already-colored neighborhood (the mex),
    * so adjacent vertices never share a color and the palette stays
    * Δ+1-bounded. The classic parallel scheduling/symmetry-breaking
    * primitive (register allocation, parallel sweeps over shared state); a
    * true-random priority would not replay, the content-keyed hash draw
    * does — and ties break by id, so the order is total and the SQL oracle
    * mirrors every round. The globally-highest-priority uncolored vertex
    * always wins its round, so progress is guaranteed; vertices still
    * uncolored past `maxRounds` come back color = NULL (warned loudly).
    * Returns (id, color).
    *
    * Scale: the simple undirected edge list lays out once; per round the
    * domination test and the neighbor-color mex are edges⨝vertex-frame
    * equi-joins (the mex set is collect_set over ALREADY-COLORED neighbors
    * — bounded by degree); the uncolored set only shrinks. Expected rounds
    * O(log n) under hashed priorities. */
  def greedyColoring(g: PropertyGraph, maxRounds: Int = 20,
      salt: String = ""): DataFrame = {
    val und = g.edges.select(col("src").as("a"), col("dst").as("b"))
      .unionAll(g.edges.select(col("dst").as("a"), col("src").as("b")))
      .filter(col("a") =!= col("b")).distinct()
      .repartition(col("a"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // priority = (⌊log2(deg+1)⌋, hash, id): the largest-degree-first twist —
    // plain hash priorities make hub-heavy graphs near-sequential (every
    // leaf waits on its hub, the hub waits on half its leaves; measured
    // ~80 colored/round on the TPC-H graph), while degree-bucket-first
    // colors the few hubs immediately and the leaves in the next waves —
    // rounds ≈ #degree buckets + O(log n). The bucket is deterministic
    // from the DEDUPED undirected degree, so the oracle mirrors it.
    val h = pmod(conv(substring(md5(concat_ws(":", lit(salt),
      col("id").cast("string"))), 21, 12), 16, 10).cast("long"), lit(1L << 48))
    val deg = und.groupBy(col("a")).agg(count(lit(1)).as("__d"))
    val state0 = g.vertices.select(col("id"), h.as("h"))
      .join(deg.select(col("a").as("id"), col("__d")), Seq("id"), "left")
      .select(col("id"),
        floor(log2(coalesce(col("__d"), lit(0L)) + 1L)).cast("long").as("db"),
        col("h"), lit(null).cast("long").as("color"))
      .transform(roundBarrier)
    val (state, outcome) = Fixpoint.run("coloring", maxRounds, state0,
        residual0 = state0.filter(col("color").isNull).count(), owned = Seq(und)) { (state, _) =>
      val unc = state.filter(col("color").isNull)
        .select(col("id"), col("db"), col("h"))
      val dominated = und
        .join(unc.select(col("id").as("a"), col("db").as("__dv"), col("h").as("__hv")), Seq("a"))
        .join(unc.select(col("id").as("b"), col("db").as("__du"), col("h").as("__hu")), Seq("b"))
        .filter(struct(col("__du"), col("__hu"), col("b")) >
          struct(col("__dv"), col("__hv"), col("a")))
        .select(col("a").as("id")).distinct()
      val winners = unc.join(dominated, Seq("id"), "left_anti")
      val nbrCols = und
        .join(winners.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(state.filter(col("color").isNotNull)
          .select(col("id").as("b"), col("color").as("__c")), Seq("b"))
        .groupBy(col("a")).agg(collect_set(col("__c")).as("__cs"))
      val mexed = winners
        .join(nbrCols.select(col("a").as("id"), col("__cs")), Seq("id"), "left")
        .select(col("id"), element_at(
          filter(sequence(lit(0L), size(coalesce(col("__cs"),
            array().cast("array<long>"))).cast("long")),
            i => !array_contains(coalesce(col("__cs"), array().cast("array<long>")), i)),
          1).as("__mex"))
      state
        .join(mexed.select(col("id"), col("__mex")), Seq("id"), "left")
        .select(col("id"), col("db"), col("h"),
          coalesce(col("color"), col("__mex")).as("color"))
    } { state => state.filter(col("color").isNull).count() } // uncolored left
    Fixpoint.warnIfExhausted("greedyColoring", outcome,
      "uncolored vertices are reported color = NULL")
    state.select(col("id"), col("color"))
  }

  /** Community QUALITY report for a labeling — the evaluation half of
    * community detection ([[labelPropagationExact]] / components /
    * [[stronglyConnectedComponents]] produce labels; this scores them). Per
    * community: member count, internal edge rows, cut edge rows, volume
    * (2·internal + cut), CONDUCTANCE ×10⁶ = cut·10⁶ DIV min(vol, 2m − vol)
    * (0 when either side of the cut has no volume), and the per-community
    * MODULARITY term ×10¹² = ⌊in_c·10¹²/m⌋ − ⌊vol_c·10⁶/2m⌋² — summed over
    * rows this is Newman's Q (the squared fraction is floor-of-scaled, a
    * ≤2e-6-relative quantization both engines compute identically; the
    * in_c/m half uses the exact overflow-safe floor decomposition, valid to
    * m ≈ 3·10⁹ labeled edge rows — shard the report past that). Edges with
    * an unlabeled endpoint drop (ghost tolerance); self-loops count one
    * internal row and two volume.
    *
    * One labels⨝edges join pair, two map-side-combinable count aggregates
    * and a 1-row broadcast total — community-sized output, nothing edge-
    * sized crosses more than one exchange. */
  def communityStats(g: PropertyGraph, labels: DataFrame): DataFrame = {
    val lab = labels.select(col("id"), col("community"))
    val el = g.edges.select(col("src"), col("dst"))
      .join(lab.select(col("id").as("src"), col("community").as("__cs")), Seq("src"))
      .join(lab.select(col("id").as("dst"), col("community").as("__cd")), Seq("dst"))
      .select(col("__cs"), col("__cd"))
    val per = el.select(col("__cs").as("community"),
        when(col("__cs") === col("__cd"), 1L).otherwise(0L).as("__in"),
        when(col("__cs") =!= col("__cd"), 1L).otherwise(0L).as("__cut"))
      .unionAll(el.filter(col("__cs") =!= col("__cd"))
        .select(col("__cd").as("community"), lit(0L).as("__in"), lit(1L).as("__cut")))
      .groupBy(col("community"))
      .agg(sum(col("__in")).as("__ie"), sum(col("__cut")).as("__ce"))
    val mTot = el.agg(count(lit(1)).as("__m"))
    lab.groupBy(col("community")).agg(count(lit(1)).as("size"))
      .join(per, Seq("community"), "left")
      .select(col("community"), col("size"),
        coalesce(col("__ie"), lit(0L)).as("internal_edges"),
        coalesce(col("__ce"), lit(0L)).as("cut_edges"))
      .withColumn("volume", col("internal_edges") * 2L + col("cut_edges"))
      .crossJoin(broadcast(mTot))
      .withColumn("conductance_x1e6",
        when(least(col("volume"), col("__m") * 2L - col("volume")) <= 0L, lit(0L))
          .otherwise(expr(
            "cut_edges * 1000000L DIV least(volume, __m * 2L - volume)")))
      .withColumn("modularity_term_x1e12",
        when(col("__m") === 0L, lit(0L)).otherwise(
          expr("(1000000000000L DIV __m) * internal_edges" +
            " + ((1000000000000L % __m) * internal_edges) DIV __m" +
            " - ((volume * 1000000L) DIV (__m * 2L)) * ((volume * 1000000L) DIV (__m * 2L))")))
      .drop("__m")
  }

  /** Bijective 64-bit mixer: xorshift64 (Marsaglia 2003 — public algorithm)
    * over an initial constant XOR. A collision-free random priority for
    * label floods: xor/shift steps are bijections on Long and — unlike a
    * multiplicative finalizer — never trip ANSI-mode overflow checks. */
  private[graft] def mix64(c: Column): Column = {
    val z0 = c.bitwiseXOR(lit(-7046029254386353131L)) // ^ 0x9E3779B97F4A7C15
    val z1 = z0.bitwiseXOR(shiftleft(z0, 13))
    val z2 = z1.bitwiseXOR(shiftrightunsigned(z1, 7))
    z2.bitwiseXOR(shiftleft(z2, 17))
  }

  /** Per-round lineage barrier for the iterative kernels. It follows
    * Spark's own checkpoint setting, as GraphX's Pregel and MLlib's
    * periodic checkpointer do: with a checkpoint directory set on the
    * context (`SparkContext.setCheckpointDir`) the barrier is a reliable
    * checkpoint that survives executor loss; without one it is a
    * localCheckpoint materialized by the round's one action, the cheapest
    * form. BOTH forms then STRIP the leaf statistics Spark 4's checkpoint
    * carries onto the new leaf — without the strip, the carried
    * sizeInBytes estimate compounds geometrically across rounds and
    * driver-side BigInteger stats arithmetic dominates wall time from
    * ~round 12, executors idle (found by the round-14 diameter
    * measurement; full analysis in [[org.apache.spark.sql.GraftSqlBridge]]).
    *
    * Dead rounds' shuffle files are reclaimed once a driver GC collects
    * their RDD references (see GraftSqlBridge.resetStats); on a
    * disk-critical box, Spark's `spark.cleaner.periodicGC.interval` paces
    * that GC. */
  private[graft] def roundBarrier(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // SESSION PROPAGATION — SparkPlan nodes capture
    // `SparkSession.getActiveSession.orNull` at CONSTRUCTION time, and
    // SparkPlan.metrics/resetMetrics dereference that captured session. The
    // active session is a THREAD-LOCAL: a kernel round driven from a thread
    // that never ran a session-establishing entry point (ScalaTest pool
    // threads, user job-submission pools per guide §2.6) can construct plan
    // fragments with a null session, and the next localCheckpoint action
    // then dies in resetMetrics with a Spark-internal NPE
    // (BroadcastNestedLoopJoinExec.metrics — the r17 VERIFY failure on
    // closenessCentrality's crossJoin(broadcast) seed). Pinning the frame's
    // own session as the thread's active session here covers every kernel
    // round on whatever thread runs it; setActiveSession is idempotent and
    // a plain thread-local write.
    SparkSession.setActiveSession(spark)
    val ck =
      if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(false) // the round's one action materializes it
    org.apache.spark.sql.GraftSqlBridge.resetStats(ck)
  }

  /** Rows per task of [[classMergeMapping]]'s driver-built mapping: 16k
    * pairs of longs serialize to a few hundred KiB. */
  private val MergeSliceRows = 16384

  /** DUAL-REGIME min-label class merge over an undirected, distinct pair
    * frame `und` (cols a, b), shared by [[minimumSpanningForest]]'s label
    * merge and the streaming
    * [[graft.stream.ChangeStream.incrementalComponents]].
    *
    * PRECONDITION — `und` MUST carry BOTH orientations of every pair
    * (callers symmetrize with a swapped unionAll). The driver union-find is
    * direction-agnostic and silently tolerates asymmetric input, but the
    * distributed flood pulls labels through rows (a,b) in the b→a direction
    * ONLY — on one-directional input the two regimes DIVERGE (measured: a
    * one-directional chain converges immediately with zero merges in the
    * flood while the driver path merges fully — RoundScale merge arm,
    * round 17). Both engine callers symmetrize; keep that invariant at any
    * new call site. DUPLICATE pairs are allowed (both regimes are
    * min-over-duplicates tolerant — the union-find unions idempotently,
    * the flood aggregates min) and `undRows` may be an UPPER BOUND on the
    * row count, not an exact count: a conservative bound only shifts the
    * regime gate toward the distributed flood (minimumSpanningForest passes
    * 2·nSel without a distinct pass for exactly this reason).
    *
    * At or under `spark.graft.msf.driverMergeMaxRows` (default 5M) the
    * pair set is a bounded control read: a driver union-find produces the
    * exact old-label → class-minimum mapping in one broadcast (per-round
    * distributed flooding spent ~80% of q_msf's sf0.1 wall on per-job
    * overhead for frames of a few thousand rows). Past the cap — e.g. the
    * first micro-batch of a bulk CDC backfill, whose cross-class pair set
    * is edge-scale — the pointer-doubled distributed min-label flood runs
    * its `maxInner` budget instead: same fixpoint, O(log chain) rounds,
    * nothing edge-scale ever reaches the driver. Returns the (c, l)
    * mapping, broadcast-hinted only in the driver regime (the flood's
    * output is class-count-sized, potentially too big to broadcast).
    *
    * THE 5M DEFAULT IS A DRIVER-MEMORY BOUND, NOT A WALL CROSSOVER — the
    * round-17 crossover measurement (RoundScale merge arm, SCALE.md
    * §"classMergeMapping crossover") found the wall winner is decided by
    * merge-chain DEPTH, not row count: on deep chains the driver path wins
    * at EVERY size through 2·10⁷ symmetrized rows (130.6 s vs the flood's
    * 344.6 s — the flood pays log₂(depth) full-pair-set joins), while on
    * shallow 10-member classes the flood wins from ~2·10⁶ rows (4.0 s vs
    * 8.8 s; 20.7 s vs 116.4 s at 2·10⁷ — its round count is constant and
    * the driver cost is pure collect+CPU volume). 5M keeps the worst
    * measured driver-side loss ≤ ~2.2× on shallow inputs, keeps the
    * up-to-7× win on deep chains below the cap, and bounds the collect
    * to ~80 MB of id pairs — right for callers whose pair frames are
    * post-aggregation (class-count-sized) with unbounded depth. */
  private[graft] def classMergeMapping(und: DataFrame, undRows: Long,
      maxInner: Int = 12, caller: String = "classMergeMapping",
      strict: Boolean = false): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    val driverMerge = undRows <= spark.conf
      .get("spark.graft.msf.driverMergeMaxRows", "5000000").toLong
    if (driverMerge) {
      val pairs = und.collect().map(r => (r.getLong(0), r.getLong(1)))
      // the mapping's rows ride inside the tasks that read them, and a local
      // relation is one task: split them so no task nears Spark's 1000 KiB
      // task-size warning
      val mapping = minLabelUnionFind(pairs).toSeq
      val slices = math.max(1, (mapping.size + MergeSliceRows - 1) / MergeSliceRows)
      broadcast(spark.sparkContext.parallelize(mapping, slices).toDF("c", "l"))
    } else {
      val l0 = und.select(col("a").as("c")).distinct()
        .select(col("c"), col("c").as("l")).transform(roundBarrier)
      var sig = decSig(l0, "l")
      // Pointer-doubling reach is 2^i, so 64 rounds cover any merge chain a
      // Long id space can encode. strict callers persist the result (e.g.
      // streaming checkpoint state, where a lagged label is never revisited
      // by later batches), so they run to the fixpoint and fail hard rather
      // than commit divergent labels; non-strict one-shot callers keep the
      // maxInner budget and the warn-and-continue contract.
      val roundBudget = if (strict) math.max(maxInner, 64) else maxInner
      val (labels, outcome) = Fixpoint.run("class_merge", roundBudget, l0) { (cur, _) =>
        val m2 = und.join(cur.select(col("c").as("b"), col("l").as("__lb")), Seq("b"))
          .groupBy(col("a")).agg(min(col("__lb")).as("__ln"))
        // the l(l(c)) POINTER-DOUBLING term makes reach grow exponentially
        // per round (chains of merge pairs would otherwise need diameter
        // rounds — the regime-equivalence requirement: this branch must
        // land on the same fixpoint the driver union-find computes
        // exactly, within the budget)
        cur
          .join(m2.select(col("a").as("c"), col("__ln")), Seq("c"), "left")
          .join(cur.select(col("c").as("__lc"), col("l").as("__ll")),
            col("l") === col("__lc"), "left")
          .select(col("c"), least(col("l"),
            coalesce(col("__ln"), col("l")),
            coalesce(col("__ll"), col("l"))).as("l"))
      } { nl =>
        val s = decSig(nl, "l")
        val residual = Fixpoint.sigChange(sig, s)
        sig = s
        residual
      }
      val note = "merged class labels lag the fixpoint"
      if (strict && !outcome.converged) throw new IllegalStateException(
        s"[graft] $caller: round budget $roundBudget elapsed " +
          "before the label flood converged — " + note)
      Fixpoint.warnIfExhausted(caller, outcome, note)
      labels.select(col("c"), col("l"))
    }
  }

  /** Driver-side min-label union-find over a bounded pair list (the
    * control-read regime of [[classMergeMapping]]): returns the exact
    * old-label → min-member-of-class mapping for every label appearing in
    * `pairs`. Union always roots at the smaller id, so the root IS the
    * class minimum — deterministic on any input order. */
  private[graft] def minLabelUnionFind(pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    pairs.iterator.flatMap(p => Iterator(p._1, p._2))
      .toSet[Long].iterator.map(c => c -> find(c)).toMap
  }

  /** The one broadcast hint of the iterative kernels: broadcast `df` when
    * `rows` — a caller-proved UPPER BOUND on its row count, passed at every
    * call — is within the regime cap. Checkpointed frames hide size stats
    * from AQE, so for them the hint is load-bearing; past the cap the join
    * degrades to one exchange per round, the floor any orientation has.
    *
    * Vertex-shaped frames use `spark.graft.broadcast.maxRows` (default 10M
    * rows of ~16 bytes). EDGE-shaped build sides (`edgeShaped`, e.g.
    * kTruss's oriented (a, b, db) frame) are 24+ bytes per row AND are
    * hinted at two attach sites per round, so near the vertex cap they
    * would hold two concurrent several-hundred-MB broadcast relations —
    * the forced-broadcast OOM class the hubAntiJoin note warns about; they
    * are capped at a quarter of that bound, which keeps the worst-case
    * concurrent edge-broadcast bytes at or under one vertex-cap relation. */
  private[olap] def hint(df: DataFrame, rows: Long, edgeShaped: Boolean = false): DataFrame = {
    val maxRows = df.sparkSession.conf.get("spark.graft.broadcast.maxRows", "10000000").toLong
    val cap = if (edgeShaped) maxRows / 4L else maxRows
    if (rows <= cap) broadcast(df) else df
  }

  /** Anti-join `df` against a hub id set WITHOUT a forced broadcast hint:
    * #hubs <= 2|E|/maxHubDegree is usually tiny but DATA-DEPENDENT-unbounded
    * (a low degree cap over a fat-tailed graph), and a forced hint bypasses
    * autoBroadcastJoinThreshold - the 100x-scale OOM class. The hubs frame
    * is a fresh (non-checkpointed) aggregate, so AQE sees its RUNTIME size
    * and picks the broadcast itself in the typical tiny case; a count-probe
    * gate would re-run the degree aggregate (measured +23% on
    * q_recommend_links), so the hint-free route is also the cheaper one. */
  private def hubAntiJoin(g: PropertyGraph, df: DataFrame, hubs: DataFrame,
      keys: Seq[String]): DataFrame =
    df.join(hubs, keys, "left_anti")

  private def toDF[T <: Product : scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession, rdd: org.apache.spark.rdd.RDD[T], names: String*): DataFrame = {
    val df = spark.createDataFrame(rdd)
    df.toDF(names: _*)
  }
}
