package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions — the reference's EXPLAIN-test discipline
  * (TitanGraphTest.evaluateQuery asserts subquery count + isFitted/isSorted
  * flags, :3227-3298). Here: the physical plan must show that label-dispatch
  * pruned the union to the right parquet file, that predicates reached the
  * scan (PushedFilters — "fitted"), and that per-vertex slices use Window
  * rather than a global sort ("ordered"). */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("label filter prunes the vertex scan to one partition (fitted)") {
    // materialized layout: vertices are label-partitioned, so hasLabel becomes
    // a PartitionFilter (pruned at file listing) and the property equality is
    // a PushedFilter on the parquet scan
    val p = plan("q_has_eq")
    assert(p.contains("graft-layout") && p.contains("/vertices"))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("label") && pf.contains("= customer"), pf)
    assert(p.contains("PushedFilters") && p.contains("mktsegment"))
  }

  test("edge-label filter prunes the edge scan to the contains partition") {
    val p = plan("q1_agg")
    assert(p.contains("graft-layout") && p.contains("/edges"))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("label") && pf.contains("= contains"), pf)
  }

  test("aggregation is partial before the exchange (map-side combine)") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum") || p.contains("partial_count"))
  }

  test("projection pruning reaches the scan (ReadSchema is narrow)") {
    val p = plan("q_has_eq")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("acctbal"), s"unpruned column in $readSchema")
  }

  test("per-vertex top-k uses Window, not global sort of all edges") {
    val p = plan("q_vc_topk")
    assert(p.contains("Window") || p.contains("RunningWindowFunction"))
    assert(p.contains("row_number"))
    // rank-limit pushdown: bounded per-key heap BEFORE the shuffle, so the
    // exchange moves ≤k rows per vertex, not the full adjacency
    assert(p.contains("WindowGroupLimit"))
    assert(p.indexOf("WindowGroupLimit") != p.lastIndexOf("WindowGroupLimit"),
      "expected both map-side (partial) and reduce-side WindowGroupLimit")
  }

  test("partitioned vertex label routes edgeCount through a salted two-phase aggregate") {
    import graft.query.{Direction, VertexCentricQuery}
    val g = graft.data.TpchGraph.load(spark, dir)
    // flag order vertices as partitioned (VertexLabelMaker.partition()) — the
    // routing must engage from the schema alone, with no caller opt-in
    val pg = g.copy(schema = g.schema.copy(vertexLabels = g.schema.vertexLabels
      .updated("order", g.schema.vertexLabel("order").copy(partitioned = true))))
    val salted = VertexCentricQuery(pg).labels("contains").direction(Direction.OUT).edgeCount()
    val p = salted.queryExecution.optimizedPlan.toString
    assert(p.contains("__salt"), s"expected salted two-phase aggregate:\n$p")
    // two aggregation levels: (key, salt) partial then key merge
    val hashAggs = salted.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, "expected partial + merge aggregate pair")
    // identical results to the unsalted plan
    val plain = VertexCentricQuery(g).labels("contains").direction(Direction.OUT).edgeCount()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaSalt = salted.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSalt === plain)
  }

  test("salted routing is scoped by the frontier's label set and covers propertyCount/groupCount") {
    import graft.query.{Direction, VertexCentricQuery}
    import org.apache.spark.sql.functions.col
    val g = graft.data.TpchGraph.load(spark, dir)
    val pg = g.copy(schema = g.schema.copy(vertexLabels = g.schema.vertexLabels
      .updated("order", g.schema.vertexLabel("order").copy(partitioned = true))))
    // (a) a frontier provably restricted to NON-partitioned labels plans the
    // plain single aggregate — no salt column, one aggregation level
    val custFrontier = pg.vertices.filter(col("label") === "customer")
      .select(col("id").as("vid"))
    val scoped = VertexCentricQuery(pg).onFrontier(custFrontier, Seq("customer"))
      .direction(Direction.OUT).edgeCount()
    assert(!scoped.queryExecution.optimizedPlan.toString.contains("__salt"),
      "non-partitioned anchor labels must skip the two-phase aggregate")
    // (b) a frontier that CAN contain the partitioned label still salts
    val orderFrontier = pg.vertices.filter(col("label") === "order")
      .select(col("id").as("vid"))
    val salted = VertexCentricQuery(pg).onFrontier(orderFrontier, Seq("order"))
      .direction(Direction.OUT).edgeCount()
    assert(salted.queryExecution.optimizedPlan.toString.contains("__salt"))
    // (c) propertyCount routes too, with identical results to the plain plan
    val pc = VertexCentricQuery(pg).onFrontier(orderFrontier, Seq("order"))
      .propertyCount("totalprice", "orderdate")
    assert(pc.queryExecution.optimizedPlan.toString.contains("__salt"))
    val pcPlain = VertexCentricQuery(g).onFrontier(orderFrontier)
      .propertyCount("totalprice", "orderdate")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === pcPlain)
    // (d) traversal groupCount: an UNRESTRICTED hop resets the frontier
    // universe to conservative-unknown, so salting engages; results match
    // the plain plan
    val gcSalted = pg.traversal.V().hasLabel("order").out().groupCount("label")
    assert(gcSalted.queryExecution.optimizedPlan.toString.contains("__salt"),
      "label-unrestricted hop -> unknown universe -> conservative salting must engage")
    val gcPlain = g.traversal.V().hasLabel("order").out().groupCount("label")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gcSalted.collect().map(r => r.getString(0) -> r.getLong(1)).toMap === gcPlain)
    val gcScoped = pg.traversal.V().hasLabel("customer").groupCount("mktsegment")
    assert(!gcScoped.queryExecution.optimizedPlan.toString.contains("__salt"),
      "hasLabel-scoped non-partitioned frontier must plan the plain aggregate")
  }

  test("declared edge-label endpoints keep salting scoped ACROSS hops") {
    import org.apache.spark.sql.functions.col
    val g = graft.data.TpchGraph.load(spark, dir)
    val pg = g.copy(schema = g.schema.copy(vertexLabels = g.schema.vertexLabels
      .updated("order", g.schema.vertexLabel("order").copy(partitioned = true))))
    // a label-restricted hop PROVES the destination universe from the
    // catalog's endpoint declarations: out('contains') can only land on
    // parts, so a post-hop groupCount plans the PLAIN aggregate even though
    // the anchor label is partitioned
    val proved = pg.traversal.V().hasLabel("order").out("contains").groupCount("label")
    assert(!proved.queryExecution.optimizedPlan.toString.contains("__salt"),
      "endpoint-proved non-partitioned frontier must plan the plain aggregate")
    assert(proved.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      g.traversal.V().hasLabel("order").out("contains").groupCount("label")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    // a hop INTO the partitioned label still engages the two-phase plan
    val intoPart = pg.traversal.V().hasLabel("customer").out("placed").groupCount("orderstatus")
    assert(intoPart.queryExecution.optimizedPlan.toString.contains("__salt"),
      "hop landing on the partitioned label must salt")
    // the proof survives the edge-frontier detour: outE('contains').inV()
    // tracks edge labels, then resolves the dst universe to parts
    val viaEdges = pg.traversal.V().hasLabel("order").outE("contains").inV().groupCount("label")
    assert(!viaEdges.queryExecution.optimizedPlan.toString.contains("__salt"),
      "outE(label).inV() must keep the endpoint proof")
    // IN-hop proof: in('placed') lands on customers only
    val inHop = pg.traversal.V().hasLabel("order").in("placed").groupCount("mktsegment")
    assert(!inHop.queryExecution.optimizedPlan.toString.contains("__salt"))
    // sanity: results of the cross-hop proved plan match a manual aggregate
    val manual = pg.edges.filter(col("label") === "placed")
      .join(pg.vertices.filter(col("label") === "customer")
        .select(col("id").as("cid"), col("mktsegment")), col("src") === col("cid"))
      .groupBy(col("mktsegment")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(inHop.collect().map(r => r.getString(0) -> r.getLong(1)).toMap === manual)
    // REGRESSION GUARD (label-domain separation): an EDGE frontier's label
    // set lives in the edge domain and must never be compared against
    // partitioned VERTEX labels — outE from a partitioned anchor keeps the
    // conservative salted plan (the edge expansion of the supernode is
    // exactly the skew salting exists for)
    val edgeGc = pg.traversal.V().hasLabel("order").outE("contains").groupCount("shipdate")
    assert(edgeGc.queryExecution.optimizedPlan.toString.contains("__salt"),
      "edge-label universe must not defeat vertex-label salting scope")
  }

  /** The base scan is restricted by a literal id set (`id = …` or
    * `id IN (…)` among its pushed filters): the index lookup's literal path,
    * a semi-join against the matched ids that ran as one bounded job. */
  private def idLiterals(p: String): Boolean =
    p.linesIterator.exists(l => l.contains("PushedFilters") &&
      (l.contains("EqualTo(id,") || l.contains("In(id,")))

  test("automatic index selection rewrites an equality query to an index semi-join") {
    // with a registered backing table the planner picks the byName composite
    // index: filter the index table → semi-join ids against base
    // (GraphCentricQueryBuilder.java:185-323 parity). One matched id is
    // under Indexes.LiteralIds, so the semi-join is the literal `id` filter
    // pushed into the base scan (the join shapes: PointReadLiteralSpec)
    val p = plan("q_index_auto")
    assert(idLiterals(p) && !p.contains("LeftSemi"), p)
    // an unbacked index must NOT trigger the rewrite (it would double-scan)
    val raw = graft.data.TpchGraph.load(spark, dir)
    val p2 = raw.V().has("name", "NATION_5").dataframe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p2.contains("LeftSemi") && !idLiterals(p2), p2)
  }

  test("label-scoped composite index is auto-selected only under a matching hasLabel") {
    // hasLabel("customer") covers the index's onlyLabel scope → index path
    // (the BUILDING customers are under Indexes.LiteralIds: literal ids)
    val p = plan("q_index_auto_scoped")
    assert(idLiterals(p), p)
    // the SAME equality WITHOUT the label constraint must NOT use the scoped
    // index: its table holds only customer rows, so the semi-join would drop
    // matching elements of every other label
    val g0 = graft.data.TpchGraph.load(spark, dir)
    val ix = graft.core.IndexDef("custBySegment", graft.core.ElementCategory.VERTEX,
      Seq("mktsegment"), onlyLabel = Some("customer"))
    val g = g0.copy(schema = g0.schema.copy(indexes = g0.schema.indexes + (ix.name -> ix)))
      .withIndexTable(ix.name, graft.index.Indexes.materialize(g0, ix))
    val p2 = g.V().has("mktsegment", "BUILDING").dataframe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p2.contains("LeftSemi") && !idLiterals(p2), p2)
  }

  test("index-path broadcast is size-gated: selective lookup broadcasts, " +
      "an over-cap id set compiles to a non-broadcast semi-join") {
    // "selective" is under graft.index.broadcast.maxRows. A set of at most
    // Indexes.LiteralIds ids (a point lookup) skips the join altogether, so
    // the broadcast case here is an edge-index lookup of ~1/4 of the
    // lineitems: more than LiteralIds ids, far fewer than the cap
    import org.apache.spark.sql.functions.col
    val g0 = graft.data.TpchGraph.load(spark, dir)
    val ix = graft.core.IndexDef("gateByFlag", graft.core.ElementCategory.EDGE,
      Seq("returnflag"))
    val g = g0.copy(schema = g0.schema.copy(indexes = g0.schema.indexes + (ix.name -> ix)))
      .withIndexTable(ix.name, graft.index.Indexes.materialize(g0, ix))
    assert(g0.edges.filter(col("returnflag") === "A").count() > graft.index.Indexes.LiteralIds)
    def p(): String = g.E().has("returnflag", "A").dataframe.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // isolate OUR hint from the planner's own size-based choice: with
    // autoBroadcastJoinThreshold disabled, a BroadcastExchange can only come
    // from the gate's explicit broadcast()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // under the default cap the gate forces the classic broadcast hash
      // semi-join — the reference's composite point-read shape survives
      // even a conservative threshold
      val sel = p()
      assert(sel.contains("LeftSemi") && sel.contains("BroadcastExchange"), sel)
      // cap forced to 0: every id set is "too big" — the hint must NOT be
      // forced (a forced broadcast of an unbounded set bypasses the
      // threshold and OOMs at 100× scale); AQE then picks the runtime
      // strategy from actual sizes
      spark.conf.set("graft.index.broadcast.maxRows", "0")
      try {
        val wide = p()
        assert(wide.contains("LeftSemi") && !wide.contains("BroadcastExchange"), wide)
      } finally spark.conf.unset("graft.index.broadcast.maxRows")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("interval predicate is pushed to the scan as range filters") {
    val p = plan("q_vc_interval")
    assert(p.contains("GreaterThanOrEqual(shipdate") && p.contains("LessThan(shipdate"))
  }

  test("traversal hop joins are broadcast (small frontier, no shuffle join)") {
    val p = plan("q_traversal_3hop")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("orderBy+limit compiles to top-k (TakeOrderedAndProject)") {
    val p = plan("q_orderby_limit")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    val p = plan("q_has_eq")
    assert(p.contains("codegen id"))
  }

  test("contamination joins the exploded corpus against a BROADCAST eval-gram set") {
    // the corpus side must not shuffle: eval grams broadcast, corpus explode
    // feeds a BroadcastHashJoin, and the per-doc count is partial first
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"eval grams must broadcast:\n$p")
    assert(p.contains("HashAggregate"))
  }

  test("mixture sampling is a pure filter — no shuffle, no aggregation") {
    val p = plan("q_mixture_sample")
    assert(!p.contains("Exchange"), s"sampling must not shuffle:\n$p")
    assert(!p.contains("HashAggregate"))
  }

  test("chunking is shuffle-free (generate over the scan, no Exchange)") {
    val p = plan("q_chunk")
    assert(p.contains("Generate"), "chunk fan-out must be a Generate (explode)")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
  }

  test("hash split is a pure projection — no shuffle, no aggregation") {
    val p = plan("q_split_hash")
    assert(!p.contains("Exchange"), s"hashSplit must not shuffle:\n$p")
    assert(!p.contains("HashAggregate"))
  }

  test("linear quality scoring broadcasts the vocab and combines map-side") {
    val p = plan("q_quality_linear")
    assert(p.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"weight sum must be map-side combinable:\n$p")
  }

  test("BPE pair counting: vocab collapse aggregate feeds the pair explode; top-k end") {
    val df = SparkEntry.queries("q_bpe_pairs")(spark, dir)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("Generate"), s"pair fan-out must be an explode:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k, not global sort:\n$p")
    // the explode's child subtree must contain the word-frequency aggregate —
    // i.e. pairs are generated from the collapsed vocab, not raw tokens
    val optimized = df.queryExecution.optimizedPlan
    val gen = optimized.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }.head
    val aggBelow = gen.child.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
    assert(aggBelow.nonEmpty, s"explode must consume the vocab aggregate:\n$optimized")
  }

  test("token-df compiles to TakeOrdered top-k, not a global sort") {
    val p = plan("q_token_df")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$p")
  }

  test("local-scope terminals are per-row array expressions — no Window, no extra shuffle") {
    val p = plan("q_local_scope")
    assert(!p.contains("Window"), s"Scope.local must not compile to a window:\n$p")
    assert(p.contains("sort_array") || p.contains("slice"), "expected array expressions")
  }

  test("rollup compiles to Expand + partial aggregation (no per-grouping rescans)") {
    val p = plan("q_rollup")
    assert(p.contains("Expand"), s"expected Expand for grouping sets:\n$p")
    assert(p.linesIterator.count(_.contains("Location:")) === 1,
      "rollup must scan the input once")
  }

  test("multi-variable match compiles to one multi-column semi-join, no cartesian") {
    val p = plan("q_match_multi")
    assert(p.contains("LeftSemi"), s"expected a semi-join on the alias tuple:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
  }

  test("chooseOption compiles to a union of filtered branches, no cartesian") {
    val p = plan("q_choose_option")
    assert(p.contains("Union"), s"expected filter-split + union:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
  }

  test("store/cap compiles to a semi/anti join, never a cartesian") {
    val p = plan("q_store_cap")
    assert(p.contains("LeftAnti") || p.contains("left_anti"), s"expected anti join:\n$p")
    assert(!p.contains("Cartesian"), s"no cartesian allowed:\n$p")
  }

  test("bm25 filters query terms before the shuffle; stats broadcast; top-k end") {
    val p = plan("q_bm25")
    // the term filter must sit under the first aggregate exchange: the only
    // rows that shuffle are (id, matched-token) — assert the isin filter is
    // present and the plan ends in TakeOrdered, with corpus stats broadcast
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"corpus stats (1 row) must broadcast:\n$p")
    assert(p.contains("Generate"), "expected a Generate (token explode)")
    assert(!p.contains("CartesianProduct"), s"no data-sized cartesian allowed:\n$p")
  }

  test("semantic dedup pair search never cross-joins data against data") {
    // the survivors frame hides the pair plan behind the GraphX RDD bridge,
    // so pin the PAIR search plan (the scale-critical stage) directly
    val p = graft.pipeline.Similarity.semanticPairs(
      spark.read.parquet(s"$dir/embeddings.parquet"), threshold = 0.4254, nlist = 16)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the only cross join allowed is data × broadcast(centroids) (nlist rows);
    // within-cluster pairing must be an equi-join on cid
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroids must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no data×data cartesian allowed:\n$p")
    assert(p.contains("cid"), "within-cluster pairs must join on cid")
  }

  test("corpus prep never shuffles document text (constant-width exchanges)") {
    val p = plan("q_corpus_prep")
    // formatted explain: each detail block "(N) Exchange\nInput [k]: [...]"
    // lists exactly the columns that cross that exchange
    val blocks = p.split("\n\n").filter(
      _.linesIterator.nextOption().exists(_.matches("""\(\d+\) Exchange.*""")))
    assert(blocks.nonEmpty, s"expected at least one Exchange:\n$p")
    blocks.foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("text#"), s"text column crosses an exchange:\n$b")
    }
  }

  test("removeDupSpans: raw document text never crosses an exchange") {
    // the gram doc-frequency shuffle carries (id, start, md5) — constant
    // width; the rebuild shuffles single tokens; only the REBUILT __text may
    // cross the final join (it IS the output). Raw text# must not.
    val p = plan("q_remove_dup_spans")
    val blocks = p.split("\n\n").filter(
      _.linesIterator.nextOption().exists(_.matches("""\(\d+\) Exchange.*""")))
    assert(blocks.nonEmpty, s"expected at least one Exchange:\n$p")
    blocks.foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert("""\btext#""".r.findFirstIn(input).isEmpty,
        s"raw text column crosses an exchange:\n$b")
    }
  }

  test("removeDupLines: raw document text never crosses an exchange") {
    // line hashes travel as (id, pos, md5) — constant width; the rebuild
    // shuffles individual units; raw text# must stay out of every Exchange
    val p = plan("q_remove_dup_lines")
    val blocks = p.split("\n\n").filter(
      _.linesIterator.nextOption().exists(_.matches("""\(\d+\) Exchange.*""")))
    assert(blocks.nonEmpty, s"expected at least one Exchange:\n$p")
    blocks.foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert("""\btext#""".r.findFirstIn(input).isEmpty,
        s"raw text column crosses an exchange:\n$b")
    }
  }

  test("adamicAdar: equi-joins only; hub exclusion broadcasts") {
    val p = plan("q_adamic_adar")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation fell back to a cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"hub anti-join must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "pair aggregate must combine map-side")
  }

  test("zscores/winsorize: group stats broadcast back — one data-sized scan") {
    for (q <- Seq("q_value_zscores", "q_winsorize")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q stats join must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("event transitions: ONE user-keyed exchange feeds the window") {
    val p = plan("q_event_transitions")
    // the lead() window partitions by user_id: exactly one hashpartitioning
    // exchange on user_id; transition counts combine map-side afterwards
    val userEx = p.linesIterator.filter(l =>
      l.contains("hashpartitioning(user_id")).size
    assert(userEx >= 1, s"expected a user-keyed exchange:\n$p")
    assert(p.contains("partial_count"), "transition counts must combine map-side")
  }

  test("Profiler: fitted/sorted introspection (QueryProfiler parity)") {
    val g = graft.data.TpchGraph.load(spark, dir)
    val prof = g.V().hasLabel("order").has("orderstatus", "F")
      .orderBy("totalprice", asc = false).limit(5).profile()
    assert(prof.numScans === 1)
    assert(prof.scannedFiles.exists(_.contains("orders.parquet")))
    assert(prof.isFitted, s"expected pushed filters, got: $prof")
    assert(prof.isSorted && prof.hasTakeOrderedAndProject)
    assert(prof.wholeStageCodegenIds >= 1)
    val tp = g.traversal.V().hasLabel("customer").out("placed").profile()
    assert(tp.usesBroadcastJoin || tp.usesSortMergeJoin)
  }

  test("textContains auto-selects a backed mixed index (semi-join); unbacked stays a scan") {
    import org.apache.spark.sql.functions.col
    // the widget parts are under Indexes.LiteralIds: literal ids
    val p = plan("q_index_auto_text")
    assert(idLiterals(p), p)
    // without a registered token table, the same query must NOT semi-join
    val g = graft.data.TpchGraph.load(spark, dir)
    val bare = g.V().has("name", graft.expr.P.textContains("widget")).dataframe
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!bare.contains("LeftSemi") && !idLiterals(bare), bare)
  }

  test("indexed textContains matches the full scan, incl. duplicate condition tokens") {
    import org.apache.spark.sql.functions.col
    val g0 = graft.data.TpchGraph.load(spark, dir)
    val ix = graft.core.IndexDef("nameTextDup", graft.core.ElementCategory.VERTEX,
      Seq("name"), composite = false,
      mappings = Map("name" -> graft.core.Mapping.TEXT))
    val g = g0.copy(schema = g0.schema.copy(indexes = g0.schema.indexes + (ix.name -> ix)))
      .withIndexTable(ix.name, graft.index.Indexes.materializeMixed(g0, ix))
    // "green green" must behave exactly like "green" — the index is an
    // access path, never a result change
    val dup = g.V().has("name", graft.expr.P.textContains("widget widget"))
      .dataframe.select("id").collect().map(_.getLong(0)).toSet
    val scan = g0.V().has("name", graft.expr.P.textContains("widget"))
      .dataframe.select("id").collect().map(_.getLong(0)).toSet
    assert(dup === scan)
    assert(scan.nonEmpty)
  }

  test("domainQuota compiles to a rank-limit window (map-side group cut)") {
    val p = plan("q_domain_quota")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.indexOf("WindowGroupLimit") != p.lastIndexOf("WindowGroupLimit"),
      "expected both map-side (partial) and reduce-side WindowGroupLimit")
  }

  test("epoch shuffle stays a single projection + ordered limit, no extra exchange") {
    val p = plan("q_shuffled")
    // orderBy + limit must fuse to TakeOrderedAndProject, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("sort-key layout slice: shipdate bounds reach the laid-out parquet scan") {
    // the vertex-centric edge layout (bucketed by src, sorted by
    // (src,label,shipdate)) only pays off if the slice predicate is PUSHED —
    // parquet min/max stats then prune row groups the way the reference's
    // byte-ordered column ranges bound the KCVS slice
    import org.apache.spark.sql.functions._
    val g = graft.data.TpchGraph.load(spark, dir)
    val out = java.nio.file.Files.createTempDirectory("graft-slice-ps").toString + "/edges"
    graft.index.Indexes.writeEdgeLayout(g, out, buckets = 2, sortKeys = Seq("shipdate"))
    val laid = spark.read.parquet(out)
    val sliced = laid.filter(col("label") === "contains" &&
      col("shipdate") >= lit(java.sql.Date.valueOf("1997-03-01")) &&
      col("shipdate") < lit(java.sql.Date.valueOf("1997-06-01")))
    val p = sliced.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("shipdate"), pushed)
  }

  test("BPE encode is a pure projection — chained replaces, no shuffle, no UDF") {
    val p = plan("q_bpe_encode")
    assert(!p.contains("Exchange"), s"bpeEncode must not shuffle:\n$p")
    assert(!p.contains("HashAggregate"))
    assert(!p.contains("BatchEvalPython") && !p.contains("SerializeFromObject"),
      "bpeEncode must stay in native expressions")
  }

  test("column profiling is ONE pass: a single Expand aggregate, no re-scans") {
    val p = plan("q_profile")
    assert(p.contains("Expand"), "multi-distinct profile should plan one Expand")
    // one scan of the parquet input — the per-column stats must not rescan
    // (formatted explain lists each node once in the tree and once in the
    // details section; count the numbered detail headers)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size === 1,
      s"profile must scan once:\n$p")
  }

  test("DF triangle count joins stay equi-joins — no cartesian fallback") {
    val p = plan("q_triangles_df")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"wedge/closure joins must be equi-joins:\n$p")
  }

  test("weighted sample compiles to a rank-limit window (map-side group cut)") {
    val p = plan("q_weighted_sample")
    // the rn <= k filter must reach WindowGroupLimit on both sides of the
    // exchange — ≤k rows per source cross it, like domainQuota
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.indexOf("WindowGroupLimit") != p.lastIndexOf("WindowGroupLimit"),
      "expected both map-side (partial) and reduce-side WindowGroupLimit")
  }

  test("DSIR model aggregates partially before its exchange; lambda broadcasts back") {
    val p = plan("q_dsir_weights")
    // bucket counts combine map-side: the shuffle carries ≤buckets rows of
    // partial counts, never the exploded occurrence stream
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"the per-bucket lambda table must broadcast onto the occurrence stream:\n$p")
  }

  test("epoch budget is one partial-aggregated pass, no joins beyond the literal total") {
    val p = plan("q_epoch_budget")
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the repeat-factor sheet must not shuffle a join:\n$p")
  }

  test("community stats: combinable counts; the only non-equi join is the 1-row total") {
    val p = plan("q_community_stats")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
    // exactly ONE BroadcastNestedLoopJoin: the deliberate 1-row m-total
    // cross; any second one would be an accidental non-equi data join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size === 2, // tree + details section
      s"expected only the 1-row total cross:\n$p")
  }

  test("tf-idf: terms filter before the shuffle; corpus stats broadcast back") {
    val p = plan("q_tfidf")
    // the token explode is cut to the ≤8 query terms BEFORE the (doc, term)
    // aggregate — only matching tokens cross the exchange
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"df/N stats must broadcast onto the matched stream:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing corpus-sized may shuffle-join:\n$p")
  }

  test("stupid backoff: count tables broadcast onto the position stream") {
    val p = plan("q_stupid_backoff")
    // the three scored n-gram tables are vocabulary-sized — they must hash-
    // broadcast onto the occurrence-sized position stream, and every count
    // aggregate combines map-side
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("link-prediction sheet: one pair aggregate, degree lookups after it") {
    val p = plan("q_link_scores")
    assert(p.contains("partial_count") && p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("count-min sketch: counter aggregate combines map-side; no joins") {
    // the stream probe drains a memory sink (its plan is a table scan), so
    // pin the shape on the batch operator directly — both regimes
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Seq(true, false).foreach { collapse =>
      val p = graft.pipeline.TextAnalysis.countMinSketch(docs,
          width = 16, depth = 2, collapseVocab = collapse)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("partial_sum") || p.contains("partial_count"), p)
      assert(!p.contains("Join"), s"the sketch is pure aggregate, no joins:\n$p")
    }
  }

  test("snapshot diff is two id-keyed full-outer joins, nothing non-equi") {
    val p = plan("q_graph_diff")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("whitening: the mu/sigma table broadcasts back onto the cells") {
    val p = plan("q_embed_whiten")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("whereLabelsBy resolves bindings via equi-joins — no per-traverser " +
      "lookup, nothing non-equi") {
    val p = plan("q_ps_where_by")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the value maps join on carried ids (hash joins, broadcast or shuffled)
    assert(p.contains("HashJoin"), p)
  }

  test("localGroupCount is ONE aggregate keyed by (source, key) — partial " +
      "before the exchange, no window, no join-back") {
    val local = {
      val s = spark
      val verts = s.range(1, 61).select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.lit("v").as("label"),
        (org.apache.spark.sql.functions.col("id") % 7).as("m"))
      val edges = s.range(1, 60).select(
        (org.apache.spark.sql.functions.col("id") + 5000L).as("id"),
        org.apache.spark.sql.functions.col("id").as("src"),
        (org.apache.spark.sql.functions.col("id") + 1L).as("dst"),
        org.apache.spark.sql.functions.lit("e").as("label"))
      graft.data.PropertyGraph(graft.core.GraphSchema(), verts, edges)
        .traversal.V().localGroupCount(_.out("e"), "m")
    }
    val p = local.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("partial_count") || p.contains("partial_"), p)
    assert(!p.contains("Window"), p)
  }

  test("dedupLabels compiles to an aggregate over the binding columns, " +
      "not a sort or window") {
    val p = plan("q_ps_dedup_labels")
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }
}
