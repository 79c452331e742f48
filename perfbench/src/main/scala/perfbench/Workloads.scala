package perfbench

import java.sql.Date

import scala.util.Random

import graft.SparkEntry
import graft.core.GraphIds
import graft.data.{GraphIO, PropertyGraph, TpchGraph}
import graft.index.Indexes
import graft.olap.Analytics
import graft.query.{Direction, VertexCentricQuery}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One operation of a workload. `module` names the engine module the op
  * calls; `read` is false for the write (commit) op. `run` returns None when
  * the op's output is correct, else what was wrong. */
final case class Op(name: String, module: String, read: Boolean)(val run: () => Option[String])

/** State shared by a run's ops: the session, the tracer, the current graph
  * and the model the checks compare against. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val dataDir: String,
    val workDir: String, val expected: Map[String, Expected], val rng: Random,
    var graph: PropertyGraph) {
  val probes: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries
  /** Result rows the ops materialized since last reset. */
  var outputRows = 0L

  /** Plan, then fully materialize, `df` into its fingerprint (plus `extra`
    * aggregates), timing each phase as a span of `module`. */
  def materialize(module: String, df: DataFrame, extra: Seq[Column] = Nil): Row = {
    val fp = Fingerprint.frame(df, extra)
    tracer.span(module, "plan")(fp.queryExecution.executedPlan)
    val row = tracer.span(module, "exec")(fp.collect()(0))
    outputRows += row.getLong(0)
    row
  }

  def collect(module: String, df: DataFrame): Array[Row] = {
    tracer.span(module, "plan")(df.queryExecution.executedPlan)
    val rows = tracer.span(module, "exec")(df.collect())
    outputRows += rows.length
    rows
  }
}

/** Ground truth for the graph workloads, derived from the raw parquet tables
  * with plain Spark SQL (no engine code) and updated with every generated
  * commit. */
final class GraphModel(spark: SparkSession, dataDir: String) {
  private def table(n: String) = spark.read.parquet(s"$dataDir/$n.parquet")

  private val customerRows = table("customer")
    .select(col("c_custkey").cast(LongType), col("c_name"), col("c_mktsegment")).collect()
  val customerName: Map[Long, String] = customerRows.map(r => r.getLong(0) -> r.getString(1)).toMap
  val customers: IndexedSeq[Long] = customerName.keys.toIndexedSeq.sorted
  val customerSegment: Map[Long, String] = customerRows.map(r => r.getLong(0) -> r.getString(2)).toMap

  private val orderRows = table("orders").select(col("o_custkey").cast(LongType),
    col("o_orderkey").cast(LongType), col("o_orderdate").cast(DateType)).collect()
  /** Every order date per customer, newest first. */
  var orderDates: Map[Long, Vector[String]] = orderRows.groupBy(_.getLong(0))
    .map { case (k, rs) => k -> rs.map(_.getDate(2).toString).toVector.sorted.reverse }
  lazy val maxOrderKey: Long = orderRows.map(_.getLong(1)).max
  lazy val maxOrderDate: Date = orderRows.map(_.getDate(2)).maxBy(_.getTime)

  lazy val parts: Map[Long, String] = table("part")
    .select(col("p_partkey").cast(LongType), col("p_name")).collect()
    .map(r => r.getLong(0) -> r.getString(1)).toMap
  lazy val partKeys: IndexedSeq[Long] = parts.keys.toIndexedSeq.sorted
  lazy val supplierKeys: IndexedSeq[Long] = table("supplier")
    .select(col("s_suppkey").cast(LongType)).collect().map(_.getLong(0)).toIndexedSeq.sorted

  lazy val vertexCount: Long = customerRows.length + orderRows.length + parts.size +
    supplierKeys.size + table("region").count() + table("nation").count()
  /** Vertices added by commits so far. */
  var addedVertices = 0L

  /** The q_traversal_3hop result: parts of orders over 400000 placed by
    * BUILDING customers (as in the probe's oracle SQL). */
  lazy val baseThreeHop: Set[(Long, String)] = {
    Seq("customer", "orders", "lineitem", "part")
      .foreach(t => table(t).createOrReplaceTempView(s"perfbench_$t"))
    spark.sql("""SELECT DISTINCT CAST(l_partkey AS BIGINT), p_name FROM perfbench_customer
      |JOIN perfbench_orders ON o_custkey = c_custkey
      |JOIN perfbench_lineitem ON l_orderkey = o_orderkey
      |JOIN perfbench_part ON p_partkey = l_partkey
      |WHERE c_mktsegment = 'BUILDING' AND o_totalprice > 400000.0""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
  }
  /** Parts the commits added to the 3-hop result. */
  var addedThreeHop: Set[(Long, String)] = Set.empty

  def degree(c: Long): Long = 1L + orderDates.getOrElse(c, Vector.empty).size
}

/** A probe's recorded result: its row count and, unless the probe is
  * checked by rows only, its fingerprint hash. */
final case class Expected(rows: Long, hash: Option[BigDecimal]) {
  def mismatch(got: Fingerprint.Value): Option[String] =
    if (got.rows != rows) Some(s"rows ${got.rows}, want $rows")
    else if (hash.exists(_ != got.hash)) Some(s"fingerprint ${got.render}, want $rows:${hash.get}")
    else None
}

/** One generated order with its two line items. */
final case class NewOrder(orderKey: Long, custKey: Long, date: Date, totalPrice: Double,
    lines: Seq[(Int, Long, Long, Double)]) // (linenumber, partkey, suppkey, quantity)

object Workloads {
  val ThreeHopMin = 400000.0
  val PointReadsPerPass = 2
  val OrdersPerCommit = 4
  val TouchedReadsPerPass = 8
  val DegreeFrontier = 20
  val PageRankRounds = 3

  val GraphProbes: Seq[(String, String)] = Seq(
    "q1_agg" -> "query", "q_has_eq" -> "query", "q_orderby_limit" -> "query",
    "q_multiquery" -> "query", "q_vc_topk" -> "query", "q_traversal_3hop" -> "traverse",
    "q_degree" -> "query", "q_text_contains" -> "query", "q_tpch_q3" -> "query",
    "q_sessionize" -> "stream")

  /** A read in mutate_read that does not see the commits but holds a
    * PlanCache entry that the commits' fresh plans compete with: a pipeline
    * operator that builds a cached table on first call. */
  val MutateProbes: Seq[(String, String)] = Seq("q_dsir_weights" -> "pipeline")

  val Names: Seq[String] = Seq("graph_query", "mutate_read")

  /** Every probe whose fingerprint the benchmark checks. */
  val AllProbes: Seq[(String, String)] = GraphProbes ++ MutateProbes

  /** A SparkEntry probe, fully materialized and compared with its recorded
    * fingerprint. */
  def probe(ctx: Ctx, name: String, module: String): Op = Op(name, module, read = true) { () =>
    val df = ctx.tracer.span(module, "call")(ctx.probes(name)(ctx.spark, ctx.dataDir))
    val got = Fingerprint.read(ctx.materialize(module, df))
    ctx.expected.get(name) match {
      case None => Some(s"no recorded fingerprint for $name")
      case Some(want) => want.mismatch(got)
    }
  }

  /** Titan's indexed point read: look a customer up through the composite
    * `byUid` index, then read its two newest `placed` edges. */
  def pointRead(ctx: Ctx, model: GraphModel, uid: () => Long): Op =
    Op("point_reads", "index", read = true) { () =>
      val u = uid()
      val g = ctx.graph
      // uids repeat across labels; the label narrows the hit to the customer
      val hit = ctx.tracer.span("index", "call")(
        Indexes.lookup(g, g.indexTables("byUid"), Map("uid" -> u)).filter(col("label") === "customer"))
      val vs = ctx.collect("index", hit.select(col("id"), col("label"), col("name")))
      val newest = ctx.tracer.span("query", "call")(
        VertexCentricQuery(g).onFrontier(hit.select(col("id").as("vid")), Seq("customer"))
          .labels("placed").direction(Direction.OUT).orderBy("orderdate", asc = false)
          .limit(2).edges().select(col("other"), col("orderdate").cast(StringType)))
      val es = ctx.collect("query", newest)
      val wantDates = model.orderDates.getOrElse(u, Vector.empty).take(2).sorted
      val gotDates = es.map(_.getString(1)).toVector.sorted
      if (vs.length != 1 || vs(0).getString(1) != "customer" ||
          vs(0).getString(2) != model.customerName(u))
        Some(s"point read $u: vertex ${vs.mkString(",")}")
      else if (gotDates != wantDates)
        Some(s"point read $u: newest orders $gotDates, want $wantDates")
      else None
    }

  def build(name: String, ctx: Ctx): Workload = name match {
    case "graph_query" =>
      val model = new GraphModel(ctx.spark, ctx.dataDir)
      val reads = GraphProbes.map { case (n, m) => probe(ctx, n, m) } ++
        Seq.fill(PointReadsPerPass)(pointRead(ctx, model,
          () => model.customers(ctx.rng.nextInt(model.customers.size))))
      new Workload { def pass(): Seq[Op] = ctx.rng.shuffle(reads) }
    case "mutate_read" => new MutateRead(ctx, new GraphModel(ctx.spark, ctx.dataDir))
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }
}

trait Workload {
  /** The ops of the next pass, in the order they run. */
  def pass(): Seq[Op]
}

/** Writes beside reads: each pass commits a seeded batch of new orders onto
  * the current graph, persists and reloads it, then reads the mutated graph
  * and checks every read against the model. */
final class MutateRead(ctx: Ctx, model: GraphModel) extends Workload {
  import Workloads._

  // build the rest of the ground truth now, before any op is timed
  model.baseThreeHop; model.vertexCount; model.maxOrderKey; model.maxOrderDate

  private var step = 0
  private var touched: IndexedSeq[Long] = IndexedSeq.empty
  private val byUid = TpchGraph.schema.indexes("byUid")

  private def slot(i: Int) = s"${ctx.workDir}/commits/slot-${i % 2}"

  private def generate(): Seq[NewOrder] = {
    val rng = ctx.rng
    val base = model.maxOrderKey + 1L + step.toLong * OrdersPerCommit
    val date = Date.valueOf(model.maxOrderDate.toLocalDate.plusDays(1L + step))
    (0 until OrdersPerCommit).map { i =>
      val cust = model.customers(rng.nextInt(model.customers.size))
      val lines = (1 to 2).map(ln => (ln, model.partKeys(rng.nextInt(model.partKeys.size)),
        model.supplierKeys(rng.nextInt(model.supplierKeys.size)), 1.0 + rng.nextInt(50)))
      NewOrder(base + i, cust, date, 100000.0 + rng.nextInt(500000), lines)
    }
  }

  private def frames(orders: Seq[NewOrder]): (DataFrame, DataFrame) = {
    val s = ctx.spark
    val vSchema = StructType(Seq(StructField("id", LongType), StructField("label", StringType),
      StructField("uid", LongType), StructField("orderdate", DateType),
      StructField("totalprice", DoubleType), StructField("orderstatus", StringType),
      StructField("orderpriority", StringType)))
    val vRows = orders.map(o => Row(GraphIds.vertexId(TpchGraph.OrderTag, o.orderKey), "order",
      o.orderKey, o.date, o.totalPrice, "O", "1-URGENT"))
    val eSchema = StructType(Seq(StructField("id", LongType), StructField("src", LongType),
      StructField("dst", LongType), StructField("label", StringType),
      StructField("orderdate", DateType), StructField("quantity", DoubleType),
      StructField("extendedprice", DoubleType), StructField("discount", DoubleType),
      StructField("tax", DoubleType), StructField("returnflag", StringType),
      StructField("linestatus", StringType), StructField("shipdate", DateType),
      StructField("linenumber", IntegerType), StructField("suppkey", LongType)))
    // edge ids follow TpchGraph's scheme: tag 4 (placed) carries the order
    // key, tag 5 (contains) the packed orderkey·256 + linenumber·32 id
    val eRows = orders.flatMap { o =>
      val ov = GraphIds.vertexId(TpchGraph.OrderTag, o.orderKey)
      val placed = Row(GraphIds.vertexId(4, o.orderKey),
        GraphIds.vertexId(TpchGraph.CustomerTag, o.custKey), ov, "placed", o.date,
        null, null, null, null, null, null, null, null, null)
      val ship = Date.valueOf(o.date.toLocalDate.plusDays(10))
      placed +: o.lines.map { case (ln, part, supp, qty) =>
        Row(GraphIds.vertexId(5, o.orderKey * 256L + ln * 32L),
          ov, GraphIds.vertexId(TpchGraph.PartTag, part), "contains", null,
          qty, qty * 1000.0, 0.05, 0.02, "N", "O", ship, ln, supp)
      }
    }
    def df(rows: Seq[Row], schema: StructType) =
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    (df(vRows, vSchema), df(eRows, eSchema))
  }

  private def applyToModel(orders: Seq[NewOrder]): Unit = orders.foreach { o =>
    model.orderDates = model.orderDates.updated(o.custKey,
      (o.date.toString +: model.orderDates.getOrElse(o.custKey, Vector.empty)))
    model.addedVertices += 1
    if (model.customerSegment(o.custKey) == "BUILDING" && o.totalPrice > ThreeHopMin)
      model.addedThreeHop ++= o.lines.map { case (_, p, _, _) => p -> model.parts(p) }
  }

  private val commit = Op("commit", "data", read = false) { () =>
    val orders = generate()
    val (av, ae) = frames(orders)
    val path = slot(step)
    val g2 = ctx.tracer.span("data", "call")(
      GraphIO.applyMutations(ctx.graph, addVertices = Some(av), addEdges = Some(ae)))
    ctx.tracer.span("data", "exec")(GraphIO.save(g2, path, buckets = 4))
    ctx.graph = ctx.tracer.span("data", "load") {
      val g3 = GraphIO.load(ctx.spark, path, TpchGraph.schema)
      g3.withIndexTable(byUid.name, Indexes.materialize(g3, byUid))
    }
    applyToModel(orders)
    touched = orders.map(_.custKey).toIndexedSeq
    step += 1
    None
  }

  private val degreeCheck = Op("degree_check", "query", read = true) { () =>
    val others = Seq.fill(DegreeFrontier - touched.size)(
      model.customers(ctx.rng.nextInt(model.customers.size)))
    val frontier = (touched ++ others).distinct
    val ids = ctx.spark.createDataFrame(java.util.Arrays.asList(frontier.map(c =>
      Row(GraphIds.vertexId(TpchGraph.CustomerTag, c))): _*),
      StructType(Seq(StructField("vid", LongType))))
    val counts = ctx.tracer.span("query", "call")(
      VertexCentricQuery(ctx.graph).onFrontier(ids).edgeCount())
    val got = ctx.collect("query", counts)
      .map(r => GraphIds.localId(r.getLong(0)) -> r.getLong(1)).toMap
    val want = frontier.map(c => c -> model.degree(c)).toMap
    if (got == want) None else Some(s"degrees ${got.toSeq.sorted}, want ${want.toSeq.sorted}")
  }

  private val threeHop = Op("traverse_3hop", "traverse", read = true) { () =>
    val df = ctx.tracer.span("traverse", "call")(
      ctx.graph.traversal.V().hasLabel("customer").has("mktsegment", "BUILDING")
        .out("placed").has("totalprice", graft.expr.P.gt(ThreeHopMin))
        .out("contains").dedup().values("uid", "name"))
    val got = ctx.collect("traverse", df).map(r => r.getLong(0) -> r.getString(1)).toSet
    val want = model.baseThreeHop ++ model.addedThreeHop
    if (got == want) None else Some(s"3-hop: ${got.size} parts, want ${want.size}")
  }

  private val S = 1000000000000L
  private val pageRank = Op("pagerank", "olap", read = true) { () =>
    val ranks = ctx.tracer.span("olap", "call")(Analytics.pageRankFixedPoint(ctx.graph, PageRankRounds))
    // extra aggregates see the columns renamed by position: c1 is rank_fp
    val row = ctx.materialize("olap", ranks,
      Seq(min(col("c1")), sum(col("c1").cast(DecimalType(38, 0)))))
    val n = row.getLong(0)
    val vertices = model.vertexCount + model.addedVertices
    // every vertex keeps at least the teleport share 0.15·S, and dangling
    // vertices only lose mass, so the total never exceeds n·S
    if (n != vertices) Some(s"pagerank rows $n, want $vertices")
    else if (row.getLong(2) < 15L * (S / 100L)) Some(s"pagerank min ${row.getLong(2)}")
    else if (BigDecimal(row.getDecimal(3)) > BigDecimal(S) * n) Some("pagerank mass exceeds n")
    else None
  }

  private val touchedRead = pointRead(ctx, model, () => touched(ctx.rng.nextInt(touched.size)))
  private val cachedReads = MutateProbes.map { case (n, m) => probe(ctx, n, m) }

  def pass(): Seq[Op] =
    commit +: ctx.rng.shuffle(Seq(degreeCheck, threeHop, pageRank) ++
      Seq.fill(TouchedReadsPerPass)(touchedRead) ++ cachedReads)
}
