package graft

import graft.core.{ElementCategory, IndexDef}
import graft.data.{GraphIO, PropertyGraph}
import graft.index.Indexes
import graft.query.{Direction, VertexCentricQuery}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Small id sets travel into plans as literals. The index lookup's gate has
  * three paths (`id IN (…)` literals, broadcast semi-join, plain semi-join)
  * and the vertex-centric frontier has two (`vid IN (…)` literals, semi-join).
  * Every path must be row-identical, with the same schema, to the plan that
  * uses no index. A literal id set is also a snapshot, so overwriting the
  * store between a lookup and its read is pinned here too. */
class PointReadLiteralSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  private val L = Indexes.LiteralIds

  // vertices 1..n: group 0 holds exactly L vertices, group 1 holds L + 1,
  // every later vertex is alone in a group named by its id; -1 matches none.
  // A `knows` chain i -> i + 1 gives each vertex up to two edges.
  private val n = 2L * L + 11
  private lazy val plain: PropertyGraph = {
    val v = spark.range(1, n + 1).select(col("id"), lit("v").as("label"),
      when(col("id") <= L, 0L).when(col("id") <= 2L * L + 1, 1L).otherwise(col("id")).as("grp"))
    val e = spark.range(1, n).select((col("id") + 100000L).as("id"), col("id").as("src"),
      (col("id") + 1L).as("dst"), lit("knows").as("label"), (col("id") % 7L).as("w"))
    PropertyGraph(graft.core.GraphSchema(), v, e)
  }
  private lazy val indexed: PropertyGraph = {
    val ix = IndexDef("byGrp", ElementCategory.VERTEX, Seq("grp"))
    plain.copy(schema = plain.schema.copy(indexes = plain.schema.indexes + (ix.name -> ix)))
      .withIndexTable(ix.name, Indexes.materialize(plain, ix))
  }

  /** "literal", "broadcast" or "plain": the id restriction the plan took. */
  private def path(df: DataFrame): String = {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    // a semi-join below a BOTH-direction union is pushed into each branch
    df.queryExecution.optimizedPlan.collect { case j: Join => j } match {
      case Seq() => "literal"
      case js if js.forall(_.hint.rightHint.exists(_.strategy.contains(BROADCAST))) => "broadcast"
      case _ => "plain"
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The forceIndex lookup of `grp = k` against the scan of the same query
    * on the unindexed graph: same rows, same schema (nullability included).
    * Returns the path the lookup took. */
  private def sameAsScan(k: Long): String = {
    val viaIndex = indexed.V().has("grp", k).forceIndex().vertices()
    val scan = plain.V().has("grp", k).vertices()
    assert(viaIndex.schema === scan.schema)
    assert(rows(viaIndex) === rows(scan))
    path(viaIndex)
  }

  test("a lookup miss takes the literal path with an empty id list") {
    assert(indexed.V().has("grp", -1L).forceIndex().vertices().count() === 0L)
    assert(sameAsScan(-1L) === "literal")
  }

  test("exactly LiteralIds ids are literals; one more broadcasts") {
    assert(plain.vertices.filter(col("grp") === 0L).count() === L.toLong)
    assert(sameAsScan(0L) === "literal")
    assert(plain.vertices.filter(col("grp") === 1L).count() === L + 1L)
    assert(sameAsScan(1L) === "broadcast")
    // one id: Catalyst writes the one-element IN as `id = …`
    assert(sameAsScan(n) === "literal")
  }

  test("graft.index.broadcast.maxRows = 0 plans the plain semi-join for every id set") {
    spark.conf.set("graft.index.broadcast.maxRows", "0")
    try {
      assert(sameAsScan(n) === "plain")
      assert(sameAsScan(0L) === "plain")
      assert(sameAsScan(1L) === "plain")
    } finally spark.conf.unset("graft.index.broadcast.maxRows")
  }

  test("a frontier that is not provably small keeps the semi-join; small ones are literals") {
    def slice(q: VertexCentricQuery): DataFrame =
      q.labels("knows").direction(Direction.BOTH).orderBy("w", asc = false).limit(1).edges()
    val base = VertexCentricQuery(indexed)
    val ids = (1L to 5L) ++ Seq(L.toLong, L + 1L, n)
    // the reference: the same anchors as a frontier whose filter proves no
    // literal bound (a disjunction with a range)
    val scannedFrontier = indexed.vertices
      .filter(col("id") <= 5L || col("id").isin(L.toLong, L + 1L, n)).select(col("id").as("vid"))
    val scanned = slice(base.onFrontier(scannedFrontier))
    assert(path(scanned) === "plain")
    val viaVertices = slice(base.onVertices(ids: _*))
    val viaLookup = slice(base.onFrontier(
      indexed.vertices.filter(col("id").isin(ids: _*)).select(col("id").as("vid"))))
    for (q <- Seq(viaVertices, viaLookup)) {
      assert(path(q) === "literal")
      assert(q.schema === scanned.schema)
      assert(rows(q) === rows(scanned))
    }
    // an over-LiteralIds literal set, or an over-LiteralIds lookup, is not
    // provably small: the frontier stays a join
    assert(path(slice(base.onFrontier(indexed.vertices
      .filter(col("id").isin((1L to L + 1L): _*)).select(col("id").as("vid"))))) === "plain")
    assert(path(slice(base.onFrontier(indexed.V().has("grp", 1L).forceIndex().vertices()
      .select(col("id").as("vid"))))) !== "literal")
    // exactly LiteralIds literals still are
    assert(path(slice(base.onFrontier(indexed.vertices
      .filter(col("id").isin((1L to L.toLong): _*)).select(col("id").as("vid"))))) === "literal")
    // properties(): the vertex side of the same rule
    val props = base.onVertices(ids: _*).properties("grp")
    val propsScanned = base.onFrontier(scannedFrontier).properties("grp")
    assert(props.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty)
    assert(props.schema === propsScanned.schema)
    assert(rows(props) === rows(propsScanned))
  }

  test("overwriting the store between a lookup and its read fails loudly, " +
      "never serving the old ids from the new table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stale").toString
    // uid 7 sits on `owner`; every other vertex has a uid nobody looks up
    def graph(owner: Long): PropertyGraph = PropertyGraph(graft.core.GraphSchema(),
      spark.range(1, 5).select(col("id"), lit("v").as("label"),
        when(col("id") === owner, 7L).otherwise(col("id") * 100L).as("uid")),
      spark.range(1, 4).select((col("id") + 1000L).as("id"), col("id").as("src"),
        (col("id") + 1L).as("dst"), lit("knows").as("label")))
    val ix = IndexDef("byUid", ElementCategory.VERTEX, Seq("uid"))
    try {
      GraphIO.save(graph(owner = 1L), dir)
      val g0 = GraphIO.load(spark, dir)
      val g = g0.withIndexTable(ix.name, Indexes.materialize(g0, ix))
      val hit = Indexes.lookup(g, g.indexTables(ix.name), Map("uid" -> 7L))
      // uid 7 moves to vertex 2; vertex 1 keeps existing with uid 100
      GraphIO.save(graph(owner = 2L), dir)
      val read = scala.util.Try(hit.select(col("id"), col("uid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq)
      // the old id set {1} applied to the new table would read (1, 100)
      assert(!read.toOption.exists(_.contains((1L, 100L))), s"stale ids served: $read")
      // the frame's file listing is a snapshot of the overwritten files, so
      // the read fails instead of returning either store's rows
      val err = read.failed.toOption
      assert(err.isDefined, s"read returned $read")
      val msgs = Iterator.iterate[Throwable](err.get)(_.getCause).takeWhile(_ != null)
        .map(e => s"${e.getClass.getName}: ${e.getMessage}").mkString("\n")
      assert(msgs.contains("FileNotFound") || msgs.contains("does not exist"), msgs)
      // a fresh load sees the move
      val g2 = GraphIO.load(spark, dir)
      val fresh = Indexes.lookup(g2, Indexes.materialize(g2, ix), Map("uid" -> 7L))
      assert(fresh.select(col("id")).collect().map(_.getLong(0)).toSeq === Seq(2L))
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
