package graft

import graft.traverse.Traversal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

/** The per-source sub-traversal steps (by()/local()/project() modulators,
  * where every traverser runs its own sub-traversal) against a plain-Scala
  * per-traverser walk, on a frontier that holds one element twice.
  *
  * The graph: 1 → {2, 3}, 2 → {4, 5}, 3 → 4, 4 → {6, 7}, 5 → {6, 7, 8}. The
  * frontier `V(1).out().out()` is {4, 4, 5}: vertex 4 is reached through 2
  * and through 3. Each case also runs from `V()`, whose ids are distinct. */
class SubTraversalProvenanceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session

  // vertex id -> (k, m)
  private val props: Map[Long, (Long, Long)] = Map(
    1L -> (0L, 0L), 2L -> (0L, 1L), 3L -> (1L, 0L), 4L -> (1L, 1L),
    5L -> (2L, 0L), 6L -> (2L, 0L), 7L -> (0L, 1L), 8L -> (1L, 1L))
  // edge id -> (src, dst)
  private val edges: Seq[(Long, Long, Long)] = Seq(
    (10L, 1L, 2L), (11L, 1L, 3L), (12L, 2L, 4L), (13L, 3L, 4L), (14L, 2L, 5L),
    (15L, 4L, 6L), (16L, 4L, 7L), (17L, 5L, 6L), (18L, 5L, 7L), (19L, 5L, 8L))

  private lazy val graph = {
    val s = spark
    import s.implicits._
    val v = props.toSeq.map { case (id, (k, m)) => (id, "v", k, m) }.toDF("id", "label", "k", "m")
    val e = edges.map { case (id, a, b) => (id, a, b, "e") }.toDF("id", "src", "dst", "label")
    graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
  }

  // ---- the reference walk: one sub-run per traverser ----
  private def outE(v: Long): Seq[(Long, Long)] =
    edges.collect { case (id, s, d) if s == v => (id, d) }.sortBy(_._1)
  private def out(v: Long): Seq[Long] = outE(v).map(_._2)
  private def k(v: Long): Long = props(v)._1
  private def m(v: Long): Long = props(v)._2

  /** (traversal, its frontier as a multiset of ids) */
  private def frontiers: Seq[(String, () => Traversal, Seq[Long])] = Seq(
    ("V()", () => graph.traversal.V(), props.keys.toSeq.sorted),
    ("V(1).out().out()", () => graph.traversal.V(1L).out().out(), Seq(4L, 4L, 5L)))

  private def longs(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[Long]] =
    rows.map(r => r.toSeq.map(_.asInstanceOf[Number].longValue)).toSeq

  private def check[A: Ordering](got: Traversal => Seq[A], want: Seq[Long] => Seq[A]): Unit =
    frontiers.foreach { case (name, t, f) =>
      assert(got(t()).sorted === want(f).sorted, name)
    }

  private implicit val seqOrd: Ordering[Seq[Long]] = Ordering.Implicits.seqOrdering[Seq, Long]

  test("projectSubs: each traverser gets ONE sub-run's aggregate per field") {
    check(
      t => longs(t.projectSubs(("id", col("id")),
        ("n", _.out(), count(lit(1)), lit(0L)),
        ("s", _.out(), sum(col("id")), lit(0L))).collect()),
      f => f.map(v => Seq(v, out(v).size.toLong, out(v).sum)))
  }

  test("orderBySub: each traverser sorts by ONE sub-run's aggregate") {
    frontiers.foreach { case (name, t, f) =>
      val got = t().orderBySub(_.out(), count(lit(1)), asc = false).toDF
        .select("id").collect().map(_.getLong(0)).toSeq
      val want = f.sortBy(v => (-out(v).size, v))
      assert(got === want, name)
    }
  }

  test("groupBySub: the group folds one sub-run value per traverser") {
    check(
      t => longs(t.groupBySub("k", _.out(), count(lit(1))).collect()),
      f => f.groupBy(k).toSeq.map { case (key, vs) => Seq(key, vs.map(out(_).size.toLong).sum) })
  }

  test("groupByKeySub: each traverser keys by ONE sub-run's aggregate") {
    check(
      t => longs(t.groupByKeySub(_.out()).collect()),
      f => f.groupBy(out(_).size.toLong).toSeq.map { case (key, vs) => Seq(key, vs.size.toLong) })
  }

  test("groupNested: the inner fold runs over every traverser's sub-run stream") {
    check(
      t => longs(t.groupNested("k", _.out(), "m").collect()),
      f => f.flatMap(v => out(v).map(d => (k(v), m(d)))).groupBy(identity).toSeq
        .map { case ((a, b), xs) => Seq(a, b, xs.size.toLong) })
  }

  test("localGroupCount: one row per source element and key, from one sub-run") {
    check(
      t => longs(t.localGroupCount(_.out(), "m").collect()),
      f => f.distinct.flatMap(v => out(v).groupBy(m).toSeq.map { case (key, ds) =>
        Seq(v, key, ds.size.toLong) }))
  }

  test("localLimit: every traverser gets its source's first n results") {
    for (n <- 0 to 3)
      check(
        t => t.localLimit(n)(_.outE()).toDF.select("id").collect().map(_.getLong(0)).toSeq,
        f => f.flatMap(v => outE(v).take(n).map(_._1)))
  }

  test("localRange: every traverser gets its source's slice [lo, hi)") {
    for ((lo, hi) <- Seq((0, 1), (1, 2), (1, 3), (2, 2), (0, 5)))
      check(
        t => t.localRange(lo, hi)(_.outE()).toDF.select("id").collect().map(_.getLong(0)).toSeq,
        f => f.flatMap(v => outE(v).slice(lo, hi).map(_._1)))
  }

  test("a sub-step nested in one of its kind keeps the enclosing step's provenance") {
    check(
      t => t.localLimit(2)(_.out().localLimit(1)(_.out())).toDF.select("id").collect()
        .map(_.getLong(0)).toSeq,
      f => f.flatMap(v => out(v).flatMap(w => out(w).take(1)).sorted.take(2)))
    def orSelf(v: Long, vs: Seq[Long]) = if (vs.isEmpty) Seq(v) else vs
    check(
      t => t.optional(_.out().optional(_.out())).toDF.select("id").collect().map(_.getLong(0)).toSeq,
      f => f.flatMap(v => orSelf(v, out(v).flatMap(w => orSelf(w, out(w))))))
  }

  test("localRange keeps each traverser's own as-labels and path") {
    // 4 is reached from 2 and from 3: each duplicate keeps its own 'a'
    val labelled = graph.traversal.V(1L).out().as("a").out().localLimit(1)(_.outE())
      .toDF.select("id", "_as_a_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(labelled.sorted === Seq((15L, 2L), (15L, 3L), (17L, 2L)))
    val withPath = new graft.traverse.TraversalSource(graph, pathEnabled = true)
    val paths = withPath.V(1L).out().out().localLimit(1)(_.out()).path()
      .collect().map(_.getSeq[Long](0)).toSeq
    assert(paths.sorted === Seq(Seq(1L, 2L, 4L, 6L), Seq(1L, 2L, 5L, 6L), Seq(1L, 3L, 4L, 6L)))
  }

  test("the id dedup runs only where the frontier can hold duplicates") {
    def aggregates(t: Traversal): Int =
      t.localLimit(1)(_.outE()).toDF.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.size
    assert(aggregates(graph.traversal.V().has("k", 1L)) === 0)
    assert(aggregates(graph.traversal.V(1L).out().out()) === 1)
  }

  test("localRange returns the stepped traversal: an outE() slice chains inV()") {
    check(
      t => t.localLimit(1)(_.outE()).inV().toDF.select("id").collect().map(_.getLong(0)).toSeq,
      f => f.flatMap(v => out(v).take(1)))
  }
}
