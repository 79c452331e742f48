package graft

import graft.data.GraphOfTheGods
import graft.traverse.Traversal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Every public repeat variant (Gremlin RepeatStep with times/until/emit)
  * against a plain-Scala walk over the collected edge list of the Graph of
  * the Gods. Frontiers are multisets of vertex ids — traverser multiplicity
  * is part of the contract — so rows compare as sorted id lists (plus
  * `_depth` for repeatEmitDepth). */
class RepeatStepSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  lazy val gods = GraphOfTheGods.load(spark)

  private lazy val edges: Seq[(Long, Long, String)] =
    gods.edges.select("src", "dst", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
  private lazy val labelOf: Map[Long, String] =
    gods.vertices.select("id", "label").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  private lazy val ageOf: Map[Long, Option[Int]] =
    gods.vertices.select("id", "age").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
  private lazy val source: Seq[Long] = labelOf.keys.toSeq

  // ---- the reference walk: one traverser per (frontier row, edge) ----
  private def out(f: Seq[Long], labels: String*): Seq[Long] =
    f.flatMap(v => edges.collect {
      case (s, d, l) if s == v && (labels.isEmpty || labels.contains(l)) => d })
  private def both(f: Seq[Long], labels: String*): Seq[Long] =
    out(f, labels: _*) ++ f.flatMap(v => edges.collect {
      case (s, d, l) if d == v && (labels.isEmpty || labels.contains(l)) => s })
  private def steps(f: Seq[Long], n: Int)(step: Seq[Long] => Seq[Long]): Seq[Seq[Long]] =
    (1 to n).scanLeft(f)((cur, _) => step(cur))

  private def V(): Traversal = gods.traversal.V()
  private def ids(t: Traversal): Seq[Long] =
    t.toDF.select("id").collect().map(_.getLong(0)).toSeq.sorted
  private def hasLogicalRdd(t: Traversal): Boolean =
    t.toDF.queryExecution.analyzed.collectLeaves()
      .exists(_.getClass.getSimpleName == "LogicalRDD")

  test("repeat(n) returns the n-th frontier") {
    for (n <- 0 to 3)
      assert(ids(V().repeat(n)(_.out())) === steps(source, n)(out(_)).last.sorted, s"n=$n")
    // the stepped traversal itself comes back, not the source's frame kind
    assert(!V().repeat(1)(_.outE()).isVertex)
  }

  test("nested repeat unrolls to the product of the round counts") {
    assert(ids(V().repeat(2)(_.repeat(2)(_.both("brother")))) ===
      steps(source, 4)(both(_, "brother")).last.sorted)
    assert(ids(V().repeat(2)(_.repeatEmit(1)(_.out()))) ===
      steps(source, 2)(f => f ++ out(f)).last.sorted)
  }

  test("repeatEmit surfaces the source and every round's frontier") {
    assert(ids(V().repeatEmit(3)(_.out())) === steps(source, 3)(out(_)).flatten.sorted)
  }

  test("repeatEmitDepth tags every emitted row with its round") {
    val got = V().repeatEmitDepth(3)(_.out()).toDF.select("id", "_depth").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    val want = steps(source, 3)(out(_)).zipWithIndex
      .flatMap { case (f, d) => f.map(_ -> d) }.sorted
    assert(got === want)
  }

  test("repeatEmitFilter emits matching rows and steps every traverser") {
    val keep = Set("god", "titan")
    val got = V().repeatEmitFilter(3, col("label").isin(keep.toSeq: _*))(_.out())
    assert(ids(got) === steps(source, 3)(out(_)).flatten.filter(v => keep(labelOf(v))).sorted)
  }

  test("repeatEmitSub emits rows whose sub-traversal is non-empty") {
    val got = V().repeatEmitSub(2, _.out("father"))(_.out())
    assert(ids(got) === steps(source, 2)(out(_)).flatten.filter(v => out(Seq(v), "father").nonEmpty).sorted)
  }

  /** Until-only reference: each round the leavers exit and are kept; after
    * the last round the remaining frontier is kept too. */
  private def untilRef(f0: Seq[Long], maxIter: Int, step: Seq[Long] => Seq[Long])(
      leaves: Long => Boolean): Seq[Long] = {
    var f = f0
    val done = Seq.newBuilder[Long]
    (1 to maxIter).foreach { _ =>
      f = step(f)
      done ++= f.filter(leaves)
      f = f.filterNot(leaves)
    }
    (done.result() ++ f).sorted
  }

  test("repeatUntil keeps the leavers of each round plus the last frontier") {
    // age is NULL on locations and monsters: a NULL condition keeps stepping
    val old = (v: Long) => ageOf(v).exists(_ > 1000)
    for (maxIter <- 1 to 3)
      assert(ids(V().repeatUntil(col("age") > 1000, maxIter)(_.out())) ===
        untilRef(source, maxIter, out(_))(old), s"maxIter=$maxIter")
  }

  test("repeatEmitUntil emits every round's frontier and stops the leavers") {
    val god = (v: Long) => labelOf(v) == "god"
    var f = source
    val want = Seq.newBuilder[Long]
    (1 to 3).foreach { _ =>
      f = both(f)
      want ++= f
      f = f.filterNot(god)
    }
    assert(ids(V().repeatEmitUntil(col("label") === "god", 3)(_.both())) === want.result().sorted)
  }

  test("repeatUntilSub exits on an empty or a non-empty condition traversal") {
    val sink = (v: Long) => out(Seq(v)).isEmpty
    assert(ids(V().repeatUntilSub(_.out(), 3)(_.out())) ===
      untilRef(source, 3, out(_))(sink))
    val hasBrother = (v: Long) => out(Seq(v), "brother").nonEmpty
    assert(ids(V().repeatUntilSub(_.out("brother"), 3, exitWhenEmpty = false)(_.both())) ===
      untilRef(source, 3, both(_))(hasBrother))
  }

  test("plain repeat(n) skips the round barrier; the emitting variants take it") {
    assert(!hasLogicalRdd(V().repeat(2)(_.out())))
    assert(hasLogicalRdd(V().repeatEmit(2)(_.out())))
  }
}
