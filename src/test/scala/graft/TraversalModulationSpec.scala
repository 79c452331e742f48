package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.expr.P

/** by()-modulation and traversal-valued predicates (TinkerPop semantics the
  * reference inherits: order().by(outE().count()), group().by(k).by(agg),
  * select('a').by('name'), choose(out(...), t, f), until(out().count().is(0))
  * — tt/graphdb/TitanGraphTest.java:3520-3843), plus the narrowed `as`
  * frontier layout. */
class TraversalModulationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  val dir = "/root/testdata/sf0.001"
  lazy val g = graft.data.TpchGraph.load(spark, dir)

  test("as() carries only the id; no prop columns are duplicated per label") {
    val t = g.traversal.V().hasLabel("customer").as("a").out("placed").as("b")
    val extras = t.toDF.columns.filter(_.startsWith("_as_")).toSeq
    assert(extras.sorted === Seq("_as_a_id", "_as_b_id"),
      s"expected id-only carry, got $extras")
  }

  test("select() re-resolves full element rows from the carried ids") {
    val out = g.traversal.V().hasLabel("customer").has("mktsegment", "BUILDING").as("a")
      .out("placed").as("b").select("a", "b")
    assert(out.columns.contains("a_name") && out.columns.contains("b_totalprice"))
    // spot-check: every b_totalprice matches the order row joined manually
    val manual = g.vertices.filter(col("label") === "customer")
      .filter(col("mktsegment") === "BUILDING").select(col("id").as("cid"))
      .join(g.edges.filter(col("label") === "placed"), col("cid") === col("src"))
      .count()
    assert(out.count() === manual)
  }

  test("selectBy projects exactly the modulated property per label") {
    val out = g.traversal.V().hasLabel("customer").as("a")
      .out("placed").as("b").selectBy("a" -> "name", "b" -> "totalprice")
    assert(out.columns.toSeq === Seq("a_name", "b_totalprice"))
    assert(out.count() > 0)
  }

  test("orderBySub orders by the sub-traversal aggregate with default for empty") {
    // ascending: zero-order customers (sub-traversal empty → default 0) first
    val first = g.traversal.V().hasLabel("customer")
      .orderBySub(_.out("placed"), count(lit(1)), asc = true)
      .limit(1).toDF.select("id").collect()(0).getLong(0)
    val deg = g.traversal.V().hasLabel("customer").toDF.select(col("id").as("cid"))
      .join(g.edges.filter(col("label") === "placed"), col("cid") === col("src"), "left")
      .groupBy(col("cid")).agg(count(col("src")).as("cnt"))
    val minDeg = deg.orderBy(col("cnt").asc, col("cid").asc).limit(1)
      .collect()(0).getLong(0)
    assert(first === minDeg)
  }

  test("groupBySub equals the manual two-level aggregate") {
    val got = g.traversal.V().hasLabel("customer")
      .groupBySub("mktsegment", _.out("placed"), count(lit(1)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = g.vertices.filter(col("label") === "customer")
      .select(col("id").as("cid"), col("mktsegment"))
      .join(g.edges.filter(col("label") === "placed"), col("cid") === col("src"), "left")
      .groupBy(col("mktsegment")).agg(count(col("src")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("whereSub/whereNotSub partition the frontier") {
    val base = g.traversal.V().hasLabel("customer")
    val total = base.toDF.count()
    val yes = base.whereSub(_.out("placed").has("totalprice", P.gt(300000.0))).toDF.count()
    val no = base.whereNotSub(_.out("placed").has("totalprice", P.gt(300000.0))).toDF.count()
    assert(yes + no === total && yes > 0 && no > 0)
  }

  test("chooseSub routes each source through exactly one branch") {
    val pred: graft.traverse.Traversal => graft.traverse.Traversal =
      _.out("placed").has("totalprice", P.gt(400000.0))
    val out = g.traversal.V().hasLabel("customer").has("mktsegment", "BUILDING")
      .chooseSub(pred)(t => t.out("placed"), f => f)
    val labels = out.toDF.select("label").distinct().collect().map(_.getString(0)).toSet
    assert(labels === Set("order", "customer"))
    // false branch = customers with no qualifying order
    val falseCnt = out.toDF.filter(col("label") === "customer").count()
    val wantFalse = g.traversal.V().hasLabel("customer").has("mktsegment", "BUILDING")
      .whereNotSub(pred).toDF.count()
    assert(falseCnt === wantFalse)
  }

  test("select/selectBy resolve EDGE labels against the edge table") {
    val t = g.traversal.E().hasLabel("placed").as("e").inV().as("v")
    val out = t.select("e", "v")
    assert(out.columns.contains("e_src") && out.columns.contains("v_name"))
    assert(out.count() === g.edges.filter(col("label") === "placed").count())
    val by = t.selectBy("e" -> "orderdate", "v" -> "uid")
    assert(by.columns.toSeq === Seq("e_orderdate", "v_uid"))
    assert(by.count() === out.count())
  }

  test("projectSubs: independent per-field aggregate joins with defaults") {
    val out = g.traversal.V().hasLabel("customer")
      .projectSubs(("id", col("id")),
        ("n_orders", _.out("placed"), count(lit(1)), lit(0L)),
        ("n_nation", _.out("in_nation"), count(lit(1)), lit(0L)))
    assert(out.columns.toSeq === Seq("id", "n_orders", "n_nation"))
    val rows = out.collect()
    assert(rows.length === g.vertices.filter(col("label") === "customer").count())
    assert(rows.forall(_.getLong(2) === 1L)) // every customer has one nation
    val want = g.vertices.filter(col("label") === "customer").select(col("id").as("cid"))
      .join(g.edges.filter(col("label") === "placed"), col("cid") === col("src"), "left")
      .groupBy(col("cid")).agg(count(col("src")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.forall(r => r.getLong(1) === want(r.getLong(0))))
  }

  test("repeatUntilSub exits traversers whose condition traversal is empty") {
    val out = g.traversal.V().hasLabel("customer")
      .repeatUntilSub(_.out(), maxIter = 3)(_.out("in_nation", "in_region"))
    // every customer's traverser ends at its region (regions have no out())
    val cnt = g.traversal.V().hasLabel("customer").toDF.count()
    assert(out.toDF.count() === cnt)
    assert(out.toDF.select("label").distinct().collect().map(_.getString(0)).toSeq === Seq("region"))
  }

  test("orderBySub order survives a following range()/skip()") {
    // range() re-sorts by lastOrder; it must be the degree order, not id
    val top = g.traversal.V().hasLabel("customer")
      .orderBySub(_.out("placed"), count(lit(1)), asc = false)
      .range(0, 3).toDF.select("id").collect().map(_.getLong(0)).toSeq
    val want = g.traversal.V().hasLabel("customer").toDF.select(col("id").as("cid"))
      .join(g.edges.filter(col("label") === "placed"), col("cid") === col("src"), "left")
      .groupBy(col("cid")).agg(count(col("src")).as("n"))
      .orderBy(col("n").desc, col("cid").asc)
      .limit(3).collect().map(_.getLong(0)).toSeq
    assert(top === want)
  }

  test("orderBySub can be re-applied (second by() replaces the first order)") {
    val t = g.traversal.V().hasLabel("customer")
      .orderBySub(_.out("placed"), count(lit(1)), asc = true)
      .orderBySub(_.out("placed"), count(lit(1)), asc = false)
      .range(0, 2)
    val ids = t.toDF.select("id").collect().map(_.getLong(0)).toSeq
    assert(ids.length === 2)
    assert(!t.toDF.columns.contains("_by_ord")) // carry retired by the slice
  }

  test("elementMap returns id + label + requested keys") {
    val out = g.traversal.V().hasLabel("region").elementMap("name")
    assert(out.columns.toSeq === Seq("id", "label", "name"))
    assert(out.count() === 5)
  }

  test("skip(n) drops the first n of the declared order and keeps the rest") {
    val all = g.traversal.V().hasLabel("nation")
      .order("uid").toDF.select("uid").collect().map(_.getLong(0)).toSeq
    val rest = g.traversal.V().hasLabel("nation")
      .order("uid").skip(10).toDF.select("uid").collect().map(_.getLong(0)).toSeq
    assert(rest === all.drop(10))
  }

  test("repeatEmitUntil emits each round and exits matching traversers") {
    // until(label==='nation'): nations surface at depth 1 and stop the walk,
    // so depth 2 contributes nothing — unlike plain repeatEmit(2)
    val emitted = g.traversal.V().hasLabel("region")
      .repeatEmitUntil(col("label") === "nation", 2)(_.in())
      .toDF.select("label").distinct().collect().map(_.getString(0)).toSet
    assert(emitted === Set("nation"))
    val plain = g.traversal.V().hasLabel("region")
      .repeatEmit(2)(_.in())
      .toDF.select("label").distinct().collect().map(_.getString(0)).toSet
    assert(plain.contains("customer")) // the until() is what cut depth 2
  }

  test("until-variants reject maxIter < 1 and name the step") {
    // an until loop emits its leavers plus the last frontier, so it needs
    // at least one round; 0 used to end in None.get
    val v = g.traversal.V().hasLabel("region")
    val calls: Seq[(String, () => Any)] = Seq(
      "repeatUntil" -> (() => v.repeatUntil(col("label") === "nation", 0)(_.in())),
      "repeatEmitUntil" -> (() => v.repeatEmitUntil(col("label") === "nation", 0)(_.in())),
      "repeatUntilSub" -> (() => v.repeatUntilSub(_.in(), 0)(_.in())))
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(name) && e.getMessage.contains("maxIter"), e.getMessage)
    }
  }

  test("range, localRange and localLimit reject lo < 0 and hi < lo and name the step") {
    // unchecked, range(2,1) fails in Spark's analyzer (INVALID_LIMIT_LIKE_EXPRESSION)
    // and the local forms return no rows
    val v = g.traversal.V().hasLabel("customer")
    val calls: Seq[(String, () => Any)] = Seq(
      "range" -> (() => v.range(2, 1).toDF.collect()),
      "range" -> (() => v.range(-1, 2).toDF.collect()),
      "localRange" -> (() => v.localRange(2, 1)(_.out("placed")).toDF.collect()),
      "localRange" -> (() => v.localRange(1, -1)(_.out("placed")).toDF.collect()),
      "localRange" -> (() => v.localRange(-1, 1)(_.out("placed")).toDF.collect()),
      "localLimit" -> (() => v.localLimit(-1)(_.out("placed")).toDF.collect()))
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(s"$name:"), e.getMessage)
    }
    // the empty slice stays legal
    assert(v.range(1, 1).toDF.isEmpty && v.localLimit(0)(_.out("placed")).toDF.isEmpty)
  }

  test("repeatEmitFilter emits matching frontiers but steps everyone") {
    // filter: nations+suppliers. Depth 1 = nations (pass), depth 2 =
    // customers+suppliers (suppliers pass); customers are walked, not emitted
    val emitted = g.traversal.V().hasLabel("region")
      .repeatEmitFilter(2, col("label").isin("nation", "supplier"))(_.in())
      .toDF.select("label").distinct().collect().map(_.getString(0)).toSet
    assert(emitted === Set("nation", "supplier"))
    // vs repeatEmitUntil with the same predicate: a matching nation EXITS at
    // depth 1, so its depth-2 suppliers never appear — the semantics differ
    val exited = g.traversal.V().hasLabel("region")
      .repeatEmitUntil(col("label").isin("nation", "supplier"), 2)(_.in())
      .toDF.select("label").distinct().collect().map(_.getString(0)).toSet
    assert(exited === Set("nation"))
  }

  test("repeatEmitSub: per-round sub-traversal emit test, multiplicity kept") {
    val out = g.traversal.V().hasLabel("customer")
      .repeatEmitSub(2, _.out("in_region"))(_.out("in_nation", "in_region"))
      .toDF
    assert(out.select("label").distinct().collect().map(_.getString(0)).toSeq
      === Seq("nation"))
    // one emitted nation row per source customer (traverser multiplicity)
    assert(out.count() === g.vertices.filter(col("label") === "customer").count())
  }

  test("pathBy renders each path element through the property") {
    val rows = g.traversal.withPath.V().hasLabel("region").in().pathBy("name")
      .collect().map(_.getSeq[String](0).toList)
    assert(rows.length === 25) // one path per nation
    assert(rows.forall(_.length === 2))
    val regions = rows.map(_.head).toSet
    assert(regions.subsetOf(Set("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")))
  }

  test("selectPop: Pop.first/last/all over a reused as-label") {
    val t = g.traversal.V().hasLabel("customer").has("mktsegment", "BUILDING")
      .as("x").out("placed").as("x")
    val first = t.selectPop("x", graft.traverse.Pop.First)
    assert(first.select("x_label").distinct().collect().map(_.getString(0)).toSeq
      === Seq("customer"))
    val last = t.selectPop("x", graft.traverse.Pop.Last)
    assert(last.select("x_label").distinct().collect().map(_.getString(0)).toSeq
      === Seq("order"))
    val all = t.selectPop("x", graft.traverse.Pop.All).collect()
    assert(all.nonEmpty && all.forall(_.getString(0).split(",").length == 2))
    // a non-repeated label: first resolves the single occurrence
    val single = g.traversal.V().hasLabel("region").as("r")
    assert(single.selectPop("r", graft.traverse.Pop.First).count() === 5)
  }

  test("repeat-family loops truncate per-round lineage (deep loops stay analyzable)") {
    // regression guard: pre-barrier, an until-subtraversal loop re-referenced
    // its frontier ~5x per round, so analysis cost grew ~5^rounds — maxIter=3
    // burned MINUTES of driver CPU and maxIter=6 was infeasible. With the
    // per-round localCheckpoint barrier this completes in seconds.
    val out = g.traversal.V().hasLabel("customer")
      .repeatUntilSub(_.out(), maxIter = 6)(_.out("in_nation", "in_region"))
    assert(out.toDF.count() ===
      g.traversal.V().hasLabel("customer").toDF.count())
  }

  test("branch merges adopt the BRANCHES' element kind: union of outE branches chains inV()") {
    // regression: the merged traversal used to keep the pre-branch anchor's
    // isVertex, so a union of edge branches claimed to be a vertex frontier
    // and inV() threw / out() joined edge ids as vertex ids
    val viaUnion = g.traversal.V().hasLabel("order")
      .unionSteps(_.outE("contains"), _.outE("supplied_by"))
      .inV().toDF
    val manual = g.edges.filter(col("label").isin("contains", "supplied_by")).count()
    assert(viaUnion.count() === manual)
    assert(viaUnion.select("label").distinct().collect().map(_.getString(0)).toSet ===
      Set("part", "supplier"))
    // mixed element kinds across branches are ill-formed and must fail fast
    val ex = intercept[IllegalArgumentException] {
      g.traversal.V().hasLabel("order").unionSteps(_.out("contains"), _.outE("contains"))
    }
    assert(ex.getMessage.contains("element kind"))
  }

  test("sack split/merge: clones transform at branch entry, coalescing paths merge") {
    import org.apache.spark.sql.Column
    val orders = g.vertices.filter(col("label") === "order")
    val urgent = orders.filter(col("orderpriority") === "1-URGENT").count()
    // split = +100 per clone; merge = sum where branches land on the SAME
    // element: urgent orders are reached by both branches -> 202, rest 101
    val got = g.traversal.V().hasLabel("customer")
      .withSack(lit(1L), Some((c: Column) => c + lit(100L)), Some(sum(_: Column)))
      .unionSteps(
        _.out("placed"),
        _.out("placed").has("orderpriority", "1-URGENT"))
      .toDF.groupBy(col("_sack")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(101L -> (orders.count() - urgent), 202L -> urgent))

    // without a merge operator, branch results stay SEPARATE traversers
    // (split-only TinkerPop behavior): urgent orders appear twice at 101
    val noMerge = g.traversal.V().hasLabel("customer")
      .withSack(lit(1L), Some((c: Column) => c + lit(100L)), None)
      .unionSteps(
        _.out("placed"),
        _.out("placed").has("orderpriority", "1-URGENT"))
      .toDF
    assert(noMerge.count() === orders.count() + urgent)
    assert(noMerge.filter(col("_sack") =!= 101L).count() === 0)

    // choose() branches also receive the split and merge back: every order
    // goes through exactly ONE branch, so no coalescing pair exists and
    // each traverser keeps its transformed clone sack
    val viaChoose = g.traversal.V().hasLabel("customer")
      .withSack(lit(1L), Some((c: Column) => c * lit(3L)), Some(sum(_: Column)))
      .out("placed")
      .choose(col("orderpriority") === "1-URGENT")(identity, identity)
      .toDF
    assert(viaChoose.count() === orders.count())
    assert(viaChoose.filter(col("_sack") =!= 3L).count() === 0)
  }

  test("whereCount: count-valued sub-traversal predicate, including the count-0 form") {
    import spark.implicits._
    val v = Seq((1L, "u"), (2L, "u"), (3L, "u")).toDF("id", "label")
    val e = Seq((10L, 1L, 2L, "knows"), (11L, 1L, 3L, "knows"), (12L, 2L, 3L, "knows"))
      .toDF("id", "src", "dst", "label")
    val tg = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    def ids(t: graft.traverse.Traversal) =
      t.id().collect().map(_.getLong(0)).toSet
    assert(ids(tg.traversal.V().whereCount(P.gte(2))(_.out("knows"))) === Set(1L))
    assert(ids(tg.traversal.V().whereCount(P.eq(1))(_.out("knows"))) === Set(2L))
    // eq(0): vertices whose sub-traversal is EMPTY still flow (left join + coalesce)
    assert(ids(tg.traversal.V().whereCount(P.eq(0))(_.out("knows"))) === Set(3L))
    // composes with further steps: survivors keep full element columns
    assert(ids(tg.traversal.V().whereCount(P.gte(1))(_.out("knows")).out("knows"))
      === Set(2L, 3L))
  }

  test("whereCount: duplicated traversers each see ONE sub-run's count, not the sum") {
    import spark.implicits._
    val v = Seq((1L, "u"), (2L, "u"), (3L, "u")).toDF("id", "label")
    val e = Seq((10L, 1L, 3L, "knows"), (11L, 2L, 3L, "knows"), (12L, 1L, 2L, "knows"))
      .toDF("id", "src", "dst", "label")
    val tg = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    // out() frontier = {3 (via 1), 3 (via 2), 2 (via 1)}: vertex 3 is duplicated
    val dup = tg.traversal.V().out("knows")
    // in-degree of 3 is 2: each duplicate keeps its own per-traverser count...
    val got = dup.whereCount(P.eq(2))(_.in("knows"))
      .id().collect().map(_.getLong(0)).toSeq.sorted
    assert(got === Seq(3L, 3L), "both duplicates survive with the un-summed count")
    // ...and the inflated id-keyed sum (2+2=4) must select nothing
    assert(dup.whereCount(P.eq(4))(_.in("knows")).toDF.isEmpty)
  }

  test("has() key resolution is case-insensitive, matching the analyzer") {
    import spark.implicits._
    val v = Seq((1L, "u", 5), (2L, "u", 9)).toDF("id", "label", "weight")
    val e = Seq.empty[(Long, Long, Long, String)].toDF("id", "src", "dst", "label")
    val tg = graft.data.PropertyGraph(graft.core.GraphSchema(), v, e)
    // mixed-case key must resolve to the `weight` column, not read as an
    // undefined key (which would silently match nothing)
    assert(tg.traversal.V().has("Weight", P.gte(6)).id()
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(tg.traversal.V().hasNot("WEIGHT").toDF.isEmpty)
    // a genuinely undefined key still reads as NULL for every element
    assert(tg.traversal.V().has("abcd").toDF.isEmpty)
    assert(tg.traversal.V().hasNot("abcd").toDF.count() === 2L)
  }

  test("whereLabels: Pop.ALL is rejected, unknown labels are rejected, " +
      "never-reused label resolves the same under FIRST and LAST") {
    import graft.traverse.Pop
    val t = g.traversal.V().hasLabel("customer").as("a").out("placed").as("b")
    intercept[IllegalArgumentException] {
      t.whereLabels("a", _ === _, "b", Pop.All, Pop.Last)
    }
    intercept[IllegalArgumentException] {
      t.whereLabels("nope", _ === _, "b")
    }
    // a/b never repeat, so FIRST ≡ LAST on both sides — and a ≠ b everywhere
    // (customer vs order ids), while a = a on every traverser
    val n = t.toDF.count()
    assert(t.whereLabels("a", _ === _, "b", Pop.First, Pop.Last).toDF.count() === 0L)
    assert(t.whereLabels("a", _ === _, "a", Pop.First, Pop.Last).toDF.count() === n)
  }

  test("whereLabelsBy: by()-modulated predicate compares property values, " +
      "not elements") {
    // order pairs of one customer: strict < is asymmetric (ties drop), so
    // lt-pairs + gt-pairs + tie-pairs = all non-self pairs
    val base = g.traversal.V().hasLabel("order").as("a")
      .in("placed").out("placed").as("b")
    val lt = base.whereLabelsBy("a", _ < _, "b", "totalprice").toDF.count()
    val gt = base.whereLabelsBy("a", _ > _, "b", "totalprice").toDF.count()
    val eqNonSelf = base.whereLabelsBy("a", _ === _, "b", "totalprice")
      .whereLabels("a", _ =!= _, "b").toDF.count()
    val nonSelf = base.whereLabels("a", _ =!= _, "b").toDF.count()
    assert(lt === gt, "strict < and > must count the same pairs by symmetry")
    assert(lt + gt + eqNonSelf === nonSelf)
    // self-pairs are value-ties: the by()-predicate alone keeps them
    val allEq = base.whereLabelsBy("a", _ === _, "b", "totalprice").toDF.count()
    assert(allEq > eqNonSelf)
  }

  test("localGroupCount: empty local traversals yield no rows; totals match " +
      "the global fold") {
    // customers with no orders produce an EMPTY local map (no rows), and
    // summing the local counts reproduces the global groupCount per key
    val local = g.traversal.V().hasLabel("customer")
      .localGroupCount(_.out("placed"), "orderpriority")
    val global = g.traversal.V().hasLabel("customer").out("placed")
      .groupCount("orderpriority")
    val fromLocal = local.groupBy(col("orderpriority"))
      .agg(sum(col("count")).as("count"))
    assert(fromLocal.join(global.withColumnRenamed("count", "gcount"),
      Seq("orderpriority")).filter(col("count") =!= col("gcount")).isEmpty)
    val srcWithOrders = g.edges.filter(col("label") === "placed")
      .select(col("src")).distinct().count()
    assert(local.select(col("source")).distinct().count() === srcWithOrders)
  }
}
