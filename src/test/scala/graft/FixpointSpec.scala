package graft

import graft.core.GraphSchema
import graft.data.PropertyGraph
import graft.olap.{Analytics, BudgetExhausted, Converged, Fixpoint, GraphOps, Outcome}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The shared fixpoint loop behind the iterative olap kernels: every kernel
  * reports a typed outcome (an exhausted budget is detectable, not just a
  * stderr line), converges in the same rounds as the hand-written loops it
  * replaced, and leaves no persisted frame behind. Plus the two boundary
  * defects of the decremental kCore/SCC state: pending trim removals at the
  * `maxTrim` cap, and the broadcast bound of the per-round `lost` frame. */
class FixpointSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.session

  private def graph(n: Long, edges: Seq[(Long, Long)]): PropertyGraph = {
    val s = spark
    import s.implicits._
    PropertyGraph(GraphSchema(), (1L to n).map(id => (id, "v")).toDF("id", "label"),
      edges.zipWithIndex.map { case ((a, b), i) => (1000L + i, a, b, "e") }
        .toDF("id", "src", "dst", "label"))
  }
  private def chain(n: Long) = graph(n, (1L until n).map(i => (i, i + 1)))
  private def cycle(n: Long) = graph(n, (1L to n).map(i => (i, if (i == n) 1L else i + 1)))
  /** A strip of triangles: at k=4 its chords (one triangle each) peel in
    * round 1, which leaves a triangle-free path for round 2 to peel. */
  private def triangleStrip(n: Long) =
    graph(n, (1L until n).map(i => (i, i + 1)) ++ (1L until n - 1).map(i => (i, i + 2)))

  /** Runs `body` and returns the last recorded outcome of loop `op`. */
  private def outcome(op: String)(body: => DataFrame): Outcome = {
    val (_, outs) = Fixpoint.recording(body.collect())
    val hits = outs.collect { case (`op`, o) => o }
    assert(hits.nonEmpty, s"no outcome recorded for $op; got $outs")
    hits.last
  }

  /** Persisted-RDD count once unreachable RDDs are collected: the context
    * holds persisted RDDs weakly, so a GC settles the count. */
  private def settle(): Int = {
    System.gc()
    Thread.sleep(100)
    spark.sparkContext.getPersistentRDDs.size
  }

  /** [[settle]] until two reads agree: frames dropped just before are gone. */
  private def steady(): Int = {
    var before = settle()
    var again = settle()
    while (again != before) { before = again; again = settle() }
    before
  }

  /** The persisted-RDD count returns to its level before `body` once the
    * result is dropped: every setup frame is unpersisted and no retired
    * round checkpoint stays strongly reachable. */
  private def assertReleases(name: String)(body: => Unit): Unit = {
    val before = steady()
    body
    var after = settle()
    var tries = 0
    while (after != before && tries < 30) { after = settle(); tries += 1 }
    assert(after === before, s"$name left ${after - before} persisted RDDs behind")
  }

  /** Persisted RDDs still reachable while the result of `body` is held. */
  private def heldBy(body: => DataFrame): Int = {
    val before = steady()
    val df = body
    df.collect()
    val held = settle() - before
    assert(df.columns.nonEmpty) // keeps the result reachable through the count
    held
  }

  // (op, budget-1 run, ample run, rounds): the round counts are those the
  // hand-written per-kernel loops ran on the same fixtures, read off their
  // per-round telemetry before the loops moved onto the shared one
  private def cases: Seq[(String, Int => DataFrame, Int => DataFrame, Int)] = Seq(
    ("cc", b => Analytics.connectedComponentsExact(chain(16), iterations = b),
      _ => Analytics.connectedComponentsExact(chain(16)), 5),
    ("kcore", b => Analytics.kCore(chain(12), k = 2, maxRounds = b),
      _ => Analytics.kCore(chain(12), k = 2), 7),
    ("coreness", b => Analytics.coreness(chain(12), maxRounds = b),
      _ => Analytics.coreness(chain(12), maxRounds = 16), 6),
    ("ktruss", b => Analytics.kTruss(triangleStrip(12), k = 4, maxRounds = b),
      _ => Analytics.kTruss(triangleStrip(12), k = 4, maxRounds = 20), 2),
    ("topo", b => Analytics.topologicalLayers(chain(10), maxRounds = b),
      _ => Analytics.topologicalLayers(chain(10), maxRounds = 12), 10),
    ("scc", b => Analytics.stronglyConnectedComponents(cycle(20), b, b, b),
      _ => Analytics.stronglyConnectedComponents(cycle(20)), 1),
    ("msf", b => Analytics.minimumSpanningForest(chain(16), maxOuter = b),
      _ => Analytics.minimumSpanningForest(chain(16)), 2),
    ("matching", b => Analytics.maximalMatching(chain(8), maxRounds = b),
      _ => Analytics.maximalMatching(chain(8)), 5),
    ("coloring", b => Analytics.greedyColoring(chain(12), maxRounds = b),
      _ => Analytics.greedyColoring(chain(12)), 3),
    ("sssp", b => Analytics.shortestHopsExact(chain(16), 1L, maxIter = b),
      _ => Analytics.shortestHopsExact(chain(16), 1L, maxIter = 20), 16),
    ("randomWalks", b => Analytics.randomWalks(chain(8), Seq(1L), steps = b),
      _ => Analytics.randomWalks(chain(8), Seq(1L), steps = 10), 8),
    ("ego", b => GraphOps.egoNetwork(chain(8), Seq(1L), k = b).vertices,
      _ => GraphOps.egoNetwork(chain(8), Seq(1L), k = 20).vertices, 8)
  )

  for ((op, budgetOne, ample, rounds) <- cases)
    test(s"$op: budget 1 is BudgetExhausted, ample is Converged($rounds), frames released") {
      assertReleases(op) {
        assert(outcome(op)(budgetOne(1)).isInstanceOf[BudgetExhausted],
          s"$op must exhaust a budget of 1")
        assert(outcome(op)(ample(0)) === Converged(rounds))
      }
    }

  test("a held single-frame result pins one round's frames, however many rounds ran") {
    // the round-17 retention defect: each truncated frame still reached the
    // previous round's join RDDs, so holding the LAST frame of a kernel
    // pinned every round's checkpoint — retention grew with the round count
    for ((op, budgetOne, ample, _) <- cases if Set("cc", "kcore", "coreness", "coloring")(op))
      assert(heldBy(ample(0)) === heldBy(budgetOne(1)), s"$op retention grows with rounds")
    val g = chain(12)
    Analytics.pageRankFixedPoint(g, 1).collect() // its PlanCache frames outlive any call
    assert(heldBy(Analytics.pageRankFixedPoint(g, 10)) ===
      heldBy(Analytics.pageRankFixedPoint(g, 1)), "pagerank retention grows with rounds")
  }

  test("scc: the trim, color and backward loops each report an outcome on a 20-cycle") {
    val (_, outs) = Fixpoint.recording(
      Analytics.stronglyConnectedComponents(cycle(20)).collect())
    assert(outs.toMap === Map("scc_trim_o0" -> Converged(1),
      "scc_color_o0" -> Converged(6), "scc_bw_o0" -> Converged(6),
      "scc" -> Converged(1)))
  }

  test("classMergeMapping: the distributed flood reports its outcome; strict runs to the fixpoint") {
    val s = spark
    import s.implicits._
    val pairs = (1L until 16L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("a", "b")
    spark.conf.set("spark.graft.msf.driverMergeMaxRows", "0")
    try {
      def merge(budget: Int) = Analytics.classMergeMapping(pairs, 30L, maxInner = budget)
      assertReleases("class_merge") {
        assert(outcome("class_merge")(merge(1)).isInstanceOf[BudgetExhausted])
        val (m, outs) = Fixpoint.recording(merge(12).collect())
        assert(outs === Seq("class_merge" -> Converged(6)))
        assert(m.map(_.getLong(1)).toSet === Set(1L))
      }
      // strict callers get a 64-round floor whatever maxInner says
      assert(Analytics.classMergeMapping(pairs, 30L, maxInner = 1, strict = true)
        .collect().map(_.getLong(1)).toSet === Set(1L))
    } finally spark.conf.unset("spark.graft.msf.driverMergeMaxRows")
  }

  test("fixed-round kernels: a fixed round count is semantics, never exhaustion") {
    val g = chain(16)
    val kernels: Seq[(String, Int => DataFrame)] = Seq(
      "lpa" -> (r => Analytics.labelPropagationExact(g, rounds = r)),
      "pagerank" -> (r => Analytics.pageRankFixedPoint(g, iterations = r)),
      "pagerank_weighted" -> (r => Analytics.pageRankWeightedFixedPoint(g, lit(1L), iterations = r)),
      "katz" -> (r => Analytics.katzFixedPoint(g, iterations = r)),
      "ppr" -> (r => Analytics.personalizedPageRankFixedPoint(g, Seq(1L), iterations = r)),
      "hits" -> (r => Analytics.hitsFixedPoint(g, iterations = r)),
      "shortest_paths" -> (r => Analytics.shortestPaths(Analytics.shortestPathTree(g, 1L), r)))
    // the rank family's PlanCache frames outlive any call: build them first
    kernels.foreach { case (_, kernel) => kernel(1).collect() }
    for ((op, kernel) <- kernels) assertReleases(op) {
      for (r <- Seq(1, 3)) assert(outcome(op)(kernel(r)) === Converged(r), op)
    }
  }

  test("RoundLog counts a round's Spark jobs however many the session has run") {
    // the status tracker keeps spark.ui.retainedJobs (1000) jobs and trims
    // the oldest 100 at a time, so its list length stops counting past 1000
    val sc = spark.sparkContext
    def job(): Unit = sc.parallelize(Seq(1), 1).count()
    (1 to 1100).foreach(_ => job())
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    spark.conf.set("spark.graft.bench.roundLog", "true")
    System.setErr(new java.io.PrintStream(err, true))
    try Fixpoint.fixedRounds("jobcount", 1, spark.range(1).toDF()) { (st, _) =>
      (1 to 150).foreach(_ => job())
      st
    } finally {
      System.setErr(stderr)
      spark.conf.unset("spark.graft.bench.roundLog")
    }
    val line = err.toString.linesIterator.find(_.startsWith("[graft-rounds] op=jobcount"))
    assert(line.exists(_.contains(" jobs=150 ")), s"round log: $line")
  }

  test("*Converged flags agree with the outcome; exhaustion carries a residual") {
    assert(Analytics.kCoreConverged(chain(12), k = 2, maxRounds = 2)._2 === false)
    assert(Analytics.kCoreConverged(chain(12), k = 2)._2)
    assert(outcome("kcore")(Analytics.kCore(chain(12), k = 2, maxRounds = 2)) ===
      BudgetExhausted(2, 2L)) // two chain ends peel per round
    assert(outcome("topo")(Analytics.topologicalLayers(chain(10), maxRounds = 3)) ===
      BudgetExhausted(3, 7L)) // seven vertices left unpeeled
    assert(Analytics.corenessConverged(chain(12), maxRounds = 1)._2 === false)
    assert(Analytics.kTrussConverged(triangleStrip(12), k = 4, maxRounds = 1)._2 === false)
  }

  test("scc: a chain deeper than maxTrim resolves to singletons (pending peels kept)") {
    // 40-chain, default budgets: trim stops at its cap with the last peel
    // still pending; the resolution that follows must ADD to that pending
    // batch — overwriting it lost the two chain-end decrements, trim then
    // peeled one end per round, and 5 vertices came back scc = NULL
    val got = Analytics.stronglyConnectedComponents(chain(40)).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got.size === 40)
    assert(got.forall { case (id, scc) => scc.contains(id) }, s"non-singleton or NULL: $got")
  }

  /** Output columns of every broadcast build planned while `body` ran —
    * round barriers are localCheckpoints, each its own query execution. */
  private def broadcastBuilds(body: => Unit): Seq[Set[String]] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[String]]()
    def scan(plan: SparkPlan): Unit = collectWithSubqueries(plan) {
      case b: BroadcastExchangeExec => b.child.output.map(_.name).toSet
    }.foreach(seen.add)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = scan(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq
  }

  test("lost frames are broadcast only under a bound that covers their rows") {
    // a 4-clique survives k=2; a hub tied to one clique vertex and 20 leaves
    // outlives the leaves (round 1) and peels in round 2, so round 3's
    // lost frame has a row per ORIGINAL hub neighbor (21) while only the 4
    // clique vertices are alive. maxRows = 10 sits between the two: a hint
    // bounded by the alive count would force-broadcast 21 rows.
    val clique = for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)
    val hub = 5L
    val leaves = (6L to 25L).map(l => (hub, l))
    val undirected = graph(25, clique ++ leaves :+ (hub -> 1L))
    // the directed twin for SCC trim: a 3-cycle, and leaves -> hub -> cycle,
    // so trim peels the leaves, then the hub, then folds 21 hub neighbors
    val directed = graph(24, Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)) ++
      (5L to 24L).map(l => (l, 4L)))
    val conf = Seq("spark.graft.broadcast.maxRows" -> "10",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val kcoreBuilds = broadcastBuilds {
        assert(Analytics.kCore(undirected, k = 2).collect().map(_.getLong(0)).toSet ===
          Set(1L, 2L, 3L, 4L))
      }
      assert(!kcoreBuilds.exists(_.contains("__l")), s"kCore lost broadcast: $kcoreBuilds")
      val sccBuilds = broadcastBuilds {
        val scc = Analytics.stronglyConnectedComponents(directed).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(scc === ((1L to 3L).map(_ -> 1L) ++ (4L to 24L).map(v => v -> v)).toMap)
      }
      assert(sccBuilds.nonEmpty, "the listener saw no broadcast at all")
      assert(!sccBuilds.exists(_.contains("__lo")), s"SCC lost broadcast: $sccBuilds")
    } finally conf.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("with a checkpoint directory set, round barriers checkpoint reliably; rows unchanged") {
    val g = graph(12, (1L until 6L).map(i => (i, i + 1)) ++ Seq((7L, 8L), (8L, 9L), (9L, 7L)))
    def rows(df: DataFrame) = (df.schema, df.collect().map(_.toSeq).sortBy(_.head.toString).toSeq)
    def cc = Analytics.connectedComponentsExact(g)
    def pr = Analytics.pageRankFixedPoint(g, iterations = 4)
    val (ccLocal, prLocal) = (rows(cc), rows(pr))
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    def rddDirs(): Int = dir.listFiles().toSeq.flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .count(_.getName.startsWith("rdd-"))
    try {
      spark.sparkContext.setCheckpointDir(dir.getPath)
      assert(rows(cc) === ccLocal)
      val afterCc = rddDirs()
      assert(afterCc > 0, "connectedComponentsExact wrote no checkpoint")
      assert(rows(pr) === prLocal)
      assert(rddDirs() > afterCc, "pageRankFixedPoint wrote no checkpoint")
    } finally {
      org.apache.spark.CheckpointDirReset(spark.sparkContext)
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }
}
