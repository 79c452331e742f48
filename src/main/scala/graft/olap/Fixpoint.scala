package graft.olap

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a budgeted fixpoint loop ended. `rounds` counts the rounds that ran;
  * `residual` is the last round's progress value in the kernel's own unit
  * (vertices peeled, Σ-signature change, vertices left uncolored, ...). */
private[graft] sealed trait Outcome {
  def rounds: Int
  def converged: Boolean = this match {
    case _: Converged => true
    case _ => false
  }
}
private[graft] final case class Converged(rounds: Int) extends Outcome
private[graft] final case class BudgetExhausted(rounds: Int, residual: Long) extends Outcome

/** The one synchronous round loop behind the iterative olap kernels — the
  * relational form of the reference's BSP iteration
  * (FulgoraGraphComputer.java:151-189, stop rule `VertexProgram.terminate`).
  * The loop owns the round counter and budget, the stop test, the per-round
  * lineage barrier, the round telemetry, the release of the frames it was
  * handed and the typed [[Outcome]]; the kernel supplies only the round body
  * and the round's one action. */
private[graft] object Fixpoint {

  /** Runs rounds 1, 2, ... until a round's residual is 0 or `budget` rounds
    * have run. `step(state, round)` builds the next state lazily; the loop
    * truncates its lineage with [[Analytics.roundBarrier]] (a step that
    * returns `state` itself is already truncated and is not barriered again).
    * `settle` runs the round's ONE action on the truncated frame — the action
    * the round needs anyway, so the stop test costs no extra Spark job — and
    * returns the residual, 0 meaning the fixpoint. `residual0` > 0 lets the
    * first round run; 0 means the initial state is already the fixpoint.
    * `owned` frames are unpersisted when the loop exits, however it exits. */
  def run(op: String, budget: Int, init: DataFrame, residual0: Long = 1L,
      owned: Seq[DataFrame] = Nil)(step: (DataFrame, Int) => DataFrame)(
      settle: DataFrame => Long): (DataFrame, Outcome) =
    loop(op, budget, init, residual0, owned, step, Some(settle))

  /** Exactly `rounds` rounds with no stop test: for kernels whose round count
    * is their semantics, not a budget. Always reports [[Converged]]. */
  def fixedRounds(op: String, rounds: Int, init: DataFrame,
      owned: Seq[DataFrame] = Nil)(step: (DataFrame, Int) => DataFrame): DataFrame =
    loop(op, rounds, init, 1L, owned, step, None)._1

  private def loop(op: String, budget: Int, init: DataFrame, residual0: Long,
      owned: Seq[DataFrame], step: (DataFrame, Int) => DataFrame,
      settle: Option[DataFrame => Long]): (DataFrame, Outcome) = {
    val log = new RoundLog(init.sparkSession, op)
    var state = init
    var residual = residual0
    var round = 0
    try {
      while (round < budget && residual > 0) {
        round += 1
        val next = step(state, round)
        state = if (next eq state) state else Analytics.roundBarrier(next)
        settle.foreach(s => residual = s(state))
        log.tick(round)
      }
    } finally owned.foreach(_.unpersist(false))
    val outcome =
      if (residual > 0 && settle.isDefined) BudgetExhausted(round, residual)
      else Converged(round)
    record(op, outcome)
    (state, outcome)
  }

  /** How far a Σ signature moved, as a residual: the label floods are
    * monotone, so an unchanged Σ is the fixpoint. */
  def sigChange(prev: java.math.BigDecimal, cur: java.math.BigDecimal): Long =
    prev.subtract(cur).abs.min(java.math.BigDecimal.valueOf(Long.MaxValue)).longValue

  /** The one budget warning: a loud stderr line when `outcome` ran out of
    * budget, carrying the kernel's note on what the partial result means. */
  def warnIfExhausted(op: String, outcome: Outcome, note: String): Unit = outcome match {
    case BudgetExhausted(rounds, residual) =>
      System.err.println(
        s"[graft] $op: round budget elapsed after $rounds rounds (residual $residual) — $note")
    case _ =>
  }

  private val sink = new ThreadLocal[scala.collection.mutable.Buffer[(String, Outcome)]]

  /** Reports a loop's outcome to the [[recording]] in progress on this thread. */
  def record(op: String, outcome: Outcome): Unit =
    Option(sink.get).foreach(_ += op -> outcome)

  /** Runs `body` and returns, with its result, every loop outcome recorded
    * on this thread while it ran, in order. */
  def recording[T](body: => T): (T, Seq[(String, Outcome)]) = {
    val outer = sink.get
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Outcome)]
    sink.set(buf)
    try { val r = body; (r, buf.toList) } finally sink.set(outer)
  }

  /** Conf-gated per-round telemetry: with `spark.graft.bench.roundLog=true`
    * every round prints one stderr line
    * `[graft-rounds] op=<op> round=<n> wall_ms=<t> jobs=<j> rdds=<r>` — wall
    * time and Spark jobs started since the previous tick, and the count of
    * persisted RDDs (a monotone ramp means retired round frames are not
    * released). Off by default: one conf read per loop, zero per-round cost. */
  private final class RoundLog(spark: SparkSession, op: String) {
    private val enabled =
      spark.conf.get("spark.graft.bench.roundLog", "false").toBoolean
    private var t0 = System.nanoTime()
    private var j0 = if (enabled) jobsStarted(spark.sparkContext) else 0L
    def tick(round: Int): Unit = if (enabled) {
      val now = System.nanoTime()
      val j1 = jobsStarted(spark.sparkContext)
      System.err.println(
        f"[graft-rounds] op=$op round=$round wall_ms=${(now - t0) / 1e6}%.1f jobs=${j1 - j0} " +
          s"rdds=${spark.sparkContext.getPersistentRDDs.size}")
      t0 = now
      j0 = j1
    }
  }

  private val jobStarts = new java.util.WeakHashMap[SparkContext, AtomicLong]()

  /** Spark jobs started on `sc` since this first ran for it, counted by a
    * listener. The status tracker's job list is no counter: Spark keeps only
    * `spark.ui.retainedJobs` (1000) entries and trims the oldest 100 at a
    * time, so past the cap its length stalls or drops. */
  private[graft] def jobsStarted(sc: SparkContext): Long = {
    val n = jobStarts.synchronized {
      jobStarts.computeIfAbsent(sc, { _ =>
        val n = new AtomicLong
        sc.addSparkListener(new SparkListener {
          override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
        })
        n
      })
    }
    org.apache.spark.sql.GraftSqlBridge.drainListenerBus(sc)
    n.get
  }
}
