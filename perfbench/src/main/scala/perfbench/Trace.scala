package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Spark work attributed to one span. Updated only on the listener thread;
  * read after [[Tracer.drain]]. */
final class Counters {
  var jobs = 0L
  var failedTasks = 0L
  var busyMs = 0L
  var waitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var broadcastBuilds = 0L
  var broadcastBytes = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "failed_tasks" -> failedTasks,
    "busy_ms" -> busyMs, "wait_ms" -> waitMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "broadcast_builds" -> broadcastBuilds, "broadcast_bytes" -> broadcastBytes)
}

/** One timed call. `module` is the engine module called (or "bench" for an
  * op's root span); `phase` is call, plan, exec or load. */
final case class Span(id: Long, parent: Long, pass: Int, op: String, module: String,
    phase: String, startNs: Long, endNs: Long)

/** Records spans around the benchmark's calls into engine modules and, while
  * enabled, attributes Spark jobs, stages and tasks to the innermost span. The
  * span id travels to Spark as a thread-local job property, which Spark copies
  * onto every job the call starts, including jobs run on its broadcast and
  * streaming threads. */
final class Tracer(sc: SparkContext) {
  import Tracer.SpanKey

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val listener = new CounterListener(counters)
  sc.addSparkListener(listener)

  var pass = 0
  var op = ""

  /** Attribute Spark work to spans from now on (until disabled). */
  def enabled: Boolean = listener.enabled
  def enabled_=(on: Boolean): Unit = { drain(); listener.enabled = on }

  def span[T](module: String, phase: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, if (parent == 0L) null else parent.toString)
      spans += Span(id, parent, pass, op, module, phase, t0, t1)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (listener.enabled) org.apache.spark.perfbench.BusDrain(sc)

  def allSpans: Seq[Span] = spans.toSeq
  def countersOf(spanId: Long): Option[Counters] = Option(counters.get(spanId))

  def close(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  val SpanKey = "perfbench.span"
}

private final class CounterListener(counters: ConcurrentHashMap[Long, Counters])
    extends SparkListener {
  @volatile var enabled = false

  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSubmitMs = new ConcurrentHashMap[(Int, Int), Long]()
  private val executionSpan = new ConcurrentHashMap[Long, Long]()
  private val broadcastSizeAcc = ConcurrentHashMap.newKeySet[Long]()

  private def of(span: Long): Counters = counters.computeIfAbsent(span, _ => new Counters)

  private def spanOf(p: Properties): Option[Long] =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) spanOf(e.properties)
    .foreach { s =>
      of(s).jobs += 1
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => executionSpan.put(x.toLong, s))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) {
    val si = e.stageInfo
    spanOf(e.properties).foreach(s => stageSpan.put(si.stageId, s))
    stageSubmitMs.put((si.stageId, si.attemptNumber()),
      si.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val s = stageSpan.get(e.stageId)
    if (s != 0L) {
      val c = of(s)
      if (e.reason != Success) c.failedTasks += 1
      val submit = stageSubmitMs.get((e.stageId, e.stageAttemptId))
      if (submit > 0L) c.waitMs += math.max(0L, e.taskInfo.launchTime - submit)
      val m = e.taskMetrics
      if (m != null) {
        c.busyMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private def noteBroadcasts(p: SparkPlanInfo): Unit = {
    if (p.nodeName.contains("BroadcastExchange"))
      p.metrics.filter(_.name == "data size").foreach(m => broadcastSizeAcc.add(m.accumulatorId))
    p.children.foreach(noteBroadcasts)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
    case x: SparkListenerSQLExecutionStart => noteBroadcasts(x.sparkPlanInfo)
    case x: SparkListenerSQLAdaptiveExecutionUpdate => noteBroadcasts(x.sparkPlanInfo)
    case x: SparkListenerDriverAccumUpdates =>
      val s = executionSpan.get(x.executionId)
      if (s != 0L) x.accumUpdates.foreach { case (acc, v) =>
        if (broadcastSizeAcc.contains(acc)) {
          val c = of(s)
          c.broadcastBuilds += 1
          c.broadcastBytes += v
        }
      }
    case _ =>
  }
}
