package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call into a layer's public function. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startMs: Long, startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What Spark reports about the work inside one span. Task figures
  * come from the scheduler's task-end events, plan figures from the
  * executed (final adaptive) plans of the queries run in the span.
  */
final class SpanStats {
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  val taskDurMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  var shuffleBytes = 0L
  var spillBytes = 0L
  var queries = 0
  var planMs = 0L
  var exchanges = 0
  var broadcasts = 0
  var unpartitionedWindows = 0
  var scanRows = 0L
  /** (start, end) wall-clock ms of each job started in the span. */
  val jobSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** In-memory span recorder plus the two Spark listeners that feed it.
  *
  * Jobs are tied to spans exactly: entering a span sets a local
  * property that Spark copies onto every job submitted from this
  * thread (and onto the broadcast jobs it starts on other threads).
  * Query executions carry no such property, so they are tied to the
  * innermost span open when their planning began.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.SpanKey

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opId = -1L
  private val stats = new ConcurrentHashMap[Long, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  private val executions = new java.util.concurrent.ConcurrentLinkedQueue[(Long, SpanStats)]()
  @volatile private var markerSeen = false
  @volatile private var markerJobSeen = false

  private def statsOf(id: Long): SpanStats = stats.computeIfAbsent(id, _ => new SpanStats)

  private val jobListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val id = Option(j.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(-1L)
      if (id == Tracer.MarkerSpan) { markerJobSeen = true; return }
      j.stageIds.foreach(s => stageSpan.put(s, id))
      jobStart.put(j.jobId, (id, j.time))
      statsOf(id).synchronized { statsOf(id).jobs += 1 }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(j.jobId)).foreach { case (id, t0) =>
        val s = statsOf(id)
        s.synchronized { s.jobSpans += ((t0, j.time)) }
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.getOrDefault(t.stageId, -1L)
      val s = statsOf(id)
      val m = t.taskMetrics
      s.synchronized {
        s.tasks += 1
        s.taskDurMs += t.taskInfo.duration
        if (m != null) {
          s.taskMs += m.executorRunTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (qe.analyzed.output.exists(_.name == Tracer.Marker)) { markerSeen = true; return }
      val phases = qe.tracker.phases
      val start = phases.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      val s = new SpanStats
      s.queries = 1
      s.planMs = Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
      Tracer.planFigures(qe.executedPlan, s)
      executions.add((start, s))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    sc.addSparkListener(jobListener)
    Tracer.listenerManager(spark).register(queryListener)
  }

  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(jobListener)
    Tracer.listenerManager(spark).unregister(queryListener)
  }

  /** Wait until both listener queues have delivered everything posted so
    * far: a marker query is the last event, so seeing it means the rest
    * arrived.
    */
  def drain(): Unit = {
    markerSeen = false
    markerJobSeen = false
    val saved = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, Tracer.MarkerSpan.toString)
    try spark.range(1).toDF(Tracer.Marker).collect()
    finally sc.setLocalProperty(SpanKey, saved)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!(markerSeen && markerJobSeen) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  def beginOp(): Long = { opId = ids.incrementAndGet(); opId }

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1L)
    val s = Span(ids.incrementAndGet(), name, parent, opId,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Spans with their Spark figures, plan figures merged in by time. */
  def collected(): Seq[(Span, SpanStats)] = {
    drain()
    executions.asScala.foreach { case (startMs, q) =>
      val owner = spans.filter(s => s.startMs <= startMs &&
        startMs <= s.startMs + (s.endNs - s.startNs) / 1000000L + 1)
        .sortBy(-_.startMs).headOption
      owner.foreach { o =>
        val s = statsOf(o.id)
        s.synchronized {
          s.queries += q.queries; s.planMs += q.planMs; s.exchanges += q.exchanges
          s.broadcasts += q.broadcasts; s.unpartitionedWindows += q.unpartitionedWindows
          s.scanRows += q.scanRows
        }
      }
    }
    executions.clear()
    spans.toSeq.map(s => s -> statsOf(s.id))
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  val SpanKey = "perfbench.span"
  val Marker = "perfbench_drain_marker"
  val MarkerSpan = -2L

  /** Wall-clock seconds covered by at least one of the intervals. */
  def busySeconds(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total / 1e3
  }

  def listenerManager(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager

  /** Exchanges, broadcasts, windows without PARTITION BY and rows read by
    * leaf scans, over the final plan including adaptive query stages.
    */
  def planFigures(plan: SparkPlan, s: SpanStats): Unit = foreach(plan) {
    case _: ShuffleExchangeLike => s.exchanges += 1
    case _: BroadcastExchangeLike => s.broadcasts += 1
    case w: WindowExec if w.partitionSpec.isEmpty => s.unpartitionedWindows += 1
    case p if p.children.isEmpty =>
      p.metrics.get("numOutputRows").foreach(m => s.scanRows += m.value)
    case _ =>
  }
}
