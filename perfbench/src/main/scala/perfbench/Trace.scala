package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call. `unit` is the cycle (batch workloads) or micro-batch
  * (streaming) the call belongs to; the root span of a unit has parent 0.
  */
final case class Span(id: Long, name: String, parent: Long, unit: Int, startNs: Long, endNs: Long)

/** Per-span Spark work, attributed through the `perfbench.span` local property. */
final class Work {
  var jobs, tasks, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, outputBytes, outputRecords = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

/** Spans kept in memory for the whole run, plus the three listeners that
  * attribute Spark's own metrics to them. Listeners are registered only
  * while `on` is set, so an untraced run carries none of this.
  */
final class Tracer(spark: SparkSession) {
  private val SpanKey = "perfbench.span"
  private val ids = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  // epoch ms of a nanoTime reading, to place Spark's ms timestamps on span intervals
  private val nsOrigin = System.nanoTime()
  private val msOrigin = System.currentTimeMillis()
  def epochMs(ns: Long): Double = msOrigin + (ns - nsOrigin) / 1e6

  @volatile private var on = false
  def enabled: Boolean = on

  // listener-side state: written on the listener bus thread, read after it drains
  private val work = mutable.HashMap.empty[Long, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Long)] // job -> (span, start ms)
  private val planning = mutable.ArrayBuffer.empty[(Long, Long)] // (phase start ms, planning ms)
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
  private def workOf(span: Long): Work = work.getOrElseUpdate(span, new Work)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val s = spanOf(e.properties)
      jobSpan(e.jobId) = (s, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
      workOf(s).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (s, t0) => workOf(s).jobIntervals += ((t0, e.time)) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val w = workOf(stageSpan.getOrElse(e.stageId, 0L))
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.outputBytes += m.outputMetrics.bytesWritten
        w.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) Tracer.this.synchronized {
        planning += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Register or remove the listeners; removal first drains the event
    * queues, so every event of the traced stretch is counted.
    */
  def set(trace: Boolean): Unit = if (trace != on) {
    if (trace) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
    on = trace
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def newId(): Long = ids.getAndIncrement()

  /** Run `body` as span `name`; Spark jobs it launches carry the span id. */
  def span[T](name: String, parent: Long, unit: Int)(body: => T): T =
    if (!on) body else {
      val id = newId()
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body finally {
        spans.add(Span(id, name, parent, unit, t0, System.nanoTime()))
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  def record(s: Span): Unit = if (on) spans.add(s)

  /** Per-unit, per-name measurements of every traced span:
    * name -> unit -> suffix -> value.
    */
  def layers(): Map[String, Map[Int, Map[String, Double]]] = synchronized {
    val all = spans.asScala.toVector
    val children = all.groupBy(_.parent)
    // planning phases go to the innermost span whose interval holds them
    val planningBySpan = mutable.HashMap.empty[Long, Long]
    planning.foreach { case (startMs, ms) =>
      val holders = all.filter(s => epochMs(s.startNs) <= startMs + 1 && startMs <= epochMs(s.endNs) + 1)
      if (holders.nonEmpty) {
        val inner = holders.minBy(s => s.endNs - s.startNs)
        planningBySpan(inner.id) = planningBySpan.getOrElse(inner.id, 0L) + ms
      }
    }
    val perSpan = all.map { s =>
      val durMs = (s.endNs - s.startNs) / 1e6
      val childMs = children.getOrElse(s.id, Vector.empty).map(c => (c.endNs - c.startNs) / 1e6).sum
      val self = math.max(0.0, durMs - childMs)
      val w = work.getOrElse(s.id, new Work)
      val jobMs = unionMs(w.jobIntervals.toSeq, epochMs(s.startNs), epochMs(s.endNs))
      s -> Map(
        "ms" -> self,
        "driver_ms" -> math.max(0.0, self - jobMs),
        "jobs" -> w.jobs.toDouble,
        "tasks" -> w.tasks.toDouble,
        "planning_ms" -> planningBySpan.getOrElse(s.id, 0L).toDouble,
        "executor_cpu_ms" -> w.cpuNs / 1e6,
        "gc_ms" -> w.gcMs.toDouble,
        "shuffle_write_bytes" -> w.shuffleWrite.toDouble,
        "shuffle_read_bytes" -> w.shuffleRead.toDouble,
        "spill_bytes" -> w.spill.toDouble,
        "output_bytes" -> w.outputBytes.toDouble,
        "output_records" -> w.outputRecords.toDouble)
    }
    perSpan.groupBy(_._1.name).map { case (name, xs) =>
      name -> xs.groupBy(_._1.unit).map { case (u, ys) =>
        u -> ys.map(_._2).reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
      }
    }
  }

  /** Wall ms covered by the union of `intervals`, clipped to [lo, hi]. */
  private def unionMs(intervals: Seq[(Long, Long)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var end = lo
    intervals.sortBy(_._1).foreach { case (a, b) =>
      val s = math.max(a.toDouble, end)
      val e = math.min(b.toDouble, hi)
      if (e > s) { covered += e - s; end = e }
    }
    covered
  }
}
