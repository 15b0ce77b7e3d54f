package graft.plans

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

/** Per-measurement shuffle-write byte and job tally for the metric
  * specs (`ShuffleBudgetSpec`, `SkewStressSpec`, `PathIOSpec`).
  *
  * Attribution: every job a measured body starts carries a local
  * property naming the measurement. Jobs started from other threads
  * inherit it: AQE's stage jobs and broadcasts capture the caller's
  * local properties (`SQLExecution.withThreadLocalCaptured`). The
  * listener maps each stage id to the measurement from `onJobStart`
  * and adds a task-end's `shuffleWriteMetrics.bytesWritten` only to the
  * measurement that owns its stage. Jobs of other bodies, other suites
  * or the marker job are never charged.
  *
  * Completion: a body's action can return while jobs it started are
  * still running. AQE ends a join once one side's stage comes back
  * empty and leaves the other side's shuffle stage to finish on its
  * own. So after the body returns, `measure` drains the listener bus,
  * waits (bounded) until every job tagged with this measurement has
  * ended, and drains again before it reads. It waits on this
  * measurement's own jobs only, never on all active jobs, since other
  * suites in the same JVM may leave streaming queries running.
  *
  * Draining uses a marker job (a shuffle-free 1-partition count): the
  * bus is FIFO, so once the marker's job-end is processed every event
  * posted before the marker was submitted has been processed too.
  */
final class ShuffleTally private (spark: SparkSession) extends SparkListener {
  import ShuffleTally._

  private val stageOwner = new ConcurrentHashMap[Int, String]()
  private val liveJobs = new ConcurrentHashMap[Int, String]()
  private val bytes = new ConcurrentHashMap[String, AtomicLong]()
  private val jobs = new ConcurrentHashMap[String, AtomicInteger]()
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  private val serial = new AtomicInteger(0)
  @volatile private var latch: CountDownLatch = _

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = js.properties
    if (props != null && props.getProperty(MarkerKey) != null) markerJobs.add(js.jobId)
    val owner = if (props == null) null else props.getProperty(OwnerKey)
    if (owner != null) {
      liveJobs.put(js.jobId, owner)
      val n = jobs.get(owner); if (n != null) n.incrementAndGet()
      // a stage shared with an earlier job keeps its first owner
      js.stageIds.foreach(stageOwner.putIfAbsent(_, owner))
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    liveJobs.remove(je.jobId)
    if (markerJobs.remove(je.jobId)) {
      val l = latch; if (l != null) l.countDown()
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val owner = stageOwner.get(te.stageId)
    val m = te.taskMetrics
    if (owner != null && m != null) {
      val acc = bytes.get(owner)
      if (acc != null) acc.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Block until the listener has processed every event posted so far. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    latch = new CountDownLatch(1)
    sc.setLocalProperty(MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    assert(latch.await(60, TimeUnit.SECONDS), "listener bus drain timed out")
  }

  /** Run `body` and return its result with the shuffle-write bytes of
    * every job it started, read once all of those jobs have ended.
    * Fails naming `label` if they have not ended within `JobWaitSec`.
    */
  def measure[A](label: String)(body: => A): (A, Long) = {
    val (result, b, _) = tally(label)(body)
    (result, b)
  }

  /** `measure`, returning the number of Spark jobs `body` started. */
  def jobCount[A](label: String)(body: => A): (A, Int) = {
    val (result, _, n) = tally(label)(body)
    (result, n)
  }

  private def tally[A](label: String)(body: => A): (A, Long, Int) = {
    val sc = spark.sparkContext
    val owner = s"$label#${serial.incrementAndGet()}"
    val acc = new AtomicLong(0L)
    val n = new AtomicInteger(0)
    bytes.put(owner, acc)
    jobs.put(owner, n)
    val prior = sc.getLocalProperty(OwnerKey)
    sc.setLocalProperty(OwnerKey, owner)
    val result = try body finally sc.setLocalProperty(OwnerKey, prior)
    drain() // every job the body submitted has had its job-start seen
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(JobWaitSec)
    while (liveJobs.containsValue(owner)) {
      assert(System.nanoTime() < deadline,
        s"$label: its jobs were still running ${JobWaitSec}s after it returned")
      Thread.sleep(10)
    }
    drain() // every task-end of those jobs has been tallied
    bytes.remove(owner)
    jobs.remove(owner)
    stageOwner.values.removeIf(_ == owner)
    (result, acc.get(), n.get())
  }
}

object ShuffleTally {
  private val OwnerKey = "graft.shuffleTally.owner"
  private val MarkerKey = "graft.shuffleTally.marker"
  private val JobWaitSec = 120

  /** Register a tally on `spark`'s listener bus for the span of `use`. */
  def using[T](spark: SparkSession)(use: ShuffleTally => T): T = {
    val tally = new ShuffleTally(spark)
    spark.sparkContext.addSparkListener(tally)
    try use(tally) finally spark.sparkContext.removeSparkListener(tally)
  }
}
