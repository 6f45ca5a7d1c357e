package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one traced window: what the engine did while the
  * benchmark was inside one call into a module. */
final case class Span(
    name: String,
    wallS: Double,
    jobs: Long,
    tasks: Long,
    executorRunS: Double,
    executorCpuS: Double,
    shuffleReadMb: Double,
    shuffleWriteMb: Double,
    spillMb: Double,
    planS: Double,
    driverGapS: Double,
    jobDurationsMs: Seq[Double]) {

  def +(o: Span): Span = Span(name, wallS + o.wallS, jobs + o.jobs,
    tasks + o.tasks, executorRunS + o.executorRunS,
    executorCpuS + o.executorCpuS, shuffleReadMb + o.shuffleReadMb,
    shuffleWriteMb + o.shuffleWriteMb, spillMb + o.spillMb,
    planS + o.planS, driverGapS + o.driverGapS,
    jobDurationsMs ++ o.jobDurationsMs)
}

object Span {
  def empty(name: String): Span =
    Span(name, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, Nil)
}

/** The traced run's instruments: one SparkListener (jobs, tasks,
  * executor time, shuffle and spill), one QueryExecutionListener
  * (planning phases) and one StreamingQueryListener (per-trigger
  * progress), all public Spark APIs attached from the benchmark. The
  * engine itself is not instrumented. */
final class Tracer(spark: SparkSession) {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val runMs = new AtomicLong
  private val cpuNs = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong
  private val planMs = new AtomicLong
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  // (start, end) wall-clock ms of every finished job
  private val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  private val progress = ArrayBuffer.empty[StreamingQueryProgress]
  private val ownNs = new AtomicLong

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, e.time)

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.incrementAndGet()
      val t0 = Option(jobStart.remove(e.jobId)).map(_.longValue)
        .getOrElse(e.time)
      jobIntervals.synchronized { jobIntervals += ((t0, e.time)) }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Tracer = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    this
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Trigger progress reports received so far, oldest first. */
  def triggers: Seq[StreamingQueryProgress] = {
    org.apache.spark.BusDrain(spark.sparkContext)
    progress.synchronized(progress.toList)
  }

  /** Seconds spent inside `span` calls but outside their bodies'
    * clocks: listener-bus drains and counter bookkeeping. */
  def ownS: Double = ownNs.get / 1e9

  private def counters: Array[Long] = Array(jobs.get, tasks.get,
    runMs.get, cpuNs.get, shuffleRead.get, shuffleWrite.get, spill.get,
    planMs.get)

  /** Runs `body` and returns its result with the engine work done
    * while it ran. Spans may nest; work other threads submit meanwhile
    * is counted too, so calls to attribute are made one at a time. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val outer0 = System.nanoTime()
    org.apache.spark.BusDrain(spark.sparkContext)
    val c0 = counters
    val nJobs0 = jobIntervals.synchronized(jobIntervals.size)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    org.apache.spark.BusDrain(spark.sparkContext)
    val c1 = counters
    val d = c1.zip(c0).map { case (a, b) => a - b }
    val ivs = jobIntervals.synchronized(jobIntervals.drop(nJobs0).toList)
    val mb = 1024.0 * 1024.0
    ownNs.addAndGet(System.nanoTime() - outer0 - (wall * 1e9).toLong)
    (out, Span(name, wall, d(0), d(1), d(2) / 1e3, d(3) / 1e9, d(4) / mb,
      d(5) / mb, d(6) / mb, d(7) / 1e3,
      math.max(0.0, (w1 - w0 - covered(ivs, w0, w1)) / 1e3),
      ivs.map { case (a, b) => (b - a).toDouble }))
  }

  /** Milliseconds of [lo, hi] during which at least one job ran. */
  private def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}
