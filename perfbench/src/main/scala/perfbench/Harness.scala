package perfbench

import java.lang.management.ManagementFactory
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one run of one workload knows about itself. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Int,
    cpus: Int,
    root: Path,
    tracer: Option[Tracer]) {

  def dir(name: String): String = {
    val d = root.resolve(name)
    Files.createDirectories(d)
    d.toString
  }

  /** Runs `body` inside a tracer span when tracing, plainly otherwise. */
  def span[T](name: String)(body: => T): (T, Option[Span]) = tracer match {
    case Some(t) => val (v, s) = t.span(name)(body); (v, Some(s))
    case None => (body, None)
  }
}

/** The result of one run: gated end-to-end metrics, the named
  * metrics of this workload, per-layer metrics (traced runs), output
  * checks, and detail for the sidecar. */
final class Report(val workload: String) {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  /** Operations run and operations that threw or answered wrongly. */
  var attempted = 0L
  var failed = 0L

  /** Records a named output check; each check is one more operation
    * attempted, and a failed check one more failed. */
  def check(name: String, ok: Boolean, info: String = ""): Unit = {
    checks(name) = (ok, info)
    if (!ok) System.err.println(s"[perfbench] check failed: $name $info")
  }

  def attemptedTotal: Long = attempted + checks.size
  def failedTotal: Long = failed + checks.values.count(!_._1)
  def failRatio: Double = failedTotal / math.max(1L, attemptedTotal).toDouble
}

object Harness {
  def session(cpus: Int, root: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.local.dir", root.resolve("local").toString)
      .config("spark.sql.streaming.checkpointLocation",
        root.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** graft.Bench's contention canary: a fixed single-task CPU job whose
    * time depends only on how much of one core the run gets. Median of
    * three. Reported with the run, never gated. */
  def canary(spark: SparkSession): Double = {
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 1)
        .selectExpr("sum(id % 1234567)").collect()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    runs(1)
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, seconds(t0))
  }

  def md5(files: Seq[Path]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    files.sortBy(_.getFileName.toString).foreach { f =>
      md.update(f.getFileName.toString.getBytes(StandardCharsets.UTF_8))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Heap in use after garbage collection over a window: the largest
  * post-collection heap of any collection that ran in it (peak), and the
  * heap still in use after a full collection at its end (retained). */
final class HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val peak = new java.util.concurrent.atomic.AtomicLong
  private val forcedLeft = new java.util.concurrent.CountDownLatch(2)
  private val forced = new java.util.concurrent.atomic.AtomicLong
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        if (info.getGcCause == "System.gc()") {
          forced.set(used)
          forcedLeft.countDown()
        }
      }
  }

  private val emitters = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.collect { case e: NotificationEmitter => e }

  def start(): HeapWatch = {
    emitters.foreach(_.addNotificationListener(listener, null, null))
    this
  }

  /** Stops watching; returns (peak, retained) in MB. Retained is what
    * survives a second forced collection: the first one lets Spark's
    * ContextCleaner drop blocks whose owners were only weakly reachable. */
  def stopMb(): (Double, Double) = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    // the forced collections' own reports of what survived them
    forcedLeft.await(10, java.util.concurrent.TimeUnit.SECONDS)
    val retained = forced.get
    emitters.foreach(e =>
      scala.util.Try(e.removeNotificationListener(listener)))
    val mb = 1024.0 * 1024.0
    (peak.get / mb, retained / mb)
  }
}

/** Blocking HTTP/1.1 calls on the JDK client, whose keep-alive cache
  * reuses one connection per calling thread. */
object Http {
  def call(method: String, url: String, body: Option[String]): (Int, String) = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(10000)
    c.setReadTimeout(60000)
    body.foreach { b =>
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val out = c.getOutputStream
      try out.write(b.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val text =
      if (in == null) ""
      else try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    (code, text)
  }

  def get(url: String): (Int, String) = call("GET", url, None)
  def post(url: String, body: String): (Int, String) =
    call("POST", url, Some(body))
}
