package graft.tools

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted}

/** Post-GC peak-heap tracker with stage attribution, for the
  * SCALE.md ×100 heap-margin table (round-14 advice #1).
  *
  * GC-completion notifications carry the heap surviving each
  * collection; a SparkListener keeps the set of currently-running
  * stages, so each new peak records WHICH stages were live when it
  * happened. In local[*] the driver and executors share one heap, so
  * this single number IS the process's OOM margin against -Xmx.
  */
object PeakHeap {
  private val active =
    new java.util.concurrent.ConcurrentHashMap[Int, String]()
  // Peak updates arrive on the GC-notification dispatcher thread;
  // they and reset() go through this lock so a reset can't interleave
  // with a half-applied update.
  private val lock = new Object
  private var postGcPeakBytes = 0L
  private var atPostGcPeak: Seq[String] = Nil
  private var oldGenPeakBytes = 0L
  // JVM uptime (ms) at the last reset(): GC notifications describe a
  // collection that ENDED at GcInfo.endTime; one whose end predates
  // the reset belongs to the previous query's cleanup System.gc() and
  // must not be attributed to the new window.
  private var resetUptimeMs = 0L
  @volatile private var started = false
  private var installedOn: String = ""

  /** Heap-pool names (G1: Eden/Survivor/Old), to filter the per-pool
    * after-GC map down to heap. */
  private lazy val heapPoolNames: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet

  /** Subscribe to GC-completion notifications: each one carries the
    * per-pool usage AFTER the collection, whose heap sum is the
    * surviving footprint — the number an OOM actually compares
    * against Xmx (sampled used-heap saturates at capacity on any
    * busy query because G1 lets the heap fill before collecting;
    * measured: every heavy query "peaks" at ~Xmx by that metric). */
  private def subscribeGc(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener(
          new javax.management.NotificationListener {
            override def handleNotification(
                n: javax.management.Notification, hb: Any): Unit =
              if (n.getType ==
                  "com.sun.management.gc.notification") {
                val info = com.sun.management
                  .GarbageCollectionNotificationInfo.from(
                    n.getUserData
                      .asInstanceOf[javax.management.openmbean.CompositeData])
                val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
                  .collect { case (k, v) if heapPoolNames(k) => v.getUsed }
                  .sum
                val old = info.getGcInfo.getMemoryUsageAfterGc.asScala
                  .collect { case (k, v) if k.contains("Old") => v.getUsed }
                  .sum
                val stages = active.values.asScala.toSeq.sorted.take(3)
                lock.synchronized {
                  // drop async notifications for GCs that ended before
                  // the current window began
                  if (info.getGcInfo.getEndTime >= resetUptimeMs) {
                    if (after > postGcPeakBytes) {
                      postGcPeakBytes = after
                      atPostGcPeak = stages
                    }
                    if (old > oldGenPeakBytes) oldGenPeakBytes = old
                  }
                }
              }
          }, null, null)
      case _ => ()
    }

  private val listener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      active.put(e.stageInfo.stageId,
        s"s${e.stageInfo.stageId}[${e.stageInfo.numTasks}t] " +
          e.stageInfo.name)
      ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      active.remove(e.stageInfo.stageId)
      ()
    }
  }

  /** Idempotent per SparkContext (Bench recycles contexts); subscribes
    * to GC notifications once per JVM. */
  def install(sc: SparkContext): Unit = synchronized {
    if (installedOn != sc.applicationId) {
      sc.addSparkListener(listener)
      installedOn = sc.applicationId
      active.clear()
    }
    if (!started) {
      started = true
      subscribeGc()
    }
  }

  def reset(): Unit = lock.synchronized {
    postGcPeakBytes = 0L; atPostGcPeak = Nil
    oldGenPeakBytes = 0L
    resetUptimeMs = ManagementFactory.getRuntimeMXBean.getUptime
  }
  /** Peak old-gen usage after any GC — promoted-survivor footprint
    * (still an over-estimate of live: mixed collections reclaim old
    * regions incrementally). */
  def oldGenPeakGb: Double = lock.synchronized(oldGenPeakBytes / 1e9)
  /** Max heap surviving any GC during the window — the live-footprint
    * (OOM-margin) metric. 0.0 when no GC ran in the window (footprint
    * never even forced a collection). */
  def postGcPeakGb: Double = lock.synchronized(postGcPeakBytes / 1e9)
  /** The stages live at the worst post-GC snapshot. */
  def postGcPeakStage: String =
    lock.synchronized(atPostGcPeak.mkString(" | "))
  def xmxGb: Double = Runtime.getRuntime.maxMemory / 1e9
  /** Instantaneous used heap — read by Bench right after its forced
    * inter-query System.gc() to record the post-forced-GC FLOOR next
    * to the post-GC PEAK (round-16 advice #3): the peak includes
    * everything that survived any GC mid-query (to-be-freed caches,
    * unpersist backlog), while the floor is what is STILL live once
    * the harness has collected everything collectable — a saturated
    * peak with a low floor is elastic pressure, not OOM risk. */
  def heapUsedNowGb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e9
}
