package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job trace and job census of registry queries (all with no
  * arguments). Each query runs once warm, so artifact builds and
  * first-use class loading do not count, then once traced: every job
  * it submits, with its wall ms, task count, the call site Spark
  * captured and the idle driver gap since the previous job's end.
  * That names which jobs (checkpoints, counts, broadcasts) a
  * restructure should fold.
  *
  * Ends with the census: one tab-separated line per query (name,
  * jobs, stages, tasks, traced seconds) sorted by jobs descending,
  * then `TOTAL`. The sub-second tail is bounded by the per-job driver
  * floor (11-18 ms measured), so the queries worth restructuring are
  * the ones with the most jobs, not the most data. Measurement tool
  * only, never part of the bench contract.
  *
  * Usage: runMain graft.tools.JobTrace [query ...]
  */
object JobTrace {

  /** What one traced run submitted. */
  private final class Trace extends SparkListener {
    // job id -> (start ms, end ms or -1, call site)
    val jobs = new ConcurrentHashMap[Int, (Long, Long, String)]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    val jobTasks = new ConcurrentHashMap[Int, AtomicInteger]()
    val stages = new AtomicInteger
    val tasks = new AtomicInteger

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val site = Option(j.properties)
        .flatMap(p => Option(p.getProperty("callSite.short")))
        .getOrElse("?")
      jobs.put(j.jobId, (j.time, -1L, site))
      j.stageIds.foreach(s => stageToJob.put(s, j.jobId))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
      Option(stageToJob.get(s.stageInfo.stageId)).foreach { jid =>
        jobTasks.computeIfAbsent(jid, _ => new AtomicInteger)
          .addAndGet(s.stageInfo.numTasks)
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobs.get(j.jobId)).foreach { case (t0, _, site) =>
        jobs.put(j.jobId, (t0, j.time, site))
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Runner.envSfDir
    val only = args.toSet
    val runner = new Runner(sfDir)
    val census = scala.collection.mutable.ArrayBuffer
      .empty[(String, Int, Int, Int, Double)]
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        val spark = runner.next()
        try fn(spark, sfDir).count()
        catch { case _: Throwable => () }
        Runner.release(spark)
        val trace = new Trace
        spark.sparkContext.addSparkListener(trace)
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        // let straggling listener events drain before reading
        Thread.sleep(100)
        spark.sparkContext.removeSparkListener(trace)
        Runner.release(spark)
        if (!ok) System.err.println(s"[trace] $name FAILED")
        else {
          val sorted = trace.jobs.asScala.toSeq.sortBy(_._1)
          var prevEnd = -1L
          var busy = 0L
          var gaps = 0L
          sorted.foreach { case (id, (s, e, site)) =>
            val tk = Option(trace.jobTasks.get(id)).fold(0)(_.get)
            val gap = if (prevEnd < 0) 0 else math.max(0, s - prevEnd)
            if (e > 0) { busy += (e - s); prevEnd = math.max(prevEnd, e) }
            gaps += gap
            println(f"[job] $id%4d ${e - s}%6d ms gap=$gap%5d tasks=$tk%4d  $site")
          }
          println(f"[sum] $name jobs=${sorted.size} busy=${busy}ms " +
            f"gaps=${gaps}ms wall=${dt}%.2fs")
          census += ((name, sorted.size, trace.stages.get, trace.tasks.get, dt))
        }
      }
    census.sortBy(-_._2).foreach { case (n, j, s, t, d) =>
      println(f"$n\t$j\t$s\t$t\t$d%.2f")
    }
    println(f"TOTAL\t${census.map(_._2).sum}\t${census.map(_._3).sum}\t" +
      f"${census.map(_._4).sum}\t${census.map(_._5).sum}%.1f")
    runner.stop()
  }
}
