package graft.operators

import java.util.Properties
import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue, TimeUnit}

import org.apache.spark.{SparkContext, SparkException, TaskContext}
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object OverlapSpec {
  /** Counted down by the slow job's task once it runs. */
  @volatile var started = new CountDownLatch(1)

  /** One single-task job that runs up to `seconds` unless it is
    * cancelled. */
  def slowJob(sc: SparkContext, seconds: Int): Long =
    sc.parallelize(Seq(1), 1).map { x =>
      started.countDown()
      val ctx = TaskContext.get()
      val end = System.nanoTime() + seconds * 1000000000L
      while (!ctx.isInterrupted() && System.nanoTime() < end) Thread.sleep(10)
      x
    }.count()
}

class OverlapSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Group = "spark.jobGroup.id"
  private val Description = "spark.job.description"

  private def tags(p: Properties): Set[String] =
    Option(p.getProperty("spark.job.tags")).toSet
      .flatMap((s: String) => s.split(",").toSet).filter(_.nonEmpty)

  /** Properties of the Spark jobs started while `body` runs, in start
    * order. The listener bus delivers in order, so once a marked job of
    * our own is seen, every earlier job has been seen. */
  private def jobsDuring(body: => Unit): Seq[Properties] = {
    val marker = "graft.spec.marker"
    val seen = new LinkedBlockingQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).getOrElse(new Properties))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(marker, "end")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
      Iterator.continually(Option(seen.poll(60, TimeUnit.SECONDS))
        .getOrElse(fail("listener bus did not drain")))
        .takeWhile(_.getProperty(marker) == null).toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("a job submitted inside a fork carries the caller's job group and description") {
    val sc = spark.sparkContext
    sc.setJobGroup("overlap-spec-caller", "the caller's description")
    val jobs = try jobsDuring {
      Overlap.scope { o =>
        val rdd = o.fork(sc.parallelize(1 to 8, 2).count())
        val sql = o.fork(spark.range(100).selectExpr("sum(id)").collect())
        (rdd.join, sql.join)
      }
    } finally sc.clearJobGroup()
    assert(jobs.size >= 2)
    jobs.foreach { p =>
      assert(p.getProperty(Group) == "overlap-spec-caller")
      assert(p.getProperty(Description) == "the caller's description")
      assert(tags(p).count(_.startsWith("graft-overlap-")) == 1)
    }
  }

  test("a failing fork cancels a sibling's running job; scope throws after the sibling settles") {
    val sc = spark.sparkContext
    val ends = new LinkedBlockingQueue[SparkListenerJobEnd]()
    val listener = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e)
    }
    OverlapSpec.started = new CountDownLatch(1)
    val boom = new IllegalStateException("boom")
    @volatile var sibling: Option[scala.util.Try[Long]] = None
    sc.addSparkListener(listener)
    val (thrown, secs, firstEnd) = try {
      val t0 = System.nanoTime()
      val thrown = intercept[IllegalStateException] {
        Overlap.scope { o =>
          val slow = o.fork {
            val r = scala.util.Try(OverlapSpec.slowJob(sc, 30))
            sibling = Some(r)
            r.get
          }
          o.fork {
            assert(OverlapSpec.started.await(60, TimeUnit.SECONDS))
            throw boom
          }
          slow.join
        }
      }
      (thrown, (System.nanoTime() - t0) / 1e9,
        Option(ends.poll(60, TimeUnit.SECONDS)))
    } finally sc.removeSparkListener(listener)
    assert(thrown eq boom)
    // the sibling had settled when scope threw, and its job was cancelled
    val outcome = sibling.getOrElse(fail("scope threw before the sibling settled"))
    assert(outcome.isFailure, s"the sibling's job ran to completion in $secs s")
    assert(outcome.failed.get.isInstanceOf[SparkException])
    assert(outcome.failed.get.getMessage.contains("cancel"))
    assert(secs < 20, s"scope took $secs s")
    // the one job that ran was the sibling's, and it did not succeed
    assert(firstEnd.exists(_.jobResult != JobSucceeded))
  }

  test("a reused pool thread carries its new caller's group and none of an earlier scope's tags") {
    val sc = spark.sparkContext
    def probe(): (String, Seq[Properties]) = {
      @volatile var thread = ""
      val jobs = jobsDuring {
        Overlap.scope { o =>
          o.fork {
            thread = Thread.currentThread.getName
            sc.parallelize(1 to 4, 1).count()
          }.join
        }
      }
      (thread, jobs)
    }
    // caller A: a group, a description and a tag of its own
    sc.setJobGroup("overlap-spec-a", "a's description")
    sc.addJobTag("overlap-spec-a-tag")
    val (threadA, jobsA) = try probe()
      finally { sc.clearJobGroup(); sc.clearJobTags() }
    val scopeTagA = tags(jobsA.head).filter(_.startsWith("graft-overlap-"))
    assert(scopeTagA.size == 1 && tags(jobsA.head)("overlap-spec-a-tag"))
    Thread.sleep(200) // A's pool thread goes back to waiting for work
    // caller B: another thread, with a group and nothing else
    @volatile var resultB: (String, Seq[Properties]) = null
    val b = new Thread(() => {
      sc.setJobGroup("overlap-spec-b", null)
      resultB = probe()
    })
    b.start()
    b.join(120000)
    val (threadB, jobsB) = resultB
    assert(threadB == threadA, "the cached pool did not reuse A's thread")
    assert(jobsB.size == 1)
    val p = jobsB.head
    assert(p.getProperty(Group) == "overlap-spec-b")
    assert(p.getProperty(Description) == null)
    assert(!tags(p)("overlap-spec-a-tag"))
    assert(tags(p).intersect(scopeTagA).isEmpty)
    assert(tags(p).count(_.startsWith("graft-overlap-")) == 1)
  }
}
