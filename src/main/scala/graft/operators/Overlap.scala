package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Structured overlap of independent Spark job submissions (guide
  * §2.6): the only main source that runs Spark work on its own threads
  * or waits on it.
  *
  * {{{
  * Overlap.scope { o =>
  *   val a = o.fork(left.localCheckpoint())
  *   val b = o.fork(right.localCheckpoint())
  *   (a.join, b.join)
  * }
  * }}}
  *
  * The contract of [[scope]]:
  *  - Every fork runs on one cached daemon pool. A cached pool cannot
  *    starve when a fork opens a scope of its own; its threads inherit
  *    no thread-locals from whoever made them.
  *  - Spark keeps job properties thread-local, so a fork sets the
  *    caller's job group, description, interrupt-on-cancel, scheduler
  *    pool, job tags and active session again on its pool thread. The
  *    tags include one tag per scope, which the caller's own jobs in
  *    the body carry too. The thread's previous properties are restored
  *    when the fork ends, so a reused pool thread carries nothing
  *    stale.
  *  - The first failure (a fork's or the body's) cancels the scope's
  *    tag, so the other forks' running jobs are cancelled instead of
  *    running to completion; the cancel is repeated while the scope
  *    waits, for a fork that was between jobs. A fork that has not
  *    started by then does not run, and `join` throws the failure.
  *  - `scope` returns or throws only after every fork has settled, and
  *    it throws the first failure.
  */
object Overlap {
  private val pool = java.util.concurrent.Executors.newCachedThreadPool(
    new java.util.concurrent.ThreadFactory {
      private val n = new AtomicInteger
      def newThread(r: Runnable): Thread = {
        val t = new Thread(null, r, s"graft-overlap-${n.incrementAndGet()}",
          0L, false)
        t.setDaemon(true)
        t
      }
    })

  /** The Spark local properties a fork carries from its caller. */
  private val Carried = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.scheduler.pool", "spark.job.tags")

  /** How often a waiting scope repeats the cancel after a failure. */
  private val Recancel = 100.millis

  private val scopes = new AtomicInteger

  final class Fork[A] private[Overlap] (scope: Scope, f: Future[A]) {
    /** The fork's value, or the scope's first failure once there is
      * one. */
    def join: A = {
      scope.await(f)
      scope.rethrow()
      f.value.get.get
    }
  }

  final class Scope private[Overlap] (sc: SparkContext) {
    private[Overlap] val tag = s"graft-overlap-${scopes.incrementAndGet()}"
    private val failure = new AtomicReference[Throwable]
    private val forks = new ConcurrentLinkedQueue[Future[_]]

    /** Runs `body` on a pool thread with this thread's job properties. */
    def fork[A](body: => A): Fork[A] = {
      val props = Carried.map(k => k -> sc.getLocalProperty(k))
      val session = SparkSession.getActiveSession
      val p = Promise[A]()
      forks.add(p.future)
      pool.execute { () =>
        val saved = Carried.map(k => k -> sc.getLocalProperty(k))
        val savedSession = SparkSession.getActiveSession
        def set(ps: Seq[(String, String)], s: Option[SparkSession]): Unit = {
          ps.foreach { case (k, v) => sc.setLocalProperty(k, v) }
          s.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
        }
        p.complete(
          try {
            set(props, session)
            rethrow()
            Success(body)
          } catch { case t: Throwable => fail(t); Failure(t) }
          finally set(saved, savedSession))
      }
      new Fork(this, p.future)
    }

    private[Overlap] def fail(t: Throwable): Unit =
      if (failure.compareAndSet(null, t)) cancel()

    private def cancel(): Unit =
      sc.cancelJobsWithTag(tag, "a concurrent fork of the same scope failed")

    private[Overlap] def rethrow(): Unit =
      Option(failure.get).foreach(t => throw t)

    private[Overlap] def await(f: Future[_]): Unit =
      while (Try(Await.ready(f, Recancel)).isFailure)
        if (failure.get != null) cancel()

    private[Overlap] def settle(): Unit = forks.asScala.foreach(await)
  }

  /** Runs `body` with a fresh [[Scope]] under the contract above. */
  def scope[A](body: Scope => A): A = {
    val sc = SparkSession.active.sparkContext
    val o = new Scope(sc)
    sc.addJobTag(o.tag)
    val result =
      try Success(body(o))
      catch { case t: Throwable => o.fail(t); Failure(t) }
      finally {
        o.settle()
        sc.removeJobTag(o.tag)
      }
    o.rethrow()
    result.get
  }
}
