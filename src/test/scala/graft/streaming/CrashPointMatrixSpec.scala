package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{ConcurrentHashMap, ExecutionException, Executors}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The crash-point matrix of the three maintained index streams. For
  * each family, a fold (`mergeBatch`), its GC and `publishSnapshot`
  * run once on the `crash:` filesystem ([[CrashFileSystem]]) to count
  * their mutating steps; then each op is crashed at every one of its
  * steps, on a fresh copy of its starting state. At each crash point:
  *  - the live view and every live manifest's `*At` view are those
  *    before the op or after it (or, for an op that publishes twice,
  *    the one in between);
  *  - every dir the starting state's manifest pins is still complete;
  *  - after a restart — the op re-run, staging dirs aged past
  *    [[Retention.GraceMs]], the family GC — the views and the
  *    complete dirs (with their files) equal an uninterrupted run's,
  *    and no staging dir is left.
  */
class CrashPointMatrixSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def walk(d: Path): Seq[Path] = {
    val s = Files.walk(d)
    try s.iterator.asScala.toVector finally s.close()
  }

  /** A fresh temp dir, a copy of `from` if given. */
  private def fresh(tag: String, from: Option[Path] = None): Path = {
    val d = Paths.get(graft.TestTmp.dir(s"graft_crash_${tag}_"))
    from.foreach(src => walk(src).foreach { p =>
      val t = d.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    })
    d
  }

  private def drop(d: Path): Unit = walk(d).reverse.foreach(Files.delete)

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  private def files(d: Path): Seq[String] =
    walk(d).filter(Files.isRegularFile(_))
      .map(f => d.relativize(f).toString.replaceAll(uuid, "U")).sorted

  /** Each marker-bearing dir under `d`, with its files. */
  private def complete(d: Path): Map[String, Seq[String]] =
    walk(d).filter(_.getFileName.toString == MarkerProtocol.Marker)
      .map(_.getParent).map(v => d.relativize(v).toString -> files(v)).toMap

  private def isStaging(p: Path) = p.getFileName.toString.startsWith(".tmp-")

  private def staging(d: Path): Seq[Path] = walk(d).filter(isStaging)

  /** What a reader of `d` can see: every file outside staging dirs,
    * with its size. */
  private def visible(d: Path): Seq[String] =
    walk(d).filter(p => Files.isRegularFile(p) &&
        !d.relativize(p).iterator.asScala.exists(isStaging))
      .map(f => s"${d.relativize(f).toString.replaceAll(uuid, "U")} " +
        Files.size(f)).sorted

  private def age(d: Path): Unit = {
    val old = FileTime.fromMillis(
      System.currentTimeMillis() - 2 * Retention.GraceMs)
    staging(d).foreach(Files.setLastModifiedTime(_, old))
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private val noSweep = (_: String) => ()

  /** A family's observable world: its live view, and each live
    * manifest's pinned view. */
  private def world(dir: String, live: String => DataFrame,
      at: (String, Long) => DataFrame): (Set[String], Map[Long, Set[String]]) =
    (rows(live(dir)), SnapshotManifest.live(spark, dir)
      .map { case (id, _) => id -> rows(at(dir, id)) }.toMap)

  /** Crash `op` at every step, on a copy of `start` each time, and
    * check each crash point as the class comment says: the restart
    * re-runs `op`, then `sweep` (the family GC, where the op leaves
    * debris only a GC takes); `pinned` are dirs relative to `start`.
    * Readers are deterministic functions of the files they can see, so
    * a view is computed once per distinct [[visible]] state; and a
    * restart, which deletes staging dirs whole whatever they hold, runs
    * once per distinct visible state and set of staging dir names.
    * Crash points run four at a time, each under its own root.
    * Returns a copy of the state an uninterrupted `op` leaves, before
    * any GC: the next op's start. */
  private def crashEverywhere(name: String, start: Path,
      op: String => Unit, sweep: String => Unit, view: String => AnyRef,
      pinned: Seq[String], between: Seq[AnyRef] = Nil): Path = {
    val seen = new ConcurrentHashMap[Seq[String], AnyRef]()
    val restarts = new ConcurrentHashMap[(Seq[String], Seq[String]), Long]()
    def viewOf(d: Path): AnyRef = {
      val key = visible(d)
      Option(seen.get(key)).getOrElse {
        val v = view(CrashFileSystem.uri(d))
        seen.putIfAbsent(key, v)
        v
      }
    }
    val ref = fresh(name, Some(start))
    val before = viewOf(ref)
    CrashFileSystem.arm(ref, Long.MaxValue)
    op(CrashFileSystem.uri(ref))
    val steps = CrashFileSystem.disarm(ref)
    val after = viewOf(ref)
    val next = fresh(s"${name}_next", Some(ref))
    sweep(CrashFileSystem.uri(ref))
    val want = (viewOf(ref), complete(ref))
    drop(ref)
    assert(steps > 0)
    def point(n: Long): Unit = {
      val dead = fresh(s"${name}_$n", Some(start))
      CrashFileSystem.arm(dead, n)
      Try(op(CrashFileSystem.uri(dead)))
      assert(CrashFileSystem.steps(dead) >= n, s"$name: step $n never came")
      // the restart sees the disk as the crash left it; the crashed
      // root stays armed, so the op's leftover tasks cannot act there
      val d = fresh(s"${name}_${n}_restart", Some(dead))
      drop(dead)
      val dir = CrashFileSystem.uri(d)
      val v = viewOf(d)
      assert(v == before || v == after || between.contains(v),
        s"$name, crash at step $n of $steps: a view neither before nor after")
      pinned.foreach(p => assert(MarkerProtocol.isComplete(s"$dir/$p"),
        s"$name, crash at step $n: pinned $p is not complete"))
      val key = (visible(d), staging(d)
        .map(p => d.relativize(p).toString.replaceAll("-[0-9a-f]{8}$", "")))
      if (restarts.putIfAbsent(key, n) == null) {
        op(dir)
        age(d)
        sweep(dir)
        assert(viewOf(d) == want._1, s"$name, restart after step $n: view differs")
        assert(complete(d) == want._2,
          s"$name, restart after step $n: complete dirs differ")
        assert(staging(d).isEmpty, s"$name, restart after step $n: ${staging(d)}")
      }
      drop(d)
    }
    val pool = Executors.newFixedThreadPool(4)
    try (1L to steps).map(n => pool.submit((() => point(n)): Runnable)).foreach { f =>
      try f.get() catch { case e: ExecutionException => throw e.getCause }
    } finally pool.shutdownNow()
    info(s"$name: $steps crash points, ${restarts.size} restarts")
    next
  }

  private def rel(root: String, dirs: Seq[String]): Seq[String] =
    dirs.map(_.stripPrefix(root + "/"))

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

  private def docs(ins: Seq[Long], del: Seq[Long] = Nil): DataFrame = {
    val s = spark
    import s.implicits._
    (ins.map(i => (i, s"$base family $i", "I")) ++
      del.map(i => (i, null.asInstanceOf[String], "D")))
      .toDF("doc_id", "text", "op")
  }

  private def lshView(dir: String) =
    world(dir, LshIndexStream.index(spark, _), LshIndexStream.indexAt(spark, _, _))

  /** Runs `body` with Spark's log at WARN, since each crash point
    * fails jobs, and reports its wall time. */
  private def matrix(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    spark.sparkContext.setLogLevel("WARN")
    try body finally spark.sparkContext.setLogLevel("INFO")
    info(f"wall ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("LSH: fold, compact and publishSnapshot hold at every crash point") {
    matrix {
      val dd = fresh("lsh")
      val d = CrashFileSystem.uri(dd)
      LshIndexStream.mergeBatch(d)(docs(Seq(1L)), 0L)
      LshIndexStream.mergeBatch(d)(docs(Seq(2L), Seq(1L)), 1L)
      // a pin of the raw batches keeps them through the first compaction
      val old = SnapshotManifest.publish(spark, d, LshIndexStream.pin(d))
      LshIndexStream.compact(spark, d)
      SnapshotManifest.drop(spark, d, old)
      LshIndexStream.mergeBatch(d)(docs(Seq(4L)), 2L)
      val pinned = rel(d, LshIndexStream.resolvePin(d)._2)
      LshIndexStream.publishSnapshot(spark, d)
      val gc = (dir: String) => { LshIndexStream.compact(spark, dir); () }
      val folded = crashEverywhere("lsh_fold", dd,
        LshIndexStream.mergeBatch(_)(docs(Seq(5L)), 3L), noSweep, lshView,
        pinned)
      val collected = crashEverywhere("lsh_gc", folded, gc, noSweep,
        lshView, pinned)
      crashEverywhere("lsh_snapshot", collected,
        dir => { LshIndexStream.publishSnapshot(spark, dir); () }, gc,
        lshView, pinned)
    }
  }

  private def clusterView(dir: String) =
    world(dir, ClusterIndexStream.labels(spark, _),
      ClusterIndexStream.labelsAt(spark, _, _))

  test("Cluster: fold, pruneVersions and publishSnapshot hold at every crash point") {
    matrix {
      val lake = graft.TestTmp.dir("graft_crash_lake_")
      val dd = fresh("cluster")
      val d = CrashFileSystem.uri(dd)
      def batch(ins: Seq[Long]): DataFrame = {
        val b = docs(ins)
        b.write.mode("append").parquet(lake)
        b
      }
      val fold = (b: DataFrame, id: Long) => (dir: String) =>
        ClusterIndexStream.mergeBatch(lake, dir)(b, id)
      fold(batch(Seq(1L)), 0L)(d)
      fold(batch(Seq(2L)), 1L)(d)
      val pinned = rel(d, ClusterIndexStream.resolvePin(d)._2)
      ClusterIndexStream.publishSnapshot(spark, d) // pins version 1
      fold(batch(Seq(3L)), 2L)(d)
      val gc = (dir: String) => ClusterIndexStream.pruneVersions(dir)
      val folded = crashEverywhere("cluster_fold", dd,
        fold(batch(Seq(4L)), 3L), noSweep, clusterView, pinned)
      val collected = crashEverywhere("cluster_gc", folded, gc, noSweep,
        clusterView, pinned)
      crashEverywhere("cluster_snapshot", collected,
        dir => { ClusterIndexStream.publishSnapshot(spark, dir); () }, gc,
        clusterView, pinned)
    }
  }

  /** Id i points along axis i % 8 with an id-dependent wobble. */
  private def vecs(ids: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map { i =>
      val a = Array.fill(8)(0.0f)
      a((i % 8).toInt) = 1.0f
      a(((i + 3) % 8).toInt) = 0.001f * (i % 97)
      (i, a, i % 5)
    }.toDF("vec_id", "embedding", "label")
  }

  private def ivfView(dir: String) =
    world(dir, IvfIndexStream.index(spark, _), IvfIndexStream.indexAt(spark, _, _))

  test("IVF: fold with a drift bump, gc and publishSnapshot hold at every crash point") {
    matrix {
      val dd = fresh("ivf")
      val d = CrashFileSystem.uri(dd)
      IvfIndexStream.mergeBatch(d)(vecs(0L until 4L), 0L)
      // all on axis 0: generation 1 (cover 1) trains on the 16 vectors
      IvfIndexStream.mergeBatch(d)(vecs((1L to 12L).map(_ * 8L)), 1L)
      assert(IvfIndexStream.liveGeneration(d) == 1L)
      val pinned = rel(d, IvfIndexStream.resolvePin(d)._2)
      IvfIndexStream.publishSnapshot(spark, d) // pins generation 1
      // all on axis 1: the fold publishes its batch under generation 1,
      // then bumps to generation 2; a reader may see the batch first
      val skewed = vecs((1L to 12L).map(_ * 8L + 1L))
      val between = fresh("ivf_between", Some(dd))
      IvfIndexStream.mergeBatch(CrashFileSystem.uri(between),
        Long.MaxValue)(skewed, 2L)
      val gc = (dir: String) => IvfIndexStream.gc(dir)
      val folded = crashEverywhere("ivf_fold", dd,
        IvfIndexStream.mergeBatch(_)(skewed, 2L), noSweep, ivfView, pinned,
        Seq(ivfView(CrashFileSystem.uri(between))))
      assert(IvfIndexStream.liveGeneration(CrashFileSystem.uri(folded)) == 2L)
      val collected = crashEverywhere("ivf_gc", folded, gc, noSweep,
        ivfView, pinned)
      crashEverywhere("ivf_snapshot", collected,
        dir => { IvfIndexStream.publishSnapshot(spark, dir); () }, gc,
        ivfView, pinned)
    }
  }
}
