package graft.tools

import org.apache.spark.sql.SparkSession

/** The one session, recycle and release path of the harness mains
  * (Bench, Verify, Explain, JobTrace, ScaleBench).
  *
  * Recycling: the registry holds 290+ mutually unrelated workloads, and
  * one long-lived local context accumulates cross-query residue a real
  * deployment never sees in one app: stopped streaming queries'
  * state-store providers and their maintenance threads, memory-sink
  * tables, listener-bus state. That residue was measured to inflate
  * later job-heavy queries (the ML cumulative trainer: 5 s fresh vs
  * 86 s after ~100 queries). A new session every [[RecycleEvery]]
  * queries stops those services and empties the block manager while
  * the JVM, its JIT and the global codegen cache stay warm.
  *
  * Spill read-ahead is off on a big fixture only. Its buffers are
  * allocated inside JNI critical regions, and under many heavily
  * spilling tasks those regions starve the JDK-17 G1 GCLocker
  * ("Retried waiting for GCLocker too often", a spurious OOM at the
  * ×100 fixture). At sf0.1, where spills are small, the same
  * read-ahead measurably helps the spill-heavy dedup queries (q113
  * 2.82 → 1.89 s, q163 3.87 → 2.99 s; SCALE.md "Round-16 floor
  * attribution"). `spark.buffer.pageSize` keeps Spark's default: a
  * 2 MB pin made q247's big hash relations fail to allocate pages.
  * The companion JVM flag, `-XX:GCLockerRetryAllocationCount=64`, is
  * in build.sbt and tools/run_direct.sh.
  */
final class Runner(sfDir: String, fresh: SparkSession => Unit = _ => ()) {
  private var spark = Runner.session(sfDir)
  private var uses = 0
  fresh(spark)

  /** The session in use. */
  def current: SparkSession = spark

  /** The session for the next query: a new one, after `fresh` has run
    * on it, once the current one has served [[Runner.RecycleEvery]]. */
  def next(): SparkSession = {
    if (uses >= Runner.RecycleEvery) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      spark = Runner.session(sfDir)
      fresh(spark)
      uses = 0
    }
    uses += 1
    spark
  }

  def stop(): Unit = spark.stop()
}

object Runner {

  val RecycleEvery = 40

  /** Local parallelism and shuffle width, a deployment setting. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The fixture directory of the mains that take it from the
    * environment (Bench, JobTrace), a deployment setting. */
  def envSfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Fixture size above which a fixture is big: the ×100 fixture is
    * ~1.6 GB and sf0.1 ~18 MB, so the big-spill regime sits orders of
    * magnitude above the floor fixtures. */
  private val BigFixtureBytes = 256L * 1024 * 1024

  def isBigFixture(sfDir: String): Boolean = {
    // a full recursive walk: a nested or partitioned fixture measured
    // by a one-level listing would read as small
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(walk).sum)
      else f.length()
    try walk(new java.io.File(sfDir)) > BigFixtureBytes
    catch { case _: Throwable => false }
  }

  /** A harness session that will read `sfDir`. */
  def session(sfDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.unsafe.sorter.spill.read.ahead.enabled",
        (!isBigFixture(sfDir)).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The between-query cleanup: registry queries are independent, so
    * each run's PrefixPass caches, persisted and checkpointed blocks,
    * cached plans and `graft_*` memory-sink views go before the next.
    * Without it ~80 queries' checkpoint blocks accumulated in storage
    * memory and later queries ran execution-memory-starved (3-5×
    * slower on the heavy text queries). The unpersist blocks: with a
    * non-blocking one the next query allocated while the previous
    * one's multi-GB checkpoint blocks were still draining, the q245 →
    * q247 out-of-memory at ×100. */
  def release(spark: SparkSession): Unit = {
    graft.operators.PrefixPass.releaseAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.sharedState.cacheManager.clearCache()
    try spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    catch { case _: Throwable => () }
  }
}
