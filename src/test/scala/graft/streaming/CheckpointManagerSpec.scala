package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestTmp

/** The java.nio checkpoint manager against the FileContext manager it
  * replaces for `file:` paths: atomic no-overwrite exposure, overwrite
  * over a checksummed file, and checkpoints that change manager
  * between runs. */
class CheckpointManagerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val conf = new Configuration()
  private def nio(dir: String) = new NioCheckpointFileManager(new Path(dir), conf)
  private def default(dir: String) = CheckpointFileManager.create(new Path(dir), conf)

  private def put(fm: CheckpointFileManager, p: Path, s: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    try { out.write(s.getBytes(UTF_8)); out.close() }
    catch { case t: Throwable => out.cancel(); throw t }
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("a no-overwrite create fails atomically when the target exists, also under a race") {
    val dir = TestTmp.dir("graft_ckfm_race_")
    val fm = nio(dir)
    val first = new Path(s"$dir/0")
    put(fm, first, "a", overwrite = false)
    intercept[FileAlreadyExistsException](put(fm, first, "b", overwrite = false))
    assert(read(fm, first) == "a")
    assert(Files.list(Paths.get(dir)).count() == 1, "a temp file was left")

    // racing writers of one target: exactly one wins each round and the
    // target holds its bytes; a check-then-move lets two writers win
    val writers = 6
    val pool = Executors.newFixedThreadPool(writers)
    try (1 to 40).foreach { round =>
      val target = new Path(s"$dir/r$round")
      val barrier = new CyclicBarrier(writers)
      val results = (0 until writers).map { w =>
        pool.submit(new Callable[Try[Int]] {
          def call(): Try[Int] = {
            val out = fm.createAtomic(target, false)
            out.write(s"w$w".getBytes(UTF_8))
            barrier.await(10, TimeUnit.SECONDS)
            val closed = Try(out.close())
            if (closed.isFailure) out.cancel()
            closed.map(_ => w)
          }
        })
      }.map(_.get(30, TimeUnit.SECONDS))
      val winners = results.collect { case scala.util.Success(w) => w }
      assert(winners.size == 1, s"round $round: $results")
      assert(results.forall(r => r.isSuccess ||
        r.failed.get.isInstanceOf[FileAlreadyExistsException]), results)
      assert(read(fm, target) == s"w${winners.head}")
    } finally pool.shutdownNow()
    assert(Files.list(Paths.get(dir)).filter(_.getFileName.toString
      .endsWith(".tmp")).count() == 0, "a temp file was left")
  }

  test("an overwrite replaces a checksummed target and deletes its stale .crc") {
    val dir = TestTmp.dir("graft_ckfm_crc_")
    val p = new Path(s"$dir/1.delta")
    put(default(dir), p, "old content", overwrite = false)
    val crc = Paths.get(dir, ".1.delta.crc")
    assert(Files.exists(crc), "the default manager writes a checksum shadow")
    put(nio(dir), p, "new", overwrite = true)
    assert(!Files.exists(crc))
    assert(read(nio(dir), p) == "new")
    // the default manager verifies checksums on read: a stale one fails
    assert(read(default(dir), p) == "new")
    // listing hides checksum files, as ChecksumFs does
    put(default(dir), new Path(s"$dir/2.delta"), "x", overwrite = false)
    assert(nio(dir).list(new Path(dir)).map(_.getPath.getName).sorted.toSeq ==
      Seq("1.delta", "2.delta"))
    nio(dir).delete(new Path(s"$dir/2.delta"))
    assert(!Files.exists(Paths.get(dir, ".2.delta.crc")))
    intercept[java.io.FileNotFoundException](nio(dir).open(new Path(s"$dir/9")))
    intercept[java.io.FileNotFoundException](nio(dir).list(new Path(s"$dir/none")))
  }

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("v", StringType)))

  /** JSON-lines file `name` holding `ids`. */
  private def addFile(src: String, name: String, ids: Range): Unit = {
    val f = Paths.get(src, name)
    Files.write(f, ids.map(i => s"""{"id":$i,"v":"v$i"}""")
      .mkString("", "\n", "\n").getBytes(UTF_8))
    // the file source orders by modification time
    Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
      .fromMillis(1000000L + name.filter(_.isDigit).toLong * 1000))
  }

  /** A dedup stream (its state lives in the checkpoint) of `src`. */
  private def deduped(src: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .json(src).dropDuplicates("id")

  /** The same query and output layout as `BatchWriter`, started with
    * Spark's default checkpoint manager. */
  private def runDefault(src: String, out: String): Unit = {
    val writeBatch: (Dataset[Row], Long) => Unit = (b, id) =>
      b.coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$out/batch=$id")
    deduped(src).writeStream.foreachBatch(writeBatch)
      .option("checkpointLocation", s"$out/_checkpoint")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
  }

  private def runNio(src: String, out: String): Unit =
    BatchWriter.writeCountBatches(deduped(src), out).awaitTermination()

  private def ids(out: String): Seq[Long] =
    spark.read.option("header", "true").schema(schema).csv(out)
      .collect().map(_.getLong(0)).toSeq

  private def crcs(out: String, log: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(out, "_checkpoint", log)).iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".crc")).toSet
  }

  for (defaultFirst <- Seq(true, false)) {
    val (a, b) = if (defaultFirst) ("default", "nio") else ("nio", "default")
    test(s"a checkpoint begun under the $a manager resumes under the $b one, without duplicate output") {
      def run(default: Boolean)(src: String, out: String): Unit =
        if (default) runDefault(src, out) else runNio(src, out)
      val src = TestTmp.dir("graft_ckfm_src_")
      val out = TestTmp.dir("graft_ckfm_out_")
      addFile(src, "f0.json", 0 until 100)
      addFile(src, "f1.json", 50 until 150)
      run(defaultFirst)(src, out)
      assert(ids(out).sorted == (0L until 150L))
      addFile(src, "f2.json", 100 until 200)
      addFile(src, "f3.json", 0 until 250)
      run(!defaultFirst)(src, out)
      // the dedup state carried over: every id once, none twice
      assert(ids(out).sorted == (0L until 250L))
      // each leg's log entries, the file source's own log included, were
      // written by that leg's manager: only the default one leaves
      // checksum shadows
      for (log <- Seq("offsets", "commits", "sources/0"))
        assert(crcs(out, log) == (if (defaultFirst) Set(".0.crc", ".1.crc")
          else Set(".2.crc", ".3.crc")), log)
    }
  }
}
