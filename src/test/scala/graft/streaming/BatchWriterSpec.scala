package graft.streaming

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestTmp
import graft.ml.FoodSchema
import graft.sources.Ingest

/** `BatchWriter.writeCountBatches`' driver-written batches against the
  * Spark CSV writer they replace below the size gate: the same bytes,
  * the same rows read back, and a crash before a publish that no
  * reader sees. */
class BatchWriterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** Streams the files of `src` one per trigger into `out`: with the
    * broadcast threshold off every batch takes the Spark writer. */
  private def ingest(src: String, format: String, schema: StructType,
      out: String, sparkWriter: Boolean): Unit = {
    val prev = spark.conf.get(Threshold)
    if (sparkWriter) spark.conf.set(Threshold, "-1")
    try BatchWriter.writeCountBatches(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).format(format).load(src), out)
      .awaitTermination()
    finally spark.conf.set(Threshold, prev)
  }

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }

  /** batch dir -> its CSV files' bytes, in file-name order. */
  private def csvs(out: String): Map[String, Seq[String]] =
    list(Paths.get(out)).filter(_.getFileName.toString.startsWith("batch="))
      .map(d => d.getFileName.toString -> list(d)
        .filter(_.getFileName.toString.endsWith(".csv"))
        .map(f => new String(Files.readAllBytes(f), ISO_8859_1)))
      .toMap

  private def has(out: String, name: String): Seq[Boolean] =
    list(Paths.get(out)).filter(_.getFileName.toString.startsWith("batch="))
      .map(d => Files.exists(d.resolve(name)))

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Writes both ways and checks bytes, read-back rows and the path
    * each run took; returns the driver-written dir. */
  private def parity(src: String, format: String, schema: StructType,
      batches: Int): String = {
    val viaSpark = TestTmp.dir("graft_bw_spark_")
    val viaDriver = TestTmp.dir("graft_bw_driver_")
    ingest(src, format, schema, viaSpark, sparkWriter = true)
    ingest(src, format, schema, viaDriver, sparkWriter = false)
    val (s, d) = (csvs(viaSpark), csvs(viaDriver))
    assert(d.size == batches && d.keySet == s.keySet)
    s.keys.foreach { b =>
      assert(d(b).size == s(b).size, s"$b file count")
      d(b).zip(s(b)).zipWithIndex.foreach { case ((x, y), i) =>
        assert(x == y, s"$b file $i differs") }
    }
    // a file-source batch takes the driver path: no file commit, a marker
    assert(has(viaDriver, "_SUCCESS").forall(!_))
    assert(has(viaDriver, MarkerProtocol.Marker).forall(identity))
    assert(has(viaSpark, "_SUCCESS").forall(identity))
    assert(sameRows(Ingest.readCsvWithFallback(spark, viaSpark, schema),
      Ingest.readCsvWithFallback(spark, viaDriver, schema)))
    viaDriver
  }

  private def stamp(f: Path, i: Int): Unit =
    Files.setLastModifiedTime(f, FileTime.fromMillis(1000000L + i * 1000L))

  private def foodFiles(src: String, sizes: Seq[Int]): Unit = {
    val rng = new Random(911)
    var n = 0
    sizes.zipWithIndex.foreach { case (size, i) =>
      val lines = (0 until size).map { _ =>
        n += 1
        FoodSchema.numericCols.map(c =>
          s""""$c":${math.round(rng.nextDouble() * 50000) / 100.0}""")
          .:+(s""""description":"Food ${rng.nextInt(20)}, style ${n % 7} #$n"""")
          .mkString("{", ",", "}")
      }
      val f = Paths.get(src, f"part-$i%05d.json")
      Files.write(f, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      stamp(f, i)
    }
  }

  test("seeded food batches: driver-written files are byte-equal to the Spark writer's") {
    val src = TestTmp.dir("graft_bw_food_")
    foodFiles(src, Seq(2000, 2000, 1234))
    val out = parity(src, "json", FoodSchema.schema, 3)
    assert(Ingest.readCsvWithFallback(spark, out, FoodSchema.schema).count() == 5234)
  }

  private val nastySchema = StructType(Seq(
    StructField("id", LongType), StructField("s", StringType),
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("ts", TimestampType), StructField("dt", DateType),
    StructField("dec", DecimalType(12, 3))))

  private val nastyStrings = IndexedSeq("plain", "a,b,c", "say \"hi\"",
    "line1\nline2", "cr\r\nlf", null, "", "  padded  ",
    "ünïcødé ✓ 日本語 🚀", "\"", "tab\tsep", "#not a comment", "back\\slash",
    ",", "\"\"", "trailing,")
  private val nastyDoubles = IndexedSeq(1.5, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 1e-300,
    Double.MaxValue, 0.1 + 0.2)

  private def nastyRow(i: Int): Row = Row(i.toLong,
    nastyStrings(i % nastyStrings.size),
    if (i % 11 == 5) null else nastyDoubles(i % nastyDoubles.size),
    if (i % 5 == 0) Float.NaN else i / 7.0f,
    if (i % 9 == 4) null else new Timestamp(1700000000000L + i * 123457L),
    if (i % 13 == 6) null else Date.valueOf("2024-02-29"),
    if (i % 17 == 8) null else new java.math.BigDecimal(s"${i - 50}.125"))

  /** One parquet file per batch, in this order, under `src`. */
  private def parquetFiles(src: String, batches: Seq[Seq[Row]]): Unit =
    batches.zipWithIndex.foreach { case (rows, i) =>
      val tmp = TestTmp.dir("graft_bw_part_") + "/p"
      spark.createDataFrame(rows.asJava, nastySchema).coalesce(1)
        .write.parquet(tmp)
      val part = list(Paths.get(tmp))
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val f = Files.move(part, Paths.get(src, f"f$i%03d.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      stamp(f, i)
    }

  test("quotes, commas, newlines, NULL, NaN, ±Infinity, non-ASCII, an empty batch and a 2000/2000/500 split: byte-equal") {
    val src = TestTmp.dir("graft_bw_nasty_")
    parquetFiles(src, Seq((0 until 64).map(nastyRow), Nil,
      (0 until 4500).map(nastyRow)))
    val out = parity(src, "parquet", nastySchema, 3)
    // the empty batch is one header-only file, as the Spark writer's
    // first task makes
    assert(csvs(out)("batch=1") == Seq("id,s,d,f,ts,dt,dec\n"))
    val perFile = list(Paths.get(s"$out/batch=2"))
      .filter(_.getFileName.toString.endsWith(".csv"))
      .map(f => spark.read.option("header", "true").option("multiLine", "true")
        .schema(nastySchema).csv(f.toString).count())
    assert(perFile == Seq(2000L, 2000L, 500L))
  }

  test("a crash between write and publish leaves no batch read twice or half; the retry publishes it once") {
    val src = TestTmp.dir("graft_bw_crash_")
    foodFiles(src, Seq(2000, 2000, 1234))
    val out = TestTmp.dir("graft_bw_crash_out_")
    ingest(src, "json", FoodSchema.schema, out, sparkWriter = false)
    def rows() = Ingest.readCsvWithFallback(spark, out, FoodSchema.schema)
    assert(rows().count() == 5234)
    // the state a crash after batch 2's files were staged leaves: the
    // staged dir without its marker (and a second, half-written one),
    // no published batch=2, no commit for batch 2
    val batch2 = Paths.get(out, "batch=2")
    val staged = Paths.get(out, ".tmp-batch=2-crashed0")
    Files.move(batch2, staged)
    Files.delete(staged.resolve(MarkerProtocol.Marker))
    val half = Files.createDirectories(Paths.get(out, ".tmp-batch=2-crashed1"))
    val part = list(staged).find(_.getFileName.toString.endsWith(".csv")).get
    val bytes = Files.readAllBytes(part)
    Files.write(half.resolve(part.getFileName), bytes.take(bytes.length / 2))
    Files.delete(Paths.get(out, "_checkpoint", "commits", "2"))
    assert(rows().count() == 4000)
    // the restart re-runs batch 2 and sweeps the debris
    ingest(src, "json", FoodSchema.schema, out, sparkWriter = false)
    assert(rows().count() == 5234)
    assert(rows().select(FoodSchema.descriptionCol).distinct().count() == 5234)
    assert(list(Paths.get(out)).forall(!_.getFileName.toString.startsWith(".tmp-")))
  }
}
