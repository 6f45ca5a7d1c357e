package graft.streaming

import java.io.OutputStreamWriter
import java.nio.charset.Charset
import java.nio.file.Files
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's ingest pipeline (stages 1-2) re-expressed as one
  * Structured Streaming query.
  *
  * Reference shape: a Kafka consumer buffers 2,000 JSON messages in a
  * Python list and flushes each buffer as `batch_<n>.csv`, with the final
  * partial batch flushed on a 90 s idle timeout
  * (batch_writer_consumer.py:8,40-88). Spark-natively that is:
  * source -> writeStream.foreachBatch(csv writer with
  * maxRecordsPerFile=2000) with Trigger.AvailableNow (drain-everything-
  * then-stop — the idiomatic equivalent of "consume until idle"), and
  * exactly-once output via the checkpoint plus an overwriting publish
  * of each batch, instead of consumer-group offset commits.
  *
  * The Kafka wiring (S2/S3) is behind options because CI has no broker;
  * `MemoryStream`/file sources drive the same pipeline in tests.
  */
object BatchWriter {

  /** Count-batched CSV sink: every micro-batch is written as header'd
    * CSV files of at most `batchSize` rows (reference:
    * batch_writer_consumer.py:63-69 enforced 2,000-row files), in its
    * own `batch=<id>` subdirectory. Readers see one table via a
    * recursive/glob directory read, same as the reference's
    * `data/batches/` scan (spark_model_trainer.py:190).
    *
    * A batch whose plan-statistics size is within
    * `spark.sql.autoBroadcastJoinThreshold`, bound for a local
    * `outDir`, is collected once and its files are written on the
    * driver by Spark's own CSV generator, with no write job or file
    * commit; the dir is published through [[MarkerProtocol]]
    * (`overwrite = true`). Any other batch — above the gate, of unknown
    * size, or bound elsewhere — goes through Spark's CSV writer with
    * mode=overwrite, which is also the byte-parity oracle of the
    * driver path.
    *
    * Exactly-once comes from the checkpoint plus that overwrite: a
    * batch retried after a crash (output on disk, commit missing)
    * replaces its own `batch=<id>` dir instead of appending, and a
    * crash before the publish leaves only a dot-prefixed staging dir,
    * which file readers skip. (An append-mode write here would only be
    * at-least-once.) */
  def writeCountBatches(
      source: DataFrame,
      outDir: String,
      batchSize: Int = 2000): StreamingQuery = {
    val spark = source.sparkSession
    val local = NioCheckpointFileManager.isLocalPath(new Path(outDir),
      spark.sparkContext.hadoopConfiguration)
    val writeBatch: (Dataset[Row], Long) => Unit = (batch, batchId) => {
      val target = s"$outDir/batch=$batchId"
      if (local && fitsDriver(batch)) writeOnDriver(batch, target, batchSize)
      else batch.coalesce(1).write
        .mode("overwrite")
        .options(CsvWrite)
        .option("maxRecordsPerFile", batchSize)
        .csv(target)
    }
    StreamStart(spark, source.writeStream
      .foreachBatch(writeBatch)
      .trigger(Trigger.AvailableNow()), s"$outDir/_checkpoint")
  }

  /** The CSV options of both write paths. */
  private val CsvWrite = Map("header" -> "true")

  /** Whether the batch's estimated size is within the broadcast
    * threshold; reading the plan statistics runs no job, and an
    * unknown size reads as larger than any threshold. */
  private def fitsDriver(batch: DataFrame): Boolean = {
    val limit = batch.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    limit >= 0 && batch.queryExecution.optimizedPlan.stats.sizeInBytes <= limit
  }

  /** The Spark writer's output for `batch` under `target`, written on
    * the driver: one `part-00000-<uuid>-c<nnn>.csv` per `batchSize`
    * rows (one header-only file for an empty batch, as the writer's
    * first task makes), each through the writer's own CSV generator
    * and options. */
  private def writeOnDriver(batch: DataFrame, target: String,
      batchSize: Int): Unit = {
    val conf = batch.sparkSession.sessionState.conf
    val opts = new CSVOptions(CsvWrite, conf.csvColumnPruning,
      conf.sessionLocalTimeZone)
    val schema = batch.schema
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val rows = batch.collect()
    val files =
      if (rows.isEmpty) Iterator(rows)
      else rows.grouped(if (batchSize > 0) batchSize else rows.length)
    val job = UUID.randomUUID()
    MarkerProtocol.publish(batch.sparkSession, target, overwrite = true) { tmp =>
      val dir = Files.createDirectories(NioCheckpointFileManager.local(tmp))
      files.zipWithIndex.foreach { case (chunk, i) =>
        val gen = new UnivocityGenerator(schema, new OutputStreamWriter(
          Files.newOutputStream(dir.resolve(f"part-00000-$job-c$i%03d.csv")),
          Charset.forName(opts.charset)), opts)
        try {
          if (opts.headerFlag) gen.writeHeaders()
          chunk.foreach(r => gen.write(toInternal(r).asInstanceOf[InternalRow]))
        } finally gen.close()
      }
      true
    }
  }

  /** Kafka JSON source (reference: batch_writer_consumer.py:26-33 —
    * subscribe, earliest offsets, JSON-deserialize values). Requires a
    * live broker; parse with `from_json(value, schema)` downstream. */
  def kafkaJsonSource(
      spark: SparkSession,
      servers: String,
      topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(col("value").cast("string").as("json"),
        col("timestamp").as("kafka_ts"))

  /** Kafka JSON sink (reference: producer.py:26-31,89-94 — dict -> JSON
    * bytes with linger_ms=10, batch_size=32768). */
  def kafkaJsonSink(
      df: DataFrame,
      servers: String,
      topic: String,
      checkpoint: String): StreamingQuery =
    StreamStart(df.sparkSession, df
      .select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("kafka.linger.ms", "10")
      .option("kafka.batch.size", "32768")
      .trigger(Trigger.AvailableNow()), checkpoint)
}
