package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q276 (maintained LSH dedup index) invariants: the merge-equivalence
  * contract merge(index(A), signatures(B)) ≡ index(A ∪ B), and the
  * artifact lifecycle (train once, memo and load paths never
  * recompute). Runs on a fresh temp fixture so the artifact is built
  * (not loaded from a previous test run's warehouse) every time. */
class LshIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** 24 docs: 3 exact-duplicate families, near-dups (one word off),
    * a <5-word doc (no 5-gram identity), and a NULL text — spread
    * across both shards (doc_id % 4). */
  private lazy val fixtureDir: String = {
    import spark.implicits._
    val tmp = graft.TestTmp.dir("graft_lshidx_fixture_")
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (0L until 20L).map { i =>
      val text = i % 3 match {
        case 0 => base + " family zero"
        case 1 => base + s" family one variant ${i % 2}"
        case _ => s"completely unrelated content number $i with many words here"
      }
      (i, text)
    } ++ Seq(
      (20L, "tiny doc"), // <5 words: no shingles, no signature
      (21L, null.asInstanceOf[String]), // null text: no signature
      (22L, base + " family zero"), // exact dup landing in shard B (22%4=2... history)
      (23L, base + " family zero")) // exact dup in shard B (23%4=3)
    docs.map { case (id, text) =>
      (id, text, "en", "s1",
        Option(text).map(_.length.toLong).getOrElse(0L))
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    tmp
  }

  private def docs() =
    spark.read.parquet(s"$fixtureDir/documents.parquet")

  test("merge-equivalence: merge(index(A), sigs(B)) == index(A ∪ B) as row sets") {
    def rowSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "h", "band_idx", "bh").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).toSet
    LshIndexQueries.resetMemoForTest()
    graft.TestTmp.register(
      LshIndexQueries.artifactPath(spark, fixtureDir, "hist"))
    graft.TestTmp.register(
      LshIndexQueries.artifactPath(spark, fixtureDir, "merged"))
    val merged = rowSet(LshIndexQueries.mergedIndex(spark, fixtureDir)())
    val scratch = rowSet(LshIndexQueries.signatures(docs()))
    assert(merged == scratch,
      s"diff: ${(merged.diff(scratch) ++ scratch.diff(merged)).take(5)}")
    assert(merged.nonEmpty)
    // docs without a 5-gram identity or text carry no signature rows
    assert(!merged.exists(r => r._1 == 20L || r._1 == 21L))
    // every signatured doc carries exactly 4 band rows
    merged.groupBy(_._1).foreach { case (id, rows) =>
      assert(rows.size == 4, s"doc $id has ${rows.size} band rows")
    }
  }

  test("deletion: index ⊖ tombstones == signatures(surviving) as row sets") {
    def rowSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "h", "band_idx", "bh").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).toSet
    LshIndexQueries.resetMemoForTest()
    graft.TestTmp.register(
      LshIndexQueries.artifactPath(spark, fixtureDir, "hist"))
    graft.TestTmp.register(
      LshIndexQueries.artifactPath(spark, fixtureDir, "merged"))
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.col
    // tombstone one exact-dup replica (its siblings keep the content)
    // and one whole singleton doc — signature rows are per-doc pure,
    // so repair is a bare anti-join, no text ever re-read
    val tombs = Seq(12L, 17L).toDF("doc_id")
    val repaired = rowSet(LshIndexQueries.mergedIndex(spark, fixtureDir)()
      .join(tombs, Seq("doc_id"), "left_anti"))
    val scratch = rowSet(LshIndexQueries.signatures(
      docs().filter(!col("doc_id").isin(12L, 17L))))
    assert(repaired == scratch,
      s"diff: ${(repaired.diff(scratch) ++ scratch.diff(repaired)).take(5)}")
    assert(repaired.nonEmpty)
  }

  test("artifact lifecycle: one build per shard artifact; memo and load paths identical") {
    LshIndexQueries.resetMemoForTest()
    val before = LshIndexQueries.buildCount.get()
    val first = LshIndexQueries.mergedIndex(spark, fixtureDir)()
      .collect().map(_.toString).sorted
    // hist + merged were published by the previous test — this
    // fresh-memo call must LOAD both, never rebuild
    assert(LshIndexQueries.buildCount.get() == before,
      "artifact load path retrained")
    val again = LshIndexQueries.mergedIndex(spark, fixtureDir)()
      .collect().map(_.toString).sorted
    assert(LshIndexQueries.buildCount.get() == before,
      "memo path retrained")
    assert(first.sameElements(again))
    assert(first.nonEmpty)
  }

  test("exact-duplicate family collides in every band; unrelated docs share no bucket") {
    val sigs = LshIndexQueries.signatures(docs())
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("band_idx"), r.getAs[String]("bh")))
    // family zero (0,3,6,...,18,22,23) all share identical text →
    // identical signatures in all 4 bands
    val famZero = sigs.filter(s => s._1 % 3 == 0 && s._1 < 20 || s._1 >= 22)
    (0L until 4L).foreach { b =>
      val hashes = famZero.filter(_._2 == b).map(_._3).toSet
      assert(hashes.size == 1, s"band $b: family-zero split into $hashes")
    }
    // unrelated docs (i % 3 == 2, all distinct content) never collide
    // with family zero
    val famZeroBh = famZero.map(s => (s._2, s._3)).toSet
    val unrelated = sigs.filter(s => s._1 % 3 == 2 && s._1 < 20)
    assert(!unrelated.exists(s => famZeroBh((s._2, s._3))),
      "an unrelated doc collided with the exact-dup family")
  }

  test("an aged staging dir beside a complete artifact goes with the next loadOrBuildParts") {
    import java.nio.file.{Files, Paths}
    val root = graft.TestTmp.dir("graft_wh_debris_")
    def load() = LshIndexQueries.loadOrBuildParts(spark, s"$root/artifact",
      Seq("rows"), () => Map("rows" -> spark.range(3).toDF()))
    LshIndexQueries.resetMemoForTest()
    assert(load()("rows")().count() == 3)
    // a failed write's straggler re-created its staging dir an hour
    // ago, well past the grace; a fresh one may be an in-flight racer
    val aged = Paths.get(root, ".tmp-artifact-aged0000", "rows")
    val fresh = Paths.get(root, ".tmp-artifact-fresh000")
    Files.createDirectories(aged)
    Files.createDirectories(fresh)
    Files.setLastModifiedTime(aged.getParent, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 60 * 60 * 1000L))
    LshIndexQueries.resetMemoForTest()
    val before = LshIndexQueries.buildCount.get()
    assert(load()("rows")().count() == 3)
    assert(LshIndexQueries.buildCount.get() == before, "a complete artifact was rebuilt")
    assert(!Files.exists(aged.getParent), "aged staging debris survived")
    assert(Files.exists(fresh), "a fresh staging dir was swept")
  }
}
