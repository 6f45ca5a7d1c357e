package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{Queries, Tables, TestTextRef}

/** Brute-force mirror of the BPE training loop (q242), the apply pass
  * (q243) and the packing conservation invariant (q244). The mirror
  * implements the REFERENCE greedy merge scan symbol-by-symbol —
  * independently of the engine's wrapped-string `replace` encoding —
  * so agreement proves the replace trick IS the greedy BPE rewrite
  * (including the overlapping-pair case "a a a" -> [aa, a]). */
class BpeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def q(n: String) = Queries.registry.find(_.name == n).get

  /** UTF-8 byte order (= code-point order) — the engines' string
    * comparison contract; Scala's String.compareTo is UTF-16-unit
    * based and diverges above the BMP. */
  private def ltUtf8(a: String, b: String): Boolean = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  private def codePointSymbols(word: String): Vector[String] =
    word.codePoints().toArray.toVector
      .map(cp => new String(Character.toChars(cp))) :+ "</w>"

  /** The reference greedy merge scan: leftmost-first, non-overlapping,
    * merged output never re-paired with the next symbol in-round. */
  private def mergeOnce(s: Vector[String], l: String, r: String)
      : Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += s(i); i += 1 }
    }
    out.result()
  }

  /** Mirror trainer: returns (merges, final word->symbols). */
  private def refTrain(wc: Map[String, Long], nMerges: Int)
      : (Seq[(String, String, Long)], Map[String, Vector[String]]) = {
    var seqs: Map[String, Vector[String]] =
      wc.map { case (w, _) => w -> codePointSymbols(w) }
    val merges = Seq.newBuilder[(String, String, Long)]
    for (_ <- 1 to nMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, syms) <- seqs; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + wc(w)
      if (counts.nonEmpty) {
        // argmax by (cnt desc, l asc, r asc) in UTF-8 byte order
        val best = counts.toSeq.reduceLeft { (a, b) =>
          val ((al, ar), ac) = a; val ((bl, br), bc) = b
          if (bc > ac) b
          else if (bc < ac) a
          else if (ltUtf8(bl, al)) b
          else if (ltUtf8(al, bl)) a
          else if (ltUtf8(br, ar)) b
          else a
        }
        val ((bl, br), bcnt) = best
        merges += ((bl, br, bcnt))
        seqs = seqs.map { case (w, s) => w -> mergeOnce(s, bl, br) }
      }
    }
    (merges.result(), seqs)
  }

  private def fixtureWc(): Map[String, Long] = {
    import org.apache.spark.sql.functions.col
    Tables.load(Tables.tuned(spark), dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .flatMap(r => Option(r.getString(1)).toSeq)
      .flatMap(t => TestTextRef.words(t).filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
  }

  test("q242 merge table and symbol vocabulary match the greedy reference mirror") {
    val wc = fixtureWc()
    val (refMerges, refSeqs) = refTrain(wc, 20)
    val rows = q("q242_bpe_train").build(spark, dir).collect()
    val gotMerges = rows.filter(_.getAs[String]("kind") == "merge")
      .sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"),
        r.getAs[Long]("freq")))
    assert(gotMerges.length == 20, s"expected 20 merges, got ${gotMerges.length}")
    assert(gotMerges.toSeq == refMerges,
      s"merge tables diverge:\n got $gotMerges\n ref $refMerges")
    // merged tokens are multi-symbol; at least one full-word token
    // (ending in </w>) should appear within 20 merges on this corpus
    assert(gotMerges.exists(_._3 > 1L))
    val refSym = scala.collection.mutable.Map.empty[String, Long]
    for ((w, syms) <- refSeqs; s <- syms)
      refSym(s) = refSym.getOrElse(s, 0L) + wc(w)
    val gotSym = rows.filter(_.getAs[String]("kind") == "symbol")
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("freq")).toMap
    assert(gotSym == refSym.toMap,
      s"symbol vocab diverges (got ${gotSym.size}, ref ${refSym.size})")
    // rank/left/right are NULL exactly on symbol rows
    rows.foreach { r =>
      val isMerge = r.getAs[String]("kind") == "merge"
      assert((r.getAs[Any]("rank") != null) == isMerge)
      assert((r.getAs[String]("left") != null) == isMerge)
    }
  }

  test("q243 per-doc BPE token counts match the mirror; corpus fully covered") {
    val wc = fixtureWc()
    val (_, refSeqs) = refTrain(wc, 20)
    val nTok: Map[String, Long] =
      refSeqs.map { case (w, s) => w -> s.length.toLong }
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(Tables.tuned(spark), dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    val rows = q("q243_bpe_token_counts").build(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (Option(r.getAs[Any]("n_words")), Option(r.getAs[Any]("n_bpe_tokens"))))
      .toMap
    assert(rows.size == docs.length, "one row per document, always")
    docs.foreach { case (id, textOpt) =>
      val ws = textOpt.map(TestTextRef.words(_).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
      val (gotW, gotT) = rows(id)
      if (ws.isEmpty) {
        assert(gotW.isEmpty && gotT.isEmpty,
          s"doc $id has no tokenizable words but counts $gotW/$gotT")
      } else {
        assert(gotW.contains(ws.length.toLong), s"doc $id n_words")
        assert(gotT.contains(ws.map(nTok).sum), s"doc $id n_bpe_tokens")
      }
    }
  }

  test("q244 packs conserve q243's total token mass; packs full except the last") {
    val packs = q("q244_bpe_packing").build(spark, dir).collect()
    val packTotal = packs.map(_.getAs[Long]("n_tokens")).sum
    val docTotal = q("q243_bpe_token_counts").build(spark, dir).collect()
      .flatMap(r => Option(r.getAs[Any]("n_bpe_tokens")).map(_.asInstanceOf[Long]))
      .sum
    assert(packTotal == docTotal,
      s"pack mass $packTotal != per-doc mass $docTotal")
    // pack ids are the contiguous prefix range 0..P-1
    val ids = packs.map(_.getAs[Long]("pack_id")).sorted
    assert(ids.sameElements(ids.indices.map(_.toLong)), "pack ids not contiguous")
  }

  test("q246 per-source compression/fertility matches the mirror in exact micro-units") {
    val wc = fixtureWc()
    val (_, refSeqs) = refTrain(wc, 20)
    val nTok: Map[String, Long] =
      refSeqs.map { case (w, s) => w -> s.length.toLong }
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(Tables.tuned(spark), dir, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), Option(r.getString(1))))
    val agg = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    docs.foreach { case (src, textOpt) =>
      val ws = textOpt.map(TestTextRef.words(_).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
      if (ws.nonEmpty) {
        val (a, b, c) = agg.getOrElse(src, (0L, 0L, 0L))
        agg(src) = (a + ws.length,
          b + ws.map(w => w.codePointCount(0, w.length).toLong).sum,
          c + ws.map(nTok).sum)
      }
    }
    def micro(a: Long, b: Long): Long =
      (a / b) * 1000000L + ((a % b) * 1000000L) / b
    val rows = q("q246_bpe_compression").build(spark, dir).collect()
    assert(rows.length == agg.size, "one row per source with tokenizable words")
    rows.foreach { r =>
      val s = r.getAs[String]("source")
      val (nw, nc, nt) = agg(s)
      assert(r.getAs[Long]("n_words") == nw, s"$s n_words")
      assert(r.getAs[Long]("n_chars") == nc, s"$s n_chars")
      assert(r.getAs[Long]("n_bpe_tokens") == nt, s"$s n_bpe_tokens")
      assert(r.getAs[Long]("chars_per_tok_micro") == micro(nc, nt), s"$s compression")
      assert(r.getAs[Long]("toks_per_word_micro") == micro(nt, nw), s"$s fertility")
    }
  }

  test("q249 allocations are whole, conserve the budget, and divide q218 weight by q246 fertility") {
    val rows = q("q249_fertility_reweighting").build(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("alloc")).sum == 1000000L,
      "largest-remainder allocations must sum exactly to the budget")
    val fert = q("q246_bpe_compression").build(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        r.getAs[Long]("toks_per_word_micro")).toMap
    rows.foreach { r =>
      val s = r.getAs[String]("source")
      assert(r.getAs[Long]("fert_micro") == fert(s),
        s"$s: fertility drifts from q246's")
      assert(r.getAs[Long]("fert_micro") >= 1000000L,
        s"$s: a word is at least one BPE token")
      val w = math.floor(
        math.sqrt(r.getAs[Long]("n_docs").toDouble * 1e12)).toLong
      assert(r.getAs[Long]("adj_w") ==
        (w * 1000000L) / r.getAs[Long]("fert_micro"),
        s"$s: adj_w is not the exact integer division")
    }
  }

  test("tokenizer artifact round-trips: one training pass, memo + load paths identical") {
    import spark.implicits._
    val tmpDir = java.nio.file.Files
      .createTempDirectory("graft_bpe_corpus_").toString
    Seq((1L, "alpha beta alpha beta gamma", "en", "s1", 27L),
      (2L, "beta gamma beta alpha", "en", "s2", 21L),
      (3L, null.asInstanceOf[String], "en", "s2", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmpDir/documents.parquet")
    val before = BpeQueries.trainCount.get()
    val (m1, v1) = BpeQueries.trainedTokenizer(spark, tmpDir)
    assert(BpeQueries.trainCount.get() == before + 1,
      "first call must train exactly once")
    // the artifact was published (merges + vocab + OK marker)
    val base = new org.apache.hadoop.fs.Path(
      BpeQueries.artifactPath(spark, tmpDir))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(base, "_GRAFT_OK")),
      s"artifact not published at $base")
    // second call in the same JVM: memo hit, no retrain
    BpeQueries.trainedTokenizer(spark, tmpDir)
    assert(BpeQueries.trainCount.get() == before + 1, "memo must not retrain")
    // fresh-JVM simulation: memo dropped -> artifact LOAD, no retrain
    BpeQueries.resetMemoForTest()
    val (m2, v2) = BpeQueries.trainedTokenizer(spark, tmpDir)
    assert(BpeQueries.trainCount.get() == before + 1,
      "artifact load path must not retrain")
    assert(m2 == m1, "loaded merge table diverges from trained one")
    def vocabSet(df: org.apache.spark.sql.DataFrame) =
      df.select("word", "wc", "seq").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(vocabSet(v2) == vocabSet(v1),
      "loaded vocab frame diverges from trained one")
  }

  test("a marker-less dir at the tokenizer artifact path is replaced by a complete publish, then loaded") {
    import spark.implicits._
    val tmpDir = graft.TestTmp.dir("graft_bpe_debris_")
    Seq((1L, "delta epsilon delta epsilon zeta", "en", "s1", 31L),
      (2L, "epsilon zeta epsilon delta", "en", "s2", 26L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmpDir/documents.parquet")
    val base = new org.apache.hadoop.fs.Path(
      graft.TestTmp.register(BpeQueries.artifactPath(spark, tmpDir)))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // what a crash mid-rename leaves: the target, partly written, with
    // no completeness marker
    fs.create(new org.apache.hadoop.fs.Path(base, "merges/part-junk"),
      true).close()
    BpeQueries.resetMemoForTest()
    val before = BpeQueries.trainCount.get()
    val (m1, _) = BpeQueries.trainedTokenizer(spark, tmpDir)
    assert(BpeQueries.trainCount.get() == before + 1)
    assert(fs.exists(new org.apache.hadoop.fs.Path(base, "_GRAFT_OK")),
      s"debris at $base was not replaced by a complete artifact")
    BpeQueries.resetMemoForTest()
    val (m2, _) = BpeQueries.trainedTokenizer(spark, tmpDir)
    assert(BpeQueries.trainCount.get() == before + 1,
      "the next JVM must load the published artifact, not retrain")
    assert(m2 == m1)
  }

  test("bpe replace-encoding equals greedy scan on adversarial overlap corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaa aaaa abab"),
      (2L, "aaa abab baaab"),
      (3L, "aa aa aa aaaa")).toDF("doc_id", "text")
    val (merges, vf) = BpeQueries.bpeTrain(docs, 6)
    val wc = Seq("aaaa", "aaaa", "abab", "aaa", "abab", "baaab",
      "aa", "aa", "aa", "aaaa")
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val (refMerges, refSeqs) = refTrain(wc, 6)
    assert(merges == refMerges,
      s"adversarial merges diverge:\n got $merges\n ref $refMerges")
    val gotSeqs = vf.collect()
      .map(r => r.getAs[String]("word") ->
        r.getAs[String]("seq").trim.split("  ").toVector).toMap
    assert(gotSeqs == refSeqs, "final segmentations diverge")
  }
}
