package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{Queries, Tables}

/** Brute-force mirror of the unigram-LM tokenizer (q272/q273): an
  * independent Scala implementation of the seed → EM(×2) → final
  * Viterbi pipeline — plain maps and loops, none of the engine's
  * DataFrame machinery — must reproduce the final model (pieces,
  * counts, integer costs) and every word's token count exactly.
  * Plus: the long-word fallback contract, the artifact round-trip
  * (train once, memo + load paths identical), and the fertility
  * relation to BPE (q243). */
class UnigramSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def q(n: String) = Queries.registry.find(_.name == n).get

  // ---- UTF-8 byte order (the engines' string comparison) ----
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
  private val utf8Ord: Ordering[String] =
    (a, b) => if (a == b) 0 else if (ltUtf8(a, b)) -1 else 1

  private def cps(word: String): Vector[String] =
    word.codePoints().toArray.toVector
      .map(cp => new String(Character.toChars(cp)))

  /** round(-ln(cnt/tot), 6) in micro-units — the engine's costU. */
  private def costU(cnt: Long, tot: Long): Long =
    (BigDecimal(-math.log(cnt.toDouble / tot.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLongExact

  /** Viterbi under integer piece costs; ties to the lexicographically
    * (UTF-8) smallest segmentation string. Returns the piece list. */
  private def viterbi(w: Vector[String], cost: Map[String, Long])
      : Vector[String] = {
    val n = w.length
    // dp(j) = (cost, seg-string, pieces)
    val dp = Array.fill[Option[(Long, String, Vector[String])]](n + 1)(None)
    dp(0) = Some((0L, "", Vector.empty))
    for (j <- 1 to n) {
      var best: Option[(Long, String, Vector[String])] = None
      for (i <- math.max(0, j - UnigramQueries.MaxPiece) until j) {
        val piece = w.slice(i, j).mkString
        (dp(i), cost.get(piece)) match {
          case (Some((c0, s0, p0)), Some(pc)) =>
            val c = c0 + pc
            val s = if (s0.isEmpty) piece else s0 + " " + piece
            if (best.isEmpty || c < best.get._1 ||
                (c == best.get._1 && ltUtf8(s, best.get._2)))
              best = Some((c, s, p0 :+ piece))
          case _ => ()
        }
      }
      dp(j) = best
    }
    dp(n).get._3
  }

  /** The full mirror: word counts in, (model, per-word n_tok) out. */
  private def refTrain(wc: Map[String, Long])
      : (Map[String, (Boolean, Long, Long)], Map[String, Long]) = {
    val words = wc.map { case (w, c) => (w, cps(w), c) }.toSeq
    val dpWords = words.filter(_._2.length <= UnigramQueries.MaxWord)
    val fbWords = words.filter(_._2.length > UnigramQueries.MaxWord)
    // seed
    val charCnt = words.flatMap { case (_, v, c) => v.map(_ -> c) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val subCnt = words.flatMap { case (_, v, c) =>
      for {
        i <- v.indices
        l <- 2 to UnigramQueries.MaxPiece
        if i + l <= v.length
      } yield v.slice(i, i + l).mkString -> c
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val topSeed = subCnt.toSeq
      .sortBy { case (p, c) => (-c, p) }(
        Ordering.Tuple2(Ordering.Long, utf8Ord))
      .take(UnigramQueries.SeedMulti)
    val seed: Map[String, (Boolean, Long)] =
      charCnt.map { case (p, c) => p -> (true, c) } ++
        topSeed.map { case (p, c) => p -> (false, c) }
    val tot0 = seed.values.map(_._2).sum
    var model: Map[String, (Boolean, Long, Long)] =
      seed.map { case (p, (ic, c)) => p -> (ic, c, costU(c, tot0)) }
    // two EM rounds
    for (_ <- 1 to 2) {
      val cost = model.map { case (p, (_, _, cu)) => p -> cu }
      val segCnt = dpWords.flatMap { case (_, v, c) =>
        viterbi(v, cost).map(_ -> c)
      } ++ fbWords.flatMap { case (_, v, c) => v.map(_ -> c) }
      val cnts = segCnt.groupBy(_._1).view.mapValues(_.map(_._2).sum)
        .toMap
      val chars = model.collect { case (p, (true, _, _)) =>
        p -> cnts.getOrElse(p, 0L)
      }
      val multis = cnts.toSeq
        .filter { case (p, _) => model.get(p).exists(!_._1) }
        .sortBy { case (p, c) => (-c, p) }(
          Ordering.Tuple2(Ordering.Long, utf8Ord))
        .take(UnigramQueries.KeepMulti)
      val kept = chars.toSeq.map { case (p, c) => (p, true, c) } ++
        multis.map { case (p, c) => (p, false, c) }
      val totS = kept.map(_._3 + 1).sum
      model = kept.map { case (p, ic, c) =>
        p -> (ic, c, costU(c + 1, totS))
      }.toMap
    }
    val cost = model.map { case (p, (_, _, cu)) => p -> cu }
    val perWord =
      dpWords.map { case (w, v, _) =>
        w -> viterbi(v, cost).length.toLong
      }.toMap ++
        fbWords.map { case (w, v, _) => w -> v.length.toLong }.toMap
    (model, perWord)
  }

  private def fixtureWordCounts(): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    Tables.load(Tables.tuned(spark), dir, "documents")
      .select(explode(graft.functions.TextOps.words(col("text")))
        .as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("q272 model equals the brute-force EM mirror on the fixture") {
    val (refModel, _) = refTrain(fixtureWordCounts())
    val got = q("q272_unigram_train").build(spark, dir).collect()
      .map(r => r.getAs[String]("piece") ->
        (r.getAs[Boolean]("is_char"), r.getAs[Long]("cnt"),
          r.getAs[Long]("cost_u"))).toMap
    assert(got == refModel,
      s"model diverges: engine-only=${got.keySet -- refModel.keySet} " +
        s"mirror-only=${refModel.keySet -- got.keySet} " +
        s"diff=${got.collect { case (k, v) if refModel.get(k).exists(_ != v) =>
          (k, v, refModel(k)) }.take(5)}")
  }

  test("per-word token counts equal the mirror's Viterbi everywhere") {
    val (_, refPw) = refTrain(fixtureWordCounts())
    val pw = UnigramQueries.trainedUnigram(spark, dir)._2()
      .collect().map(r => r.getAs[String]("word") ->
        r.getAs[Long]("n_tok")).toMap
    assert(pw == refPw)
  }

  test("q273 doc accounting: totals conserve and fertility sits between words and chars") {
    val rows = q("q273_unigram_token_counts").build(spark, dir).collect()
    val withText = rows.filter(!_.isNullAt(1))
    assert(withText.nonEmpty)
    withText.foreach { r =>
      val (w, t) = (r.getAs[Long]("n_words"),
        r.getAs[Long]("n_unigram_tokens"))
      assert(t >= w, s"doc ${r.get(0)}: fewer tokens than words")
    }
    // vs BPE (q243): same word accounting, different tokenizers —
    // n_words must agree doc-by-doc
    val bpe = q("q243_bpe_token_counts").build(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (if (r.isNullAt(1)) None else Some(r.getAs[Long]("n_words"))))
      .toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val nw = if (r.isNullAt(1)) None else Some(r.getAs[Long]("n_words"))
      assert(nw == bpe(id), s"doc $id: word accounting diverges from BPE")
    }
  }

  test("long words fall back to per-code-point segmentation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcdefghijklmnopqrst ab ab cd"), // 20 cp > MaxWord
      (2L, "ab cd abcd"))
      .toDF("doc_id", "text")
    val (model, perWord) = UnigramQueries.unigramTrain(docs)
    val pw = perWord.collect().map(r =>
      r.getAs[String]("word") ->
        (r.getAs[Long]("n_tok"),
          Option(r.getAs[String]("seg")))).toMap
    assert(pw("abcdefghijklmnopqrst")._1 == 20L)
    assert(pw("abcdefghijklmnopqrst")._2.isEmpty,
      "fallback words carry no segmentation")
    // short words segment, and every char piece exists
    assert(pw("abcd")._1 >= 1L && pw("abcd")._1 <= 4L)
    val pieces = model.collect()
      .map(_.getAs[String]("piece")).toSet
    assert(Set("a", "b", "c", "d").subsetOf(pieces))
  }

  test("unigram artifact round-trips: one training pass, memo + load paths identical") {
    import spark.implicits._
    val tmpDir = graft.TestTmp.dir("graft_unigram_corpus_")
    Seq((1L, "alpha beta alpha beta gamma", "en", "s1", 27L),
      (2L, "beta gamma beta alpha", "en", "s2", 21L),
      (3L, null.asInstanceOf[String], "en", "s2", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmpDir/documents.parquet")
    val before = UnigramQueries.trainCount.get()
    val (m1, p1) = UnigramQueries.trainedUnigram(spark, tmpDir)
    def modelSet(df: org.apache.spark.sql.DataFrame) =
      df.select("piece", "cnt", "is_char", "cost_u").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
          r.getLong(3))).toSet
    def pwSet(df: org.apache.spark.sql.DataFrame) =
      df.select("word", "n_tok").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    val (ms1, ps1) = (modelSet(m1()), pwSet(p1()))
    assert(UnigramQueries.trainCount.get() == before + 1,
      "first call must train exactly once")
    val base = new org.apache.hadoop.fs.Path(
      graft.TestTmp.register(UnigramQueries.artifactPath(spark, tmpDir)))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(base, "_GRAFT_OK")),
      s"artifact not published at $base")
    UnigramQueries.trainedUnigram(spark, tmpDir)
    assert(UnigramQueries.trainCount.get() == before + 1,
      "memo must not retrain")
    UnigramQueries.resetMemoForTest()
    val (m2, p2) = UnigramQueries.trainedUnigram(spark, tmpDir)
    assert(UnigramQueries.trainCount.get() == before + 1,
      "artifact load path must not retrain")
    assert(modelSet(m2()) == ms1,
      "loaded model diverges from trained one")
    assert(pwSet(p2()) == ps1,
      "loaded word segmentation diverges from trained one")
  }

  test("a marker-less dir at the unigram artifact path is replaced by a complete publish, then loaded") {
    import spark.implicits._
    val tmpDir = graft.TestTmp.dir("graft_unigram_debris_")
    Seq((1L, "delta epsilon delta epsilon zeta", "en", "s1", 31L),
      (2L, "epsilon zeta epsilon delta", "en", "s2", 26L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmpDir/documents.parquet")
    val base = new org.apache.hadoop.fs.Path(
      graft.TestTmp.register(UnigramQueries.artifactPath(spark, tmpDir)))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // what a crash mid-rename leaves: the target, partly written, with
    // no completeness marker
    fs.create(new org.apache.hadoop.fs.Path(base, "model/part-junk"),
      true).close()
    UnigramQueries.resetMemoForTest()
    val before = UnigramQueries.trainCount.get()
    val (m1, _) = UnigramQueries.trainedUnigram(spark, tmpDir)
    val model1 = m1().select("piece", "cost_u").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(UnigramQueries.trainCount.get() == before + 1)
    assert(fs.exists(new org.apache.hadoop.fs.Path(base, "_GRAFT_OK")),
      s"debris at $base was not replaced by a complete artifact")
    UnigramQueries.resetMemoForTest()
    val (m2, _) = UnigramQueries.trainedUnigram(spark, tmpDir)
    assert(UnigramQueries.trainCount.get() == before + 1,
      "the next JVM must load the published artifact, not retrain")
    assert(m2().select("piece", "cost_u").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == model1)
  }
}
