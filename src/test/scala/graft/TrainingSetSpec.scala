package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the round-10 training-set construction wave
  * (q218–q222) the oracle equality can't express on its own: the
  * oracle proves both engines agree; these prove the MATH is right,
  * by brute-force recomputation from the raw documents table at
  * sf0.001.
  */
class TrainingSetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def rowsOf(name: String) =
    Queries.registry.find(_.name == name)
      .getOrElse(fail(s"unknown query $name"))
      .build(spark, dir).collect()

  private def docs(): Array[(Long, String, String, Long)] = {
    import org.apache.spark.sql.functions.col
    Tables.load(Tables.tuned(spark), dir, "documents")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
  }

  // the CONTRACT tokenizer mirror (TestTextRef), not Java's
  // trim/`\s`/bare-split semantics — see TestTextRef's scaladoc
  private def normWords(text: String): Array[String] =
    TestTextRef.words(text)

  test("q218 largest-remainder allocations are whole and sum EXACTLY to the budget") {
    val rows = rowsOf("q218_temperature_mixing")
    assert(rows.length > 1)
    val allocs = rows.map(r => r.getAs[Long]("alloc"))
    assert(allocs.sum == 1000000L,
      s"allocations sum to ${allocs.sum}, expected exactly 1000000")
    assert(allocs.forall(_ >= 0))
    // temperature flattening: max/min allocation ratio must not exceed
    // the max/min doc-count ratio (alpha = 1/2 compresses the spread)
    val byN = rows.map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("alloc")))
    val nSpread = byN.map(_._1).max.toDouble / byN.map(_._1).min
    val aSpread = byN.map(_._2).max.toDouble / byN.map(_._2).min
    assert(aSpread <= nSpread + 1e-9,
      s"allocation spread $aSpread exceeds doc-count spread $nSpread")
    val wSum = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wSum - 1.0) < 1e-9)
  }

  test("q219 buckets are minimal powers of two and waste accounting is exact") {
    val rows = rowsOf("q219_length_bucketing")
    val caps = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L,
      4096L, 8192L, 16384L, 32768L)
    // brute-force recount from raw text with the shared regex tokenizer
    val re = "[a-z]+|[0-9]+|[^a-z0-9 ]".r
    val expected = docs()
      .map { case (_, text, _, _) =>
        val norm = text.toLowerCase.trim.replaceAll("\\s+", " ")
        val n = re.findAllIn(norm).length.toLong
        val cap = caps.find(_ >= n).getOrElse(caps.last)
        (cap, n, cap - math.min(n, cap))
      }
      .groupBy(_._1)
      .map { case (cap, g) =>
        cap -> ((g.length.toLong, g.map(_._2).sum, g.map(_._3).sum))
      }
    val got = rows.map(r => r.getAs[Long]("bucket_cap") ->
      ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"),
        r.getAs[Long]("padded_tokens")))).toMap
    assert(got == expected, s"bucket accounting diverges:\n  got $got\n  expected $expected")
  }

  test("q220 dup-start fractions match a brute-force corpus recount") {
    val all = docs()
    // every 8-gram start in the corpus, keyed by shingle text
    val starts = all.flatMap { case (_, text, source, _) =>
      val w = normWords(text)
      (0 to w.length - 8).map(i => (w.slice(i, i + 8).mkString(" "), source))
    }
    val total = starts.groupBy(_._1).view.mapValues(_.length).toMap
    val expected = starts.groupBy(_._2).map { case (src, g) =>
      src -> ((g.length.toLong, g.count(s => total(s._1) > 1).toLong))
    }
    val got = rowsOf("q220_dup_ngram_coverage").map(r =>
      r.getAs[String]("source") ->
        ((r.getAs[Long]("n_starts"), r.getAs[Long]("dup_starts")))).toMap
    assert(got == expected)
    got.values.foreach { case (n, d) => assert(d >= 0 && d <= n) }
  }

  test("q221 keeps exactly one document per content fingerprint") {
    val rows = rowsOf("q221_cluster_canonical")
    val nDocs = rows.map(_.getAs[Long]("n_docs")).sum
    val nKept = rows.map(_.getAs[Long]("n_kept")).sum
    val nDropped = rows.map(_.getAs[Long]("n_dropped")).sum
    assert(nKept + nDropped == nDocs)
    // one keeper per distinct vocabulary fingerprint, corpus-wide
    val distinctFp = docs()
      .map { case (_, text, _, _) => normWords(text).distinct.sorted.toSeq }
      .distinct.length
    assert(nKept == distinctFp.toLong,
      s"kept $nKept docs but corpus has $distinctFp distinct fingerprints")
    assert(nDocs == docs().length.toLong)
  }

  test("q223 contamination matches a brute-force cross-split 8-gram check") {
    val all = docs()
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = h.take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 10
    }
    def gramsOf(text: String): Set[String] = {
      val w = normWords(text)
      (0 to w.length - 8).map(i => w.slice(i, i + 8).mkString(" ")).toSet
    }
    val evalGrams = all.filter(d => bucket(d._1) == 9)
      .flatMap(d => gramsOf(d._2)).toSet
    val train = all.filter(d => bucket(d._1) <= 7)
    val expected = train.groupBy(_._3).map { case (src, g) =>
      src -> ((g.length.toLong,
        g.count(d => gramsOf(d._2).exists(evalGrams)).toLong))
    }
    val got = rowsOf("q223_ngram_decontamination").map(r =>
      r.getAs[String]("source") ->
        ((r.getAs[Long]("n_train_docs"), r.getAs[Long]("n_contaminated"))))
      .toMap
    assert(got == expected)
  }

  test("q224 keeps exactly one owner per distinct 16-token tile") {
    val all = docs()
    val tiles = all.flatMap { case (id, text, source, _) =>
      val w = normWords(text)
      (0 to (w.length - 1) / 16).map(i =>
        (w.slice(i * 16, i * 16 + 16).mkString(" "), id, i.toLong, source))
    }
    val expected = tiles.groupBy(_._4).map { case (src, g) =>
      src -> (g.length.toLong)
    }
    val keepers = tiles.groupBy(_._1).view
      .mapValues(g => g.minBy(t => (t._2, t._3))).values.toSeq
    val expectedKept = keepers.groupBy(_._4).view
      .mapValues(_.length.toLong).toMap
    val rows = rowsOf("q224_tile_dedup")
    val gotTiles = rows.map(r =>
      r.getAs[String]("source") -> r.getAs[Long]("n_tiles")).toMap
    val gotKept = rows.map(r =>
      r.getAs[String]("source") -> r.getAs[Long]("n_kept")).toMap
    assert(gotTiles == expected)
    assert(gotKept == expectedKept)
    // global: kept count == distinct tile texts
    assert(gotKept.values.sum == tiles.map(_._1).distinct.length.toLong)
  }

  // driver-side mirror of q225's chunking definition
  private def cdcChunks(w: Array[String]): Seq[String] = {
    def md5i32(s: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map("%02x".format(_)).mkString, 16)
    }
    val n = w.length
    val bp = (4 until n).filter(j =>
      md5i32(w.slice(j - 4, j).mkString(" ")) % 16 == 0)
    val starts = 0 +: bp
    val ends = bp :+ n
    starts.zip(ends).map { case (a, b) => w.slice(a, b).mkString(" ") }
  }

  test("q225 chunk accounting matches a brute-force recount") {
    val all = docs()
    val chunks = all.flatMap { case (id, text, source, _) =>
      cdcChunks(normWords(text)).zipWithIndex
        .map { case (c, i) => (c, id, i.toLong, source) }
    }
    val keepers = chunks.groupBy(_._1).view
      .mapValues(g => g.minBy(t => (t._2, t._3))).values.toSeq
    val totalBySrc = chunks.groupBy(_._4).view
      .mapValues(_.length.toLong).toMap
    val keptBySrc = keepers.groupBy(_._4).view
      .mapValues(_.length.toLong).toMap
    val got = rowsOf("q225_cdc_chunk_dedup").map(r =>
      r.getAs[String]("source") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_kept")))).toMap
    assert(got.view.mapValues(_._1).toMap == totalBySrc)
    assert(got.view.mapValues(_._2).toMap == keptBySrc)
  }

  test("q225 CDC boundaries are shift-robust where fixed tiles are not") {
    // prepend one word to a document: every 16-token tile shifts (near
    // zero tile reuse), but every CDC chunk after the first boundary
    // is byte-identical — the reason content-defined chunking exists
    val text = docs().maxBy(_._2.length)._2
    val w = normWords(text)
    assume(w.length >= 64, "need a long doc for a meaningful check")
    val orig = cdcChunks(w)
    val shifted = cdcChunks(Array("zzshift") ++ w)
    assume(orig.length >= 3, "need several chunks")
    // all chunks of the original except (possibly) the first survive
    // verbatim in the shifted version
    val survived = orig.tail.count(shifted.toSet)
    assert(survived == orig.tail.length,
      s"only $survived/${orig.tail.length} CDC chunks survived a 1-word shift")
    // contrast: fixed 16-token tiles share (almost) nothing
    def tiles(a: Array[String]) =
      (0 to (a.length - 1) / 16)
        .map(i => a.slice(i * 16, i * 16 + 16).mkString(" "))
    val tileSurvived = tiles(w).tail.count(tiles(Array("zzshift") ++ w).toSet)
    assert(tileSurvived < orig.tail.length,
      "fixed tiles unexpectedly survived the shift — check the contrast")
  }

  test("q226 composes dedup, gate, and packing exactly (brute-force survivors)") {
    val re = "[a-z]+|[0-9]+|[^a-z0-9 ]".r
    val stop = Set("the", "a", "of", "and", "to", "in")
    // brute-force the survivor token stream in doc_id order
    val seen = scala.collection.mutable.Set[String]()
    val survivors = docs().sortBy(_._1).flatMap { case (id, text, _, _) =>
      val t = text.toLowerCase.trim.replaceAll("\\s+", " ")
      val w = t.split(" ")
      val ttr = w.distinct.length.toDouble / w.length
      val stopR = w.count(stop).toDouble / w.length
      val lenP = math.min(1.0, w.length / 100.0)
      val q = BigDecimal(ttr * 0.4 + (1.0 - stopR) * 0.3 + lenP * 0.3)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val isFirst = seen.add(t)
      val nTok = re.findAllIn(t).length.toLong
      if (isFirst && q >= 0.63 && nTok > 0) Some((id, nTok)) else None
    }
    var cum = 0L
    val expected = survivors.map { case (id, n) =>
      val pack = cum / 2048; cum += n; (pack, id, n)
    }.groupBy(_._1).map { case (p, g) =>
      p -> ((g.length.toLong, g.map(_._3).sum))
    }
    val got = rowsOf("q226_corpus_pipeline").map(r =>
      r.getAs[Long]("pack_id") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))).toMap
    assert(got == expected)
    assert(got.values.map(_._2).sum == survivors.map(_._2).sum)
  }

  test("q227 accounting: accepted + rejected = k, rejections are true collisions") {
    val rows = rowsOf("q227_negative_sampling")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_proposed") == 4L)
      assert(r.getAs[Long]("n_accepted") + r.getAs[Long]("n_rejected") == 4L)
    }
    // brute force the collisions for every customer
    import org.apache.spark.sql.functions.col
    val pos = Tables.load(Tables.tuned(spark), dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.load(Tables.tuned(spark), dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val maxPart = Tables.load(Tables.tuned(spark), dir, "part")
      .agg(org.apache.spark.sql.functions.max(col("p_partkey")))
      .collect().head.getLong(0)
    def md5i32(s: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map("%02x".format(_)).mkString, 16)
    }
    rows.foreach { r =>
      val c = r.getAs[Long]("custkey")
      val rejected = (0 until 4).count { i =>
        pos.contains((c, md5i32(s"$c|$i") % maxPart + 1))
      }
      assert(r.getAs[Long]("n_rejected") == rejected.toLong,
        s"customer $c: rejected ${r.getAs[Long]("n_rejected")}, " +
          s"brute force $rejected")
    }
  }

  test("q222 shards are contiguous, tile 1..N, and are balanced within one") {
    val rows = rowsOf("q222_epoch_shuffle")
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("min_pos"), r.getAs[Long]("max_pos")))
      .sortBy(_._1)
    val n = docs().length.toLong
    assert(rows.map(_._2).sum == n)
    // each shard is a contiguous position run
    rows.foreach { case (s, c, mn, mx) =>
      assert(mx - mn + 1 == c, s"shard $s not contiguous: [$mn,$mx] count $c")
    }
    // runs abut: shard k+1 starts where shard k ended
    rows.toSeq.sliding(2).foreach {
      case Seq((_, _, _, mxA), (sB, _, mnB, _)) =>
        assert(mnB == mxA + 1, s"gap before shard $sB")
      case _ =>
    }
    assert(rows.head._3 == 1L && rows.last._4 == n)
    // balanced: sizes differ by at most one
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1L)
    assert(rows.map(_._1).toSeq == (0L until rows.length.toLong).toSeq)
  }

  test("q230 split sizes are the exact 80/10/10 floor boundaries per stratum") {
    val rows = rowsOf("q230_stratified_split").map(r =>
      ((r.getAs[String]("lang"), r.getAs[String]("source")),
        r.getAs[String]("split") -> r.getAs[Long]("n_docs")))
    val byStratum = rows.groupBy(_._1).view.mapValues(_.map(_._2).toMap)
    assert(byStratum.nonEmpty)
    byStratum.foreach { case ((lang, source), splits) =>
      val n = splits.values.sum
      val train = n * 8 / 10
      val valN = n * 9 / 10 - train
      val test = n - n * 9 / 10
      assert(splits.getOrElse("train", 0L) == train,
        s"($lang,$source) train ${splits.get("train")} != $train of $n")
      assert(splits.getOrElse("val", 0L) == valN,
        s"($lang,$source) val ${splits.get("val")} != $valN of $n")
      assert(splits.getOrElse("test", 0L) == test,
        s"($lang,$source) test ${splits.get("test")} != $test of $n")
    }
    // totals reconcile with the raw table
    val total = byStratum.values.map(_.values.sum).sum
    assert(total == docs().length.toLong)
  }

  test("q231 keeps a maximal prefix: under budget, and the next doc would overflow") {
    val Budget = 2000L
    val rows = rowsOf("q231_token_budget_select").map(r =>
      (r.getAs[String]("lang"), r.getAs[Long]("n_kept"),
        r.getAs[Long]("tok_kept"), r.getAs[Long]("cutoff_score")))
    assert(rows.nonEmpty)
    // brute-force the same selection from the raw table
    val re = "[a-z]+|[0-9]+|[^a-z0-9 ]".r
    val langOf = Tables.load(Tables.tuned(spark), dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("lang"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val perLang = langOf.map { case (id, lang, text) =>
      val norm = text.toLowerCase.trim.replaceAll("\\s+", " ")
      val toks = re.findAllIn(norm).toVector
      (lang, id, toks.size.toLong, toks.distinct.size.toLong)
    }.filter(_._3 > 0)
      .map { case (lang, id, nTok, nTypes) =>
        (lang, id, nTok, nTypes * 1000000L / nTok)
      }
      .groupBy(_._1)
    rows.foreach { case (lang, nKept, tokKept, cutoff) =>
      val ordered = perLang(lang).sortBy { case (_, id, _, score) =>
        (-score, id)
      }
      val prefix = ordered.scanLeft(0L)(_ + _._3).tail.zip(ordered)
        .takeWhile(_._1 <= Budget).map(_._2)
      assert(prefix.length.toLong == nKept, s"$lang kept count")
      assert(prefix.map(_._3).sum == tokKept, s"$lang kept tokens")
      assert(tokKept <= Budget, s"$lang over budget")
      assert(prefix.map(_._4).min == cutoff, s"$lang cutoff score")
      // maximality: the next doc in order would overflow the budget
      if (prefix.length < ordered.length)
        assert(tokKept + ordered(prefix.length)._3 > Budget,
          s"$lang selection is not maximal")
    }
  }

  test("q232 flags every planted eval near-copy against its source document") {
    val flagged = rowsOf("q232_lsh_decontamination").map(r =>
      (r.getAs[Long]("train_id"), r.getAs[Long]("eval_id"))).toSet
    val allDocs = docs()
    val textOf = allDocs.map(d => d._1 -> d._2).toMap
    val evalSources = allDocs.map(_._1).filter(_ % 50 == 0)
      // >= 10 words so dropping the last still leaves >= 5-shingles
      // with high overlap (shorter docs legitimately hash apart)
      .filter(id => normWords(textOf(id)).length >= 10)
    assert(evalSources.nonEmpty)
    evalSources.foreach { id =>
      assert(flagged.contains((id, -id - 1L)),
        s"eval near-copy of doc $id not flagged against its source")
    }
    // and the pairing is asymmetric: eval ids (negated) only on the
    // eval side — disjoint from nonnegative train ids at every scale
    assert(flagged.forall { case (t, e) => e < 0L && t >= 0L })
  }

  test("q245 flags every planted middle-third extract with containment 1.0") {
    val rows = rowsOf("q245_containment_decontamination")
    val byPair = rows.map(r => (r.getAs[Long]("train_id"),
      r.getAs[Long]("eval_id")) -> r.getAs[Double]("containment")).toMap
    val allDocs = docs()
    val textOf = allDocs.map(d => d._1 -> d._2).toMap
    val evalSources = allDocs.map(_._1).filter(_ % 50 == 0)
      // >= 15 words so the middle third carries >= 1 shingle
      .filter(id => normWords(textOf(id)).length >= 15)
    assert(evalSources.nonEmpty)
    evalSources.foreach { id =>
      assert(byPair.get((id, -id - 1L)).contains(1.0),
        s"middle-third extract of doc $id not flagged at containment 1.0")
    }
    assert(rows.forall { r =>
      r.getAs[Long]("eval_id") < 0L && r.getAs[Long]("train_id") >= 0L &&
        r.getAs[Double]("containment") >= 0.8
    })
  }

  test("q247 verdict: near-copies flag on both detectors, embedded extracts as containment-only") {
    val rows = rowsOf("q247_decontam_verdict")
    assert(rows.nonEmpty)
    val byPair = rows.map(r => (r.getAs[Long]("train_id"),
      r.getAs[Long]("eval_id")) -> r.getAs[String]("method")).toMap
    val allDocs = docs()
    val textOf = allDocs.map(d => d._1 -> d._2).toMap
    val sources = allDocs.map(_._1).filter(_ % 50 == 0)
    // near-copy plants (odd-negative ids): flagged against their
    // source by BOTH detectors wherever the doc has enough words for
    // the minus-one-word copy to stay >= 0.5-similar and contained
    sources.filter(id => normWords(textOf(id)).length >= 15)
      .foreach { id =>
        assert(byPair.get((id, -2L * id - 1L)).contains("both"),
          s"near-copy of doc $id not flagged by both detectors")
      }
    // embedded plants (even-negative ids): the middle third is the
    // q245 miss-shape — containment must flag it; the jac column of a
    // containment-only row is NULL by construction
    sources.filter(id => normWords(textOf(id)).length >= 15)
      .foreach { id =>
        val m = byPair.get((id, -2L * id - 2L))
        assert(m.contains("containment") || m.contains("both"),
          s"embedded extract of doc $id not flagged (got $m)")
      }
    rows.foreach { r =>
      val (jac, con, sim) = (Option(r.getAs[Any]("jac")),
        Option(r.getAs[Any]("containment")),
        Option(r.getAs[Any]("sim")))
      r.getAs[String]("method") match {
        case "both"        => assert(jac.nonEmpty && con.nonEmpty)
        case "lsh"         => assert(jac.nonEmpty && con.isEmpty)
        case "containment" => assert(jac.isEmpty && con.nonEmpty)
        // round-13 paraphrase shape: lexical columns NULL by
        // construction, cosine similarity carries the evidence
        case "semantic"    => assert(jac.isEmpty && con.isEmpty &&
          sim.nonEmpty)
        case other         => fail(s"unknown method $other")
      }
    }
  }

  test("embedded verbatim leak: containment machinery flags what Jaccard-LSH misses") {
    import spark.implicits._
    val host = ((1 to 100).map("pre" + _) ++ (1 to 20).map("s" + _) ++
      (1 to 100).map("post" + _)).mkString(" ")
    val train = Seq(
      (1L, host),
      (2L, (1 to 50).map("x" + _).mkString(" "))).toDF("doc_id", "text")
    val evalD = Seq((-1L, (1 to 20).map("s" + _).mkString(" ")))
      .toDF("doc_id", "text")
    // the eval item is embedded VERBATIM in train doc 1 (jac ~ 16/216
    // << 0.5): the shipped q232 scheme must NOT flag it (tau does the
    // work), the q245 containment machinery must, at exactly 1.0
    val lsh = graft.operators.DedupQueries
      .lshDecontamParts(train, evalD)._2
      .collect()
    assert(lsh.isEmpty, "Jaccard verify cannot pass an embedded leak")
    val cont = graft.operators.DedupQueries
      .containmentDecontamParts(train, evalD)._2.collect()
    assert(cont.length == 1)
    assert(cont.head.getAs[Long]("train_id") == 1L &&
      cont.head.getAs[Long]("eval_id") == -1L &&
      cont.head.getAs[Double]("containment") == 1.0)
  }

  test("LSH decontam: sub-5-word docs generate no candidates (null band hashes)") {
    import spark.implicits._
    // "a b c" has an EMPTY 5-shingle set -> NULL minhash components ->
    // NULL band hashes, which never equi-join: verbatim-identical
    // short docs must produce ZERO candidates (the concat_ws
    // formulation collapsed them into one shared md5('') bucket —
    // a short-doc cross product the oracle's NULL list_min never
    // generates)
    val train = Seq(
      (1L, "a b c"), (2L, "a b c"),
      (3L, (1 to 40).map("w" + _).mkString(" "))).toDF("doc_id", "text")
    val evalD = Seq(
      (-1L, "a b c"),
      (-2L, (1 to 39).map("w" + _).mkString(" "))).toDF("doc_id", "text")
    val (cand, flagged) =
      graft.operators.DedupQueries.lshDecontamParts(train, evalD)
    val c = cand.collect()
      .map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("eval_id")))
      .toSet
    assert(!c.exists { case (t, e) => t <= 2L || e == -1L },
      s"short docs produced candidates: $c")
    assert(c.contains((3L, -2L)), "long near-pair must be banded")
    val f = flagged.collect()
      .map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("eval_id")))
      .toSet
    assert(f == Set((3L, -2L)), s"unexpected flags: $f")
  }

  test("q236 sample equals the brute-force hash-rank draw per stratum") {
    import org.apache.spark.sql.functions.col
    val langOf = Tables.load(Tables.tuned(spark), dir, "documents")
      .select(col("doc_id"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def h(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sample1|$id".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val expected = langOf.groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
      ds.map(d => (h(d._1), d._1)).sorted.take(20).zipWithIndex
        .map { case ((_, id), i) => (lang, (i + 1).toLong, id) }.toSeq
    }.toSet
    val got = rowsOf("q236_stratified_sample").map(r =>
      (r.getAs[String]("lang"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"))).toSet
    assert(got == expected, s"sample diverges (got ${got.size})")
    // every stratum filled to min(K, stratum size)
    val counts = got.groupBy(_._1).view.mapValues(_.size).toMap
    langOf.groupBy(_._2).foreach { case (lang, ds) =>
      assert(counts(lang) == math.min(20, ds.length), s"$lang count")
    }
  }

  test("q239 split leakage matches a brute-force gram-set recount") {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def splitOf(id: Long): String =
      (java.lang.Long.parseLong(md5Hex(id.toString).take(8), 16) % 10) match {
        case b if b <= 7 => "train"
        case 8 => "val"
        case _ => "test"
      }
    val bySplit = docs().groupBy(d => splitOf(d._1)).map { case (sp, ds) =>
      sp -> ds.flatMap { d =>
        val w = normWords(d._2)
        (0 to w.length - 8).map(i => w.slice(i, i + 8).mkString(" "))
      }.toSet
    }
    val expected = Seq(
      ("train", "val"), ("train", "test"), ("val", "test")).map {
      case (a, b) =>
        val shared = (bySplit(a) & bySplit(b)).size.toLong
        val nb = bySplit(b).size.toLong
        (a, b) -> ((shared, nb, shared * 1000000L / nb))
    }.toMap
    val got = rowsOf("q239_split_leakage").map(r =>
      (r.getAs[String]("part_a"), r.getAs[String]("part_b")) ->
        ((r.getAs[Long]("shared_grams"), r.getAs[Long]("n_grams_b"),
          r.getAs[Long]("leak_frac_micro")))).toMap
    assert(got == expected, s"leakage diverges:\n got $got\n exp $expected")
  }

  test("q240 dedup weights: cluster mass identity and brute-force recount") {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val all = docs().map { case (id, text, src, _) =>
      (id, src, md5Hex(normWords(text).distinct.sorted.mkString(" ")))
    }
    val m = all.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val expected = all.groupBy(_._2).map { case (src, ds) =>
      src -> ((ds.length.toLong,
        ds.map(d => 1000000L / m(d._3)).sum,
        ds.count(d => m(d._3) == 1L).toLong))
    }
    val got = rowsOf("q240_dedup_loss_weights").map(r =>
      r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("weight_mass_micro"),
          r.getAs[Long]("n_unique")))).toMap
    assert(got == expected)
    // cluster-mass identity: total micro-weight is #clusters * 1e6
    // minus at most one unit per doc (floor loss)
    val totalMass = got.values.map(_._2).sum
    val nClusters = m.size.toLong
    val nDocs = all.length.toLong
    assert(totalMass <= nClusters * 1000000L &&
      totalMass >= nClusters * 1000000L - nDocs,
      s"mass $totalMass outside [${nClusters}e6 - $nDocs, ${nClusters}e6]")
  }

  test("q233 spans match a brute-force first-occurrence recount at sf0.001") {
    // mark every 8-gram start whose gram occurred EARLIER (smaller
    // (doc_id, pos)) anywhere in the corpus, merge consecutive marked
    // starts into maximal islands, keep spans covering >= 10 tokens —
    // the exact semantics the distributed min-struct/gaps-and-islands
    // plan claims
    val firstSeen = scala.collection.mutable.HashSet[String]()
    val marked = scala.collection.mutable.ArrayBuffer[(Long, String, Int)]()
    docs().sortBy(_._1).foreach { case (id, text, src, _) =>
      val w = normWords(text)
      for (i <- 0 to w.length - 8) {
        val g = w.slice(i, i + 8).mkString(" ")
        if (!firstSeen.add(g)) marked += ((id, src, i))
      }
    }
    val expected = marked.groupBy(m => (m._1, m._2)).flatMap {
      case ((id, src), ms) =>
        val ps = ms.map(_._3).sorted
        val runs = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
        var s = ps.head; var e = ps.head
        ps.tail.foreach { p =>
          if (p == e + 1) e = p else { runs += ((s, e)); s = p; e = p }
        }
        runs += ((s, e))
        runs.filter { case (a, b) => b - a + 8 >= 10 }
          .map { case (a, b) =>
            (id, src, (a + 1).toLong, (b - a + 8).toLong) }
    }.toSet
    val got = rowsOf("q233_dup_span_removal").map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("span_start"), r.getAs[Long]("span_tokens"))).toSet
    assert(got == expected,
      s"span sets diverge: got ${got.size}, expected ${expected.size}")
    assert(got.nonEmpty, "fixture plants no duplicated spans?")
  }

  private lazy val spanCorpusDir: String = {
    import spark.implicits._
    def filler(tag: String, n: Int) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val run12 = (1 to 12).map(i => s"dup$i").mkString(" ")
    val run9 = (1 to 9).map(i => s"sub$i").mkString(" ")
    val run11 = (1 to 11).map(i => s"rep$i").mkString(" ")
    val corpus = Seq(
      // canonical occurrence of the 12-token run — keeps everything
      (1L, s"${filler("a", 5)} $run12 ${filler("b", 5)}", "en", "s1", 0L),
      // copy of the run mid-document: exactly tokens 8..19 must go —
      // grams straddling into the differing filler stay unique
      (2L, s"${filler("c", 7)} $run12 ${filler("d", 3)}", "en", "s1", 0L),
      // SELF-repeat of a 9-token run: second occurrence is marked but
      // the span (9 tokens) is under the 10-token threshold -> kept
      (3L, s"$run9 ${filler("e", 10)} $run9", "en", "s2", 0L),
      // self-repeat of an 11-token run: second occurrence IS cut
      (4L, s"$run11 ${filler("g", 5)} $run11", "en", "s2", 0L),
      // no duplication at all
      (5L, filler("f", 30), "en", "s3", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("q233corpus").toString
    corpus.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("q233 planted corpus: exact boundaries, self-repeat, sub-threshold runs") {
    val got = Queries.registry.find(_.name == "q233_dup_span_removal").get
      .build(spark, spanCorpusDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_tokens"))).toSet
    assert(got == Set((2L, 8L, 12L), (4L, 17L, 11L)),
      s"unexpected spans: $got")
  }

  test("q237 cleanse removes exactly the q233 spans and conserves tokens") {
    val rows = Queries.registry.find(_.name == "q237_dup_span_cleanse").get
      .build(spark, spanCorpusDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("cleaned")))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // doc 2: exactly the 12-token copied run goes, filler survives
    val (n2, rm2, c2) = rows(2L)
    assert(n2 == 22L && rm2 == 12L)
    assert(c2 == ((1 to 7).map(i => s"c$i") ++ (1 to 3).map(i => s"d$i"))
      .mkString(" "))
    // doc 4: second 11-token self-repeat goes
    assert(rows(4L)._2 == 11L)
    // docs 1/3/5 untouched (canonical, sub-threshold, unique)
    Seq(1L, 3L, 5L).foreach(id => assert(rows(id)._2 == 0L, s"doc $id"))
    // conservation on every doc: kept tokens re-split to n - removed
    rows.foreach { case (id, (n, rm, cleaned)) =>
      val kept = if (cleaned.isEmpty) 0 else cleaned.split(" ").length
      assert(kept.toLong == n - rm, s"doc $id conservation")
    }
  }

  test("q237 fixture conservation against q233 span mass at sf0.001") {
    val spanMass = rowsOf("q233_dup_span_removal")
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[Long]("span_tokens")).sum).toMap
    val rows = rowsOf("q237_dup_span_cleanse")
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // removal never exceeds span mass, and equals it when spans
      // don't overlap (overlap only when two islands sit closer than
      // the gram width — admissible, so <=)
      assert(r.getAs[Long]("n_removed") <= spanMass.getOrElse(id, 0L),
        s"doc $id removed more than its span mass")
      if (spanMass.contains(id))
        assert(r.getAs[Long]("n_removed") > 0L, s"doc $id removed nothing")
    }
  }
}
