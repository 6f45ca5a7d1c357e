package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.Queries

/** q282 (PPJoin exact set-similarity) invariants: prefix filtering
  * must be candidate-COMPLETE — the output equals a brute-force
  * all-pairs shingle Jaccard on a threshold-engineered fixture — and
  * the cross-operator containment q51 ⊆ q282 must hold on the real
  * fixture: MinHash banding can only LOSE true pairs (bands that all
  * miss), never invent them, so the exact join dominates it. */
class SetSimSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def q(n: String) = Queries.registry.find(_.name == n).get

  private def shingles(words: Seq[String]): Set[String] =
    // sliding(5) yields a partial window for short docs; the engine's
    // shingleSet (and the oracle) return EMPTY below 5 words
    if (words.length < 5) Set.empty
    else words.sliding(5).map(_.mkString(" ")).toSet

  private lazy val fixtureDir: String = {
    import spark.implicits._
    val tmp = graft.TestTmp.dir("graft_ppjoin_fixture_")
    val ten = (1 to 10).map(i => s"tok$i")
    val docs = Seq(
      1L -> ten.mkString(" "),                 // base: 6 shingles
      2L -> ten.take(9).mkString(" "),         // drop last: 5/6 = 0.833
      3L -> ten.take(7).mkString(" "),         // truncate: 3/6 = 0.5 (boundary)
      4L -> ten.take(6).mkString(" "),         // 2/6 = 0.333 < 0.5
      5L -> ten.mkString(" "),                 // exact copy of 1
      6L -> "wholly unrelated words only here present",
      7L -> "tiny doc")                        // <5 words: no shingles
    docs.map { case (id, text) =>
      (id, text, "en", "s1", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("q282 equals brute-force all-pairs shingle Jaccard at threshold 0.5") {
    val got = q("q282_ppjoin_setsim").build(spark, fixtureDir).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Double]("jac"))).toSet
    // brute force over the SAME planted corpus the query reads
    // (DedupQueries.corpus adds exact/near copies at +200000/+100000)
    val base = DedupQueries.corpus(
      graft.Tables.load(graft.Tables.tuned(spark), fixtureDir,
        "documents"))
      .collect()
      .flatMap { r =>
        Option(r.getAs[String]("text")).map { tx =>
          val w = tx.trim.toLowerCase.replaceAll("\\s+", " ").split(" ")
          (r.getAs[Long]("doc_id"), shingles(w.toSeq))
        }
      }.filter(_._2.nonEmpty)
    val expected = (for {
      (i, si) <- base; (j, sj) <- base if i < j
      inter = (si & sj).size
      jac = inter.toDouble / (si.size + sj.size - inter)
      if jac >= 0.5
    } yield (i, j, BigDecimal(jac).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(expected.exists(p => p._1 == 1L && p._2 == 3L),
      "fixture lost its boundary (jac == 0.5) pair")
    assert(!expected.exists(p => (p._1, p._2) == (1L, 4L)),
      "fixture's below-threshold pair leaked into expected")
    assert(got == expected,
      s"diff: ${(got.diff(expected) ++ expected.diff(got)).take(5)}")
  }

  test("containment: q51's banded pairs are a subset of q282's exact pairs") {
    val dir = "/root/testdata/sf0.001"
    val exact = q("q282_ppjoin_setsim").build(spark, dir).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    val banded = q("q51_minhash_lsh").build(spark, dir).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(exact.nonEmpty && banded.nonEmpty)
    assert(banded.subsetOf(exact),
      s"banding invented pairs the exact join rejects: ${
        banded.diff(exact).take(5)}")
  }

  test("q287 telemetry funnel is consistent with q282's output mass") {
    for (d <- Seq(fixtureDir, "/root/testdata/sf0.001")) {
      val t = q("q287_ppjoin_telemetry").build(spark, d).head()
      // funnel shape: tokens ⊇ active, candidates ⊇ verified
      assert(t.getAs[Long]("n_prefix_tokens") >=
        t.getAs[Long]("n_active_tokens"))
      assert(t.getAs[Long]("n_cand_pairs") >=
        t.getAs[Long]("n_verified"))
      assert(t.getAs[Long]("n_prefix_rows") >=
        t.getAs[Long]("n_groups"))
      // the doc-pair masses (computed from group sizes, never
      // materialized) must equal the exact join's actual output
      val nOut = q("q282_ppjoin_setsim").build(spark, d).count()
      assert(t.getAs[Long]("n_cross_doc_pairs") +
        t.getAs[Long]("n_intra_doc_pairs") == nOut,
        s"telemetry mass != q282 output at $d")
    }
  }

  test("adaptive grain: doc-grain and content-grain decontam kernels produce identical rows; the census picks by replication") {
    // round-18 advice #5: decontamShingleParts picks its group key
    // per run from a replication census — content hash at ≥1.5×
    // replication, the doc id below it. Both grains must be
    // output-identical (h is an opaque internal key), so the census
    // is a pure physical decision the oracles cannot observe. This
    // pins (a) the equivalence on a corpus with BOTH replication and
    // embedded/near-dup structure, (b) the census branch itself.
    import spark.implicits._
    val ten = (1 to 30).map(i => s"w$i")
    val body = ten.mkString(" ")
    val train = Seq(
      10L -> body, 11L -> body, 12L -> body, 13L -> body, // 4× replica
      14L -> ten.drop(3).mkString(" "),
      15L -> "entirely different content with many unique words here"
    ).toDF("doc_id", "text")
    val evalDocs = Seq(
      -1L -> ten.slice(5, 25).mkString(" "), // embedded extract
      -2L -> ten.take(29).mkString(" "), // near-copy
      -3L -> "no overlap at all with anything present"
    ).toDF("doc_id", "text")
    def outs(): (Set[(Long, Long, Double)], Set[(Long, Long, Double)]) = {
      val con = DedupQueries.containmentDecontamParts(train, evalDocs)._2
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val lsh = DedupQueries.lshDecontamParts(train, evalDocs)._2
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      (con, lsh)
    }
    try {
      DedupQueries.forceGrainForTest = Some(true)
      val (conC, lshC) = outs()
      DedupQueries.forceGrainForTest = Some(false)
      val (conD, lshD) = outs()
      assert(conC == conD, s"containment grain divergence: " +
        s"${(conC.diff(conD) ++ conD.diff(conC)).take(5)}")
      assert(lshC == lshD, s"lsh grain divergence: " +
        s"${(lshC.diff(lshD) ++ lshD.diff(lshC)).take(5)}")
      assert(conC.nonEmpty && lshC.nonEmpty,
        "fixture must actually flag pairs on both kernels")
      // the replicated pair fans out to every replica doc id
      assert((10L to 13L).forall(id => conC.exists(_._1 == id)))
    } finally DedupQueries.forceGrainForTest = None
    // census branch: the 6-doc train side has 3 distinct contents
    // (ratio 2.0 ≥ 1.5 → content grain); the unique eval side is
    // ratio 1.0 → doc grain
    DedupQueries.decontamShingleParts(train)
    assert(DedupQueries.lastCensus.get() == ((6L, 3L, true)),
      s"train census: ${DedupQueries.lastCensus.get()}")
    DedupQueries.decontamShingleParts(evalDocs)
    assert(DedupQueries.lastCensus.get() == ((3L, 3L, false)),
      s"eval census: ${DedupQueries.lastCensus.get()}")
    // bench observability (round-19 verdict #5): the drainable log
    // records EVERY decision in order, and draining empties it
    DedupQueries.drainCensusLog()
    DedupQueries.decontamShingleParts(train)
    DedupQueries.decontamShingleParts(evalDocs)
    assert(DedupQueries.drainCensusLog() ==
      Seq((6L, 3L, true), (3L, 3L, false)))
    assert(DedupQueries.drainCensusLog().isEmpty)
  }

  test("adaptive grain: the capped-posting pair family (q50/q99/q112/q281) and q51 are grain-invariant") {
    // round-19 verdict #2: the census extends to the pair family —
    // cap-first algebra keeps DOC-grain posting-cap semantics on the
    // content branch, so both grains must produce identical rows for
    // every query in the family, on a fixture with replication
    // (docs 1 and 5 are exact copies, so the planted corpus trips
    // real content groups), near-dups at and below the thresholds,
    // and a no-shingle doc.
    val family = Seq("q50_ngram_jaccard", "q51_minhash_lsh",
      "q99_dup_clusters", "q112_containment", "q281_cluster_split")
    def run(name: String): Set[Seq[Any]] =
      q(name).build(spark, fixtureDir).collect().map(_.toSeq).toSet
    try {
      for (name <- family) {
        DedupQueries.forceGrainForTest = Some(true)
        val content = run(name)
        DedupQueries.forceGrainForTest = Some(false)
        val doc = run(name)
        assert(content == doc, s"$name grain divergence: " +
          s"${(content.diff(doc) ++ doc.diff(content)).take(5)}")
        assert(content.nonEmpty, s"$name produced no rows — the " +
          "fixture no longer exercises the kernel")
      }
    } finally DedupQueries.forceGrainForTest = None
  }

  test("q297 census rows match a brute-force normalize/hash mirror") {
    // independent mirror: normalization re-implemented in plain Scala
    // (the fixture is ASCII, so the İ/Σ translate is a no-op here —
    // the adversarial differential covers that edge), census math in
    // exact integers
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(graft.Tables.tuned(spark), dir,
      "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)))).toSeq
    def norm(t: String): String =
      t.toLowerCase.trim.replaceAll("[ \\t\\n\\f\\r]+", " ")
    def words(t: String): Array[String] = norm(t).split(" ")
    // the planted corpus: base ∪ exact copies (id<20, +200000) ∪
    // near-dups (id<10, drop last word, +100000)
    val corpus = docs.map { case (id, _, t) => (id, t) } ++
      docs.filter(_._1 < 20).map { case (id, _, t) =>
        (id + 200000, t) } ++
      docs.filter(_._1 < 10).map { case (id, _, t) =>
        (id + 100000, t.map(x => words(x).dropRight(1).mkString(" "))) }
    def census(ts: Seq[Option[String]]): (Long, Long) = {
      val ns = ts.flatten.map(norm)
      (ns.size.toLong, ns.distinct.size.toLong)
    }
    val expected = (docs.groupBy(_._2).map { case (src, g) =>
      src -> census(g.map(_._3)) } +
      ("__corpus__" -> census(corpus.map(_._2)))).map {
      case (scope, (n, c)) =>
        (scope, n, c, n * 1000000L / c, n * 2 >= c * 3)
    }.toSet
    val got = q("q297_replication_census").build(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSet
    assert(got == expected,
      s"census diff: ${(got.diff(expected) ++ expected.diff(got)).take(4)}")
  }
}
