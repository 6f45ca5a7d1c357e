package graft.tools

import org.apache.spark.sql.SparkSession

import graft.operators.{GatedBroadcast, PrefixPass}

/** Crossover measurement harness for SCALE.md: times each scale-shaped
  * query in BOTH its shapes — the registry's distributed shape and the
  * naive single-partition / unconditional-broadcast shape it replaces —
  * at a given sf directory, from the SAME query code.
  *
  * Shapes are flipped by session conf only:
  *   - PrefixPass queries (q94/q159/q178/q182): `graft.prefixpass.naive`
  *     = true runs every primitive as the plain window formulation
  *     (unpartitioned `Window.orderBy` → SinglePartition exchange).
  *   - GatedBroadcast queries (q135/q163): `graft.broadcast.rowLimit`
  *     = 0 pins the shuffled-join fallback; default (5M) lets the
  *     gate hint broadcast while the measured side is bounded.
  *
  * Usage: runMain graft.tools.ScaleBench <sfDir> [query ...]
  * Prints one JSON line per (query, shape) with min-of-2 seconds.
  */
object ScaleBench {

  private val PrefixQueries = Seq(
    "q94_ntile_buckets", "q159_skyline", "q178_abc_classes",
    "q182_rfm_segments")
  private val GatedQueries = Seq(
    "q135_copurchase_pagerank", "q163_bfs_hops")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else PrefixQueries ++ GatedQueries
    val runner = new Runner(sfDir, spark => {
      PeakHeap.install(spark.sparkContext)
      spark.range(1000000).selectExpr("sum(id)").collect()
    })
    names.foreach { name =>
      val spark = runner.next()
      // deterministic broadcast reclamation (see Bench's GC policy)
      def cleanup(): Unit = { Runner.release(spark); System.gc() }
      // returns (min-of-2 seconds, MAX post-GC heap GB across both
      // runs, the stages live at that worst snapshot, MAX old-gen
      // after-GC GB)
      def time(name: String): (Double, Double, String, Double) = {
        def once(): (Double, Double, String, Double) = {
          PeakHeap.reset()
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          val r = (dt, PeakHeap.postGcPeakGb, PeakHeap.postGcPeakStage,
            PeakHeap.oldGenPeakGb)
          cleanup()
          r
        }
        val a = once(); val b = once()
        val live = if (a._2 >= b._2) a else b
        (math.min(a._1, b._1), live._2, live._3, math.max(a._4, b._4))
      }
      if (name == "probe:dedup") { dedupProbe(spark, sfDir); cleanup() }
      else if (name == "probe:recall") { recallProbe(spark, sfDir); cleanup() }
      else if (name == "probe:decontam") {
        decontamProbe(spark, sfDir); cleanup()
      } else if (name == "probe:semantic") {
        semanticProbe(spark, sfDir); cleanup()
      } else runShapes(spark, sfDir, name, time)
    }
    runner.stop()
  }

  private def runShapes(spark: SparkSession, sfDir: String, name: String,
      time: String => (Double, Double, String, Double)): Unit = {
    {
      val shapes: Seq[(String, () => Unit, () => Unit)] =
        // GRAFT_SCALE_SHAPE=registry: time only the shipped shape (for
        // heap-margin probes, where the naive comparison shape would
        // multiply a long run for no new information)
        if (sys.env.get("GRAFT_SCALE_SHAPE").contains("registry"))
          Seq(("registry", () => (), () => ()))
        else if (PrefixQueries.contains(name)) Seq(
          ("twophase", () => (), () => ()),
          ("naive_window",
            () => spark.conf.set(PrefixPass.NaiveConfKey, "true"),
            () => spark.conf.unset(PrefixPass.NaiveConfKey)))
        else if (!GatedQueries.contains(name))
          // no shape toggle for this query: a single plain timing
          // (used for the linear-scaling measurements of the corpus
          // wave — sf0.1 vs the GenScale x10 fixture)
          Seq(("plain", () => (), () => ()))
        else Seq(
          ("gated_broadcast", () => (), () => ()),
          ("shuffle_join",
            () => spark.conf.set(GatedBroadcast.ConfKey, "0"),
            () => spark.conf.unset(GatedBroadcast.ConfKey)))
      shapes.foreach { case (shape, set, unset) =>
        set()
        try {
          val (dt, liveGb, liveStage, oldGb) = time(name)
          val st = liveStage.replace("\\", "\\\\").replace("\"", "\\\"")
          println(f"""{"query":"$name","shape":"$shape","sec":$dt%.3f,""" +
            f""""post_gc_peak_gb":$liveGb%.2f,""" +
            f""""old_gen_peak_gb":$oldGb%.2f,""" +
            f""""xmx_gb":${PeakHeap.xmxGb}%.2f,""" +
            s""""peak_stage":"$st","sf":"$sfDir"}""")
        } finally unset()
      }
    }
  }

  /** SCALE.md candidate-growth probe for the dedup family (round-9
    * advice #2): counts the EXACT candidate frames q50/q112 (capped
    * posting lists) and q51 (LSH band buckets) join, next to corpus
    * size and verified-output size, so SCALE.md can state measured
    * candidate growth instead of a design argument. */
  private def dedupProbe(spark: SparkSession, sfDir: String): Unit = {
    val docs = graft.Tables.load(graft.Tables.tuned(spark), sfDir, "documents")
    val nDocs = docs.count()
    val (cand50, _) = graft.operators.DedupQueries.prunedCandParts(docs)
    val nCand50 = cand50.count()
    val nOut50 = graft.SparkEntry.queries("q50_ngram_jaccard")(spark, sfDir).count()
    val (cand51, _) = graft.operators.DedupQueries.lshBandParts(docs)
    val nCand51 = cand51.count()
    val nOut51 = graft.SparkEntry.queries("q51_minhash_lsh")(spark, sfDir).count()
    println(s"""{"probe":"dedup","sf":"$sfDir","n_docs":$nDocs,""" +
      s""""cand_posting_cap":$nCand50,"out_q50":$nOut50,""" +
      s""""cand_lsh_bands":$nCand51,"out_q51":$nOut51}""")
  }

  /** SCALE.md decontamination recall probe (round-10 advice #3):
    * plants KNOWN leaks — train copies of eval-side documents mutated
    * at controlled word-replacement distances d (d evenly-spaced words
    * replaced by unique sentinels) — into the full corpus, runs the
    * exact q232 machinery ([[graft.operators.DedupQueries
    * .lshDecontamParts]], never a reimplementation), and reports per
    * distance: the banding's candidate recall, the verified flag
    * recall, and the mean true Jaccard. Candidate recall < flag
    * recall separation attributes misses to the 4-band/2-row scheme
    * vs the 0.5 verify threshold. An 8-band/1-row alternative is
    * measured alongside to answer "is the default banding right".
    */
  private def decontamProbe(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DoubleType, IntegerType}
    import graft.functions.TextOps
    val docs = graft.Tables.load(graft.Tables.tuned(spark), sfDir,
      "documents")
    // deterministic eval sample: base-band originals (GenScale copies
    // stride >= 1M) long enough that d=8 still leaves shingle mass
    val base = docs
      .filter(col("doc_id") % 25 === 0 && col("doc_id") < 1000000)
      .withColumn("w", TextOps.words(col("text")))
      .filter(size(col("w")) >= 30)
      .select(col("doc_id"), col("w"))
      .localCheckpoint()
    val dists = Seq(0, 1, 2, 3, 4, 6, 8)
    // single source of truth for the planted-id encoding: doc_id +
    // (d+1)*Stride; used by BOTH the planted frame and the hits join
    val Stride = 1000000000000L
    val plantedId = s"src + (d + 1) * ${Stride}L"
    def mutated(d: Int): org.apache.spark.sql.Column =
      if (d == 0) col("w")
      else {
        val pos = array((0 until d).map(k =>
          (lit(k) * size(col("w")) / lit(d)).cast(IntegerType)): _*)
        transform(col("w"), (x, i) =>
          when(array_contains(pos, i.cast(IntegerType)),
            concat(lit(s"zzleak${d}x"), i.cast("string"))).otherwise(x))
      }
    // per-(src, d) planted copy + its true Jaccard against the source
    val pairs = dists.map { d =>
      base.select(col("doc_id").as("src"), lit(d).as("d"),
        array_join(col("w"), " ").as("otext"),
        array_join(mutated(d), " ").as("mtext"))
    }.reduce(_ unionByName _)
      .withColumn("sh1", TextOps.shingleSet(TextOps.words(col("otext")), 5))
      .withColumn("sh2", TextOps.shingleSet(TextOps.words(col("mtext")), 5))
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jac", col("inter").cast(DoubleType) /
        (size(col("sh1")) + size(col("sh2")) - col("inter")))
      .select(col("src"), col("d"), col("mtext"), col("jac"))
      .localCheckpoint()
    // stride encodes d so expected train ids are reconstructable
    val planted = pairs.select(
      expr(plantedId).as("doc_id"),
      col("mtext").as("text"))
    val train = docs.select(col("doc_id"), col("text"))
      .unionByName(planted.select(col("doc_id"), col("text")))
    val evalDocs = base.select(col("doc_id"),
      array_join(col("w"), " ").as("text"))
    def measure(bands: Int, rows: Int)
        : (Long, Map[Int, (Long, Long)]) = {
      val (cand, flagged) = graft.operators.DedupQueries
        .lshDecontamParts(train, evalDocs, bands, rows)
      val candC = cand.localCheckpoint()
      val totalCand = candC.count() // corpus-wide candidate COST
      def hits(df: DataFrame): Map[Int, Long] = df
        .join(pairs.select(col("src"),
          expr(plantedId).as("tid"), col("d")),
          col("train_id") === col("tid") && col("eval_id") === col("src"))
        .groupBy(col("d")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val c = hits(candC.select(col("train_id"), col("eval_id")))
      val f = hits(flagged.select(col("train_id"), col("eval_id")))
      (totalCand,
        dists.map(d => d -> ((c.getOrElse(d, 0L), f.getOrElse(d, 0L))))
          .toMap)
    }
    val (tot42, def42) = measure(4, 2)
    val (tot81, alt81) = measure(8, 1)
    println(s"""{"probe":"decontam_cost","sf":"$sfDir",""" +
      s""""total_cand_4x2":$tot42,"total_cand_8x1":$tot81}""")
    val nPlanted = pairs.filter(col("d") === 0).count()
    val jacByD = pairs.groupBy(col("d"))
      .agg(avg(col("jac")).as("mj"), min(col("jac")).as("minj"))
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    dists.foreach { d =>
      val (c42, f42) = def42(d)
      val (c81, f81) = alt81(d)
      val (mj, minj) = jacByD(d)
      println(s"""{"probe":"decontam","sf":"$sfDir","d":$d,""" +
        s""""n":$nPlanted,"mean_jac":${f"$mj%.3f"},""" +
        s""""min_jac":${f"$minj%.3f"},""" +
        s""""cand_4x2":$c42,"flag_4x2":$f42,""" +
        s""""cand_8x1":$c81,"flag_8x1":$f81}""")
    }
    // ---- embedded-leak plants (round-11 advice #4): each eval doc
    // pasted VERBATIM into an ~11x longer train doc (5n unique pad
    // words each side). True Jaccard ~ 1/11 << 0.5 at edit distance
    // 0, so the q232 scheme misses these BY CONTRACT; the q245
    // containment machinery must flag them (containment = 1.0 — every
    // extract shingle is a host shingle). Both schemes measured on
    // the exact shipped code paths.
    val EmbStride = Stride * 100
    val emb = base
      .select(col("doc_id").as("src"), col("w"))
      .withColumn("npad", size(col("w")) * 5)
      .withColumn("pre", transform(sequence(lit(0), col("npad") - 1),
        i => concat(lit("pada"), col("src").cast("string"), lit("x"),
          i.cast("string"))))
      .withColumn("post", transform(sequence(lit(0), col("npad") - 1),
        i => concat(lit("padb"), col("src").cast("string"), lit("x"),
          i.cast("string"))))
      .select(col("src"),
        array_join(concat(col("pre"), col("w"), col("post")), " ")
          .as("mtext"))
      .localCheckpoint()
    val embJac = emb
      .join(base.select(col("doc_id").as("src"),
        array_join(col("w"), " ").as("otext")), "src")
      .withColumn("sh1", TextOps.shingleSet(TextOps.words(col("mtext")), 5))
      .withColumn("sh2", TextOps.shingleSet(TextOps.words(col("otext")), 5))
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .agg(avg(col("inter").cast(DoubleType) /
        (size(col("sh1")) + size(col("sh2")) - col("inter"))))
      .head().getDouble(0)
    val trainEmb = docs.select(col("doc_id"), col("text"))
      .unionByName(emb.select(
        expr(s"src + ${EmbStride}L").as("doc_id"), col("mtext").as("text")))
    def embHits(df: DataFrame): Long = df
      .join(emb.select(col("src"), expr(s"src + ${EmbStride}L").as("tid")),
        col("train_id") === col("tid") && col("eval_id") === col("src"))
      .count()
    val (candL, flagL) = graft.operators.DedupQueries
      .lshDecontamParts(trainEmb, evalDocs, bands = 8, rowsPerBand = 1)
    val (candCo, flagCo) = graft.operators.DedupQueries
      .containmentDecontamParts(trainEmb, evalDocs)
    val nEmb = emb.count()
    println(s"""{"probe":"decontam_embedded","sf":"$sfDir","n":$nEmb,""" +
      s""""mean_jac":${f"$embJac%.3f"},""" +
      s""""cand_8x1":${embHits(candL)},"flag_8x1":${embHits(flagL)},""" +
      s""""cand_containment":${embHits(candCo)},""" +
      s""""flag_containment":${embHits(flagCo)}}""")
  }

  /** SCALE.md semantic-decontamination probe (round-13 advice #2):
    * plants the PARAPHRASED leak shape q247/q248 encode — every-2nd-
    * word substitution (destroys every 5-gram shingle) tied to a
    * +0.01-perturbed copy of the doc's embedding — and runs all three
    * SHIPPED detector kernels on the same plants: the two lexical
    * paths must miss them (no shingle survives the rewrite, so
    * neither a MinHash signature coincidence nor a capped-posting
    * shared shingle exists), the q248 embedding-grain path must flag
    * them. Also reports the semantic candidate-join cost (bucket
    * fan-out), the planted pairs' mean true cosine, and the
    * multiprobe's candidate recall (did the 1-bit probe set reach the
    * true bucket) separately from flag recall. */
  private def semanticProbe(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DoubleType
    import graft.functions.TextOps
    val docs = graft.Tables.load(graft.Tables.tuned(spark), sfDir,
      "documents")
    val emb = graft.Tables.load(graft.Tables.tuned(spark), sfDir,
      "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    // the exact q247 paraphrase-plant construction (ids -2k-3)
    val para = docs.filter(col("doc_id") % 50 === 0)
      .withColumn("w", TextOps.words(col("text")))
      .select(col("doc_id"), (col("doc_id") * -2 - 3).as("eval_id"),
        array_join(transform(col("w"), (x, i) =>
          when(i % 2 === 1, lit("xq")).otherwise(x)), " ").as("text"))
      .join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("src"), col("eval_id"), col("text"),
        transform(col("v"), (x, i) =>
          when(i % 7 === 0, x + lit(0.01)).otherwise(x)).as("v"))
      .localCheckpoint()
    val n = para.count()
    val evalText = para.select(col("eval_id").as("doc_id"), col("text"))
    def hits(df: DataFrame): Long = df
      .join(para.select(col("src"), col("eval_id").as("eid")),
        col("train_id") === col("src") && col("eval_id") === col("eid"))
      .count()
    val flagL = graft.operators.DedupQueries
      .lshDecontamParts(docs, evalText, bands = 8, rowsPerBand = 1)._2
    val flagC = graft.operators.DedupQueries
      .containmentDecontamParts(docs, evalText)._2
    val (candS, flagS) = graft.operators.SimilarityQueries
      .semanticDecontamParts(emb, para.select(col("eval_id"), col("v")))
    val candSC = candS.localCheckpoint()
    val meanSim = para.alias("p")
      .join(emb.alias("t"), col("p.src") === col("t.vec_id"))
      .select((graft.plans.VectorFunctions.dot(col("p.v"), col("t.v")) /
        (sqrt(graft.plans.VectorFunctions.dot(col("p.v"), col("p.v"))) *
          sqrt(graft.plans.VectorFunctions.dot(col("t.v"), col("t.v")))))
        .as("sim"))
      .agg(avg(col("sim"))).head().getDouble(0)
    println(s"""{"probe":"semantic_decontam","sf":"$sfDir","n":$n,""" +
      f""""mean_true_sim":$meanSim%.5f,""" +
      s""""flag_lsh":${hits(flagL)},""" +
      s""""flag_containment":${hits(flagC)},""" +
      s""""cand_semantic_total":${candSC.count()},""" +
      s""""cand_semantic_planted":${hits(candSC)},""" +
      s""""flag_semantic":${hits(flagS)}}""")
  }

  /** SCALE.md ANN recall probe (round-9 advice #5): recall@10 of the
    * multiprobe LSH (q101's own output), plus recall@5 of the
    * single-bucket LSH query (q56) and the IVF nprobe=2 query (q59)
    * against the exact scan (q53, self excluded) — all through the
    * registry queries themselves. */
  private def recallProbe(spark: SparkSession, sfDir: String): Unit = {
    val r101 = graft.SparkEntry.queries("q101_ann_recall")(spark, sfDir)
      .collect().head
    val exact5 = graft.SparkEntry.queries("q53_cosine_knn")(spark, sfDir)
      .collect().map(_.getLong(0)).filter(_ != 0L).take(5).toSet
    def top5(name: String): Set[Long] =
      graft.SparkEntry.queries(name)(spark, sfDir)
        .collect().map(_.getLong(0)).take(5).toSet
    val lsh5 = top5("q56_ann_lsh_query")
    val ivf5 = top5("q59_ivf_ann")
    val rl = (exact5 & lsh5).size / 5.0
    val ri = (exact5 & ivf5).size / 5.0
    println(s"""{"probe":"recall","sf":"$sfDir",""" +
      s""""multiprobe_recall10":${r101.getAs[Double]("recall")},""" +
      f""""lsh_bucket_recall5":$rl%.2f,"ivf_recall5":$ri%.2f}""")
  }
}
