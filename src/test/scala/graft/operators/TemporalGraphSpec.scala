package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the graph/temporal/quality operators (q162-q168)
  * beyond the oracle hash: bitmap-vs-set equivalence, BFS frontier
  * soundness, proration exactness (allocations sum to the order total
  * by construction, not approximately), forward-fill carry semantics,
  * and recursion-vs-window agreement.
  */
class TemporalGraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def df(name: String) = graft.Queries.queries(name)(spark, dir)

  test("q162_bitmap_segments: popcount overlap equals set-intersection size") {
    val got = df("q162_bitmap_segments").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getAs[Long]("n_common")))
      .toMap
    val ev = graft.Tables.load(graft.Tables.tuned(spark), dir, "events")
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id")).distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val bySeg = ev.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for {
      (a, sa) <- bySeg; (b, sb) <- bySeg if a < b
      n = (sa & sb).size.toLong if n > 0
    } assert(got((a, b)) == n, s"pair ($a,$b)")
  }

  test("q163_bfs_hops: hop-h node has an edge from some hop-(h-1) node") {
    val rows = df("q163_bfs_hops").collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("hops")))
    assert(rows.count(_._2 == 0L) == 1)
    val li = graft.Tables.load(graft.Tables.tuned(spark), dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.toList
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.toSet
    val byHop = rows.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    for (h <- 1L to 3L if byHop.contains(h); n <- byHop(h)) {
      assert(byHop(h - 1).exists(p => edges((p, n))), s"node $n at hop $h")
      // minimality: no edge from any strictly earlier frontier
      for (e <- 0L until h - 1)
        assert(!byHop(e).exists(p => edges((p, n))), s"node $n not minimal")
    }
  }

  test("q163 bfs shuffle path: no broadcast hint, no auto-broadcast, " +
      "same result") {
    val expected = df("q163_bfs_hops").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val abtKey = "spark.sql.autoBroadcastJoinThreshold"
    val oldAbt = spark.conf.get(abtKey)
    spark.conf.set(GatedBroadcast.ConfKey, "0")
    spark.conf.set(abtKey, "-1")
    try {
      // with the hint gated off AND auto-broadcast disabled, every
      // BFS round genuinely plans shuffled joins on the node key —
      // the path a dimension-sized visited set takes at 100x
      val got = df("q163_bfs_hops").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected && got.nonEmpty)
    } finally {
      spark.conf.unset(GatedBroadcast.ConfKey)
      spark.conf.set(abtKey, oldAbt)
    }
  }

  test("q165_proration: allocations sum exactly to the order's cents") {
    val alloc = df("q165_proration")
      .groupBy(col("l_orderkey")).agg(sum(col("alloc_cents")).as("s"))
    val totals = graft.Tables.load(graft.Tables.tuned(spark), dir, "orders")
      .filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents_total"))
    val bad = alloc.join(totals, alloc("l_orderkey") === totals("o_orderkey"))
      .filter(col("s") =!= col("cents_total"))
    assert(bad.count() == 0)
  }

  test("q164_gapfill_ffill: fill is null before first activity, set after") {
    val rows = df("q164_gapfill_ffill").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("day"),
        Option(r.getAs[Any]("filled_max"))))
    rows.groupBy(_._1).foreach { case (_, u) =>
      val sorted = u.sortBy(_._2)
      // once non-null, stays non-null (forward fill never un-fills)
      val firstSet = sorted.indexWhere(_._3.isDefined)
      assert(firstSet >= 0)
      assert(sorted.drop(firstSet).forall(_._3.isDefined))
      assert(sorted.take(firstSet).forall(_._3.isEmpty))
    }
  }

  test("q166_trailing_distinct: trailing count >= any single-day count") {
    val ev = graft.Tables.load(graft.Tables.tuned(spark), dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        col("user_id"))
    val daily = ev.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("d1")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    df("q166_trailing_distinct").collect().foreach { r =>
      val day = r.getString(0)
      val n7: Long = r.getAs[Long]("n_active_7d")
      assert(n7 >= daily(day), s"day $day")
    }
  }

  test("q167_recursive_chain: last step equals spend over the walked links") {
    val chain = df("q167_recursive_chain")
    val lastStep = chain.groupBy(col("o_custkey"))
      .agg(max(struct(col("step"), col("cum_cents"))).as("m"))
      .select(col("o_custkey"), col("m.cum_cents").as("final_cents"))
    import org.apache.spark.sql.expressions.Window
    val totals = graft.Tables.load(graft.Tables.tuned(spark), dir, "orders")
      .filter(col("o_custkey") % 5 === 0)
      .withColumn("rn", row_number().over(Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))))
      .filter(col("rn") <= 10) // the walk is capped at 10 links
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("t"))
    val bad = lastStep.join(totals, Seq("o_custkey"))
      .filter(col("final_cents") =!= col("t"))
    assert(bad.count() == 0)
  }

  test("q169_regional_revenue: ASIA nations only, positive exact revenue") {
    val rows = df("q169_regional_revenue").collect()
    assert(rows.nonEmpty && rows.length <= 5) // ASIA holds 5 nations
    rows.foreach { r =>
      assert(r.getAs[Double]("revenue") > 0.0)
      assert(r.getAs[Long]("n_items") > 0L)
    }
  }

  test("q170_lateral_topk: at most 3 per nation, true per-nation maxima") {
    val got = df("q170_lateral_topk").collect()
      .map(r => (r.getString(0), r.getAs[Double]("acctbal")))
    val perNation = got.groupBy(_._1)
    assert(perNation.values.forall(_.length <= 3))
    // each nation's reported minimum beats every unreported customer
    val cust = graft.Tables.load(graft.Tables.tuned(spark), dir, "customer")
      .join(graft.Tables.load(graft.Tables.tuned(spark), dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_acctbal").cast("decimal(18,2)")
        .cast("double").as("b")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    perNation.foreach { case (n, top) =>
      val all = cust.filter(_._1 == n).map(_._2).sorted(Ordering[Double].reverse)
      val k = top.length
      assert(top.map(_._2).sum == all.take(k).sum, s"nation $n")
    }
  }

  test("q171_interval_overlap: overlaps positive, bounded by window length") {
    val rows = df("q171_interval_overlap").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val o = r.getAs[Long]("overlap_ms")
      assert(o > 0L && o <= 18000000L)
    }
  }

  test("q172_attribution: purchases conserved across campaigns") {
    val total = df("q172_attribution").collect()
      .map(_.getAs[Long]("n_purchases")).sum
    val expected = graft.Tables.load(graft.Tables.tuned(spark), dir, "events")
      .filter(col("event_type") === "purchase").count()
    assert(total == expected)
  }

  test("q173_linear_interp: interpolated cells lie between their anchors") {
    val rows = df("q173_linear_interp").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getString(1), r.getString(2),
        Option(r.getAs[Any]("val")).map(_.asInstanceOf[Double])))
    assert(rows.exists(_._3 == "interp") && rows.exists(_._3 == "obs"))
    rows.groupBy(_._1).foreach { case (_, u) =>
      val sorted = u.sortBy(_._2)
      val obsVals = sorted.filter(_._3 == "obs").map(_._4.get)
      val (lo, hi) = (obsVals.min, obsVals.max)
      sorted.foreach {
        case (_, d, "interp", Some(v)) =>
          assert(v >= lo - 1e-9 && v <= hi + 1e-9, s"day $d")
        case (_, d, "edge", v) => assert(v.isEmpty, s"edge day $d has value")
        case _ => ()
      }
    }
  }

  test("q168_dq_audit: clean-data constraints hold; profile checks fire") {
    val m = df("q168_dq_audit").collect()
      .map(r => (r.getString(0), r.getAs[Long]("violations"))).toMap
    assert(m.size == 9)
    for (zero <- Seq("orders_pk_dup", "lineitem_fk_orphan",
      "lineitem_qty_domain", "lineitem_price_nonpos",
      "orders_status_domain"))
      assert(m(zero) == 0L, zero)
    assert(m("lineitem_qty_high") > 0L)
    assert(m.values.forall(_ >= 0L))
  }


  test("q229_event_funnel: greedy chain counts match driver brute force") {
    import org.apache.spark.sql.functions.col
    val rows = graft.Queries.queries("q229_event_funnel")(spark, dir)
      .collect().map(r => r.getAs[Int]("step") ->
        r.getAs[Long]("n_users")).toMap
    val ev = graft.Tables.load(graft.Tables.tuned(spark), dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime))
    val byUser = ev.groupBy(_._1)
    var (n1, n2, n3) = (0L, 0L, 0L)
    byUser.values.foreach { g =>
      val views = g.filter(_._2 == "view").map(_._3)
      if (views.nonEmpty) {
        n1 += 1
        val t1 = views.min
        val clicks = g.filter(e => e._2 == "click" && e._3 > t1).map(_._3)
        if (clicks.nonEmpty) {
          n2 += 1
          val t2 = clicks.min
          if (g.exists(e => e._2 == "purchase" && e._3 > t2)) n3 += 1
        }
      }
    }
    assert(rows(1) == n1 && rows(2) == n2 && rows(3) == n3,
      s"got $rows, brute force ($n1, $n2, $n3)")
    // monotone funnel
    assert(n1 >= n2 && n2 >= n3)
  }
}
