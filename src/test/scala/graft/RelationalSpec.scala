package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("all declared queries run and return rows at sf0.001") {
    // Tables.load applies its two set-once reader confs on first load;
    // after that, no query may change the shared session's conf.
    sources.Tables.events(spark, sf)
    sources.Tables.all.foreach(sources.Tables.load(spark, sf, _))
    // q9 can legitimately be tiny; everything else must be non-empty.
    SparkEntry.queries.foreach { case (name, fn) =>
      val conf = spark.conf.getAll
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      if (name != "q9_anti_join") assert(n > 0, s"$name returned no rows")
      assert(spark.conf.getAll == conf, s"$name changed the session conf")
    }
  }

  test("q1 aggregates are consistent with a direct recomputation") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    val total = df.agg(org.apache.spark.sql.functions.sum("count_order")).head.getLong(0)
    val li = sources.Tables.lineitem(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_shipdate") <= "1998-09-02")
    assert(total == li.count())
  }

  test("q2 top-k is sorted descending with unique keys") {
    val rows = SparkEntry.queries("q2_topk_orders")(spark, sf).collect()
    assert(rows.length == 10)
    val prices = rows.map(_.getAs[Double]("total_price"))
    assert(prices.sliding(2).forall(p => p(0) >= p(1)))
    assert(rows.map(_.getAs[Long]("o_orderkey")).distinct.length == 10)
  }

  test("q13 session counts bounded by event counts") {
    val rows = SparkEntry.queries("q13_sessionize")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Long]("n_sessions"); val e = r.getAs[Long]("n_events")
      assert(s >= 1 && s <= e)
    }
  }

  test("q17 salted agg equals direct groupBy") {
    val salted = SparkEntry.queries("q17_salted_agg")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val direct = sources.Tables.events(spark, sf)
      .groupBy("event_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(salted == direct)
  }

  test("approx_count_distinct within 5% of exact (HLL scale path)") {
    import org.apache.spark.sql.functions._
    val rows = sources.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact"),
        approx_count_distinct(col("user_id")).as("approx"))
      .collect()
    rows.foreach { r =>
      val e = r.getAs[Long]("exact").toDouble
      val a = r.getAs[Long]("approx").toDouble
      assert(math.abs(a - e) / e < 0.05, s"${r.getString(0)}: $a vs $e")
    }
  }

  test("q16 asof: every purchase row's click precedes it") {
    val rows = SparkEntry.queries("q16_asof_join")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.filter(!_.isNullAt(2)).foreach { r =>
      assert(r.getAs[Long]("click_id") < r.getAs[Long]("event_id"))
    }
  }

  test("q29 every kept order beats 1.5x its customer's average") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q29_correlated")(spark, sf)
    val orders = sources.Tables.orders(spark, sf)
      .groupBy(col("o_custkey").as("ck"))
      .agg(avg(col("o_totalprice")).as("true_avg"), count(lit(1)).as("n"))
    val joined = df.join(orders, col("o_custkey") === col("ck")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("n") >= 3)
      assert(r.getAs[Double]("total_price") >
        r.getAs[Double]("true_avg") * 1.5 - 0.02)
      // integer-cents average within one cent of the float average
      assert(math.abs(r.getAs[Long]("cust_avg_cents") / 100.0 -
        r.getAs[Double]("true_avg")) < 0.02)
    }
  }

  test("grouping sets = union of the three separate aggregations") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q30_grouping_sets")(spark, sf).collect()
    val li = sources.Tables.lineitem(spark, sf)
    val byFlag = li.groupBy(col("l_returnflag")).count().collect()
      .map(r => (r.getString(0), "ALL") -> r.getLong(1)).toMap
    val byStatus = li.groupBy(col("l_linestatus")).count().collect()
      .map(r => ("ALL", r.getString(0)) -> r.getLong(1)).toMap
    val total = Map(("ALL", "ALL") -> li.count())
    val expected = byFlag ++ byStatus ++ total
    val got = df.map(r => (r.getAs[String]("rflag"), r.getAs[String]("lstatus")) ->
      r.getAs[Long]("n")).toMap
    assert(got == expected)
  }

  test("funnel: stage matches present timestamps and steps are strictly ordered") {
    val rows = SparkEntry.queries("q31_funnel")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getAs[Long]("funnel_stage") == 3L), "some user completes the funnel")
    rows.foreach { r =>
      val stage = r.getAs[Long]("funnel_stage")
      val (v, c, p) = (r.getAs[String]("first_view"),
        r.getAs[String]("first_click"), r.getAs[String]("first_purchase"))
      assert((v != null) == (stage >= 1))
      assert((c != null) == (stage >= 2))
      assert((p != null) == (stage >= 3))
      // string timestamps compare chronologically (fixed format);
      // strict order is >= at second granularity after truncation
      if (c != null) assert(v <= c)
      if (p != null) assert(c <= p)
    }
  }

  test("retention: offset-0 cohort sizes add up to the distinct-user total") {
    val rows = SparkEntry.queries("q32_retention")(spark, sf).collect()
    val users = sources.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    val atZero = rows.filter(_.getAs[Long]("week_offset") == 0L)
      .map(_.getAs[Long]("n_users")).sum
    assert(atZero == users, "every user is active in their own cohort week")
    rows.foreach { r =>
      assert(r.getAs[Long]("cohort_week") >= 0L)
      assert(r.getAs[Long]("week_offset") >= 0L)
    }
  }

  test("market basket: pairs are ordered and bounded by single-part supports") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q33_market_basket")(spark, sf).collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    val support = sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy("l_partkey").count().collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("count")).toMap
    rows.foreach { r =>
      val (a, b, n) = (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"),
        r.getAs[Long]("n_orders"))
      assert(a < b)
      assert(n <= math.min(support(a), support(b)))
    }
  }

  test("attribution: purchase counts per touch add up to all purchases") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q35_attribution")(spark, sf).collect()
    val purchases = sources.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(rows.map(_.getAs[Long]("n_purchases")).sum == purchases)
    val types = rows.map(_.getAs[String]("touch_type")).toSet
    assert(types.subsetOf(Set("view", "click", "none")))
  }

  test("histogram: bin counts partition the orders table") {
    val rows = SparkEntry.queries("q36_histogram")(spark, sf).collect()
    val orders = sources.Tables.orders(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum == orders)
    rows.foreach { r =>
      assert(r.getAs[Long]("bin_lo") == r.getAs[Long]("bin") * 25000)
      assert(r.getAs[Double]("min_price") <= r.getAs[Double]("max_price"))
    }
  }

  test("pagerank: top-20 is rank-sorted with unique parts, positive mass") {
    val rows = SparkEntry.queries("q37_pagerank")(spark, sf).collect()
    assert(rows.length == 20)
    assert(rows.map(_.getAs[Long]("part")).distinct.length == 20)
    val ranks = rows.map(_.getAs[Long]("rank"))
    assert(ranks.sliding(2).forall(p => p(0) >= p(1)))
    assert(ranks.forall(_ > 0L))
  }

  test("kmv sketch: estimate within 20% of the exact distinct count") {
    val r = SparkEntry.queries("q38_kmv_distinct")(spark, sf).head()
    val est = r.getAs[Long]("est_distinct")
    val exact = r.getAs[Long]("true_distinct")
    // k=256 gives ~1/sqrt(k-2) ≈ 6% relative error; 20% is a loose bar
    assert(math.abs(est - exact).toDouble / exact < 0.20,
      s"KMV estimate $est vs exact $exact")
  }

  test("hll sketch: matches an independent plain-Scala refit exactly, error within 20%") {
    val r = SparkEntry.queries("q47_hll_distinct")(spark, sf).head()
    val est = r.getAs[Long]("est_distinct")
    val exact = r.getAs[Long]("true_distinct")
    // m=256 registers give ~1.04/sqrt(m) ≈ 6.5% relative error; 20% is loose
    assert(math.abs(est - exact).toDouble / exact < 0.20, s"HLL estimate $est vs exact $exact")

    // independent refit: same md5-prefix hashes, registers and
    // estimator recomputed in plain Scala — must agree bit-for-bit
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = graft.sources.Tables.orders(spark, sf)
      .select(org.apache.spark.sql.functions.col("o_orderkey").cast("string"))
      .collect().map(_.getString(0))
      .map { s =>
        val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.substring(0, 12), 16)
      }.distinct
    val regs = Array.fill(256)(0)
    hashes.foreach { h =>
      val idx = (h >>> 40).toInt
      val w = h & ((1L << 40) - 1)
      val rho = if (w == 0) 41 else 41 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > regs(idx)) regs(idx) = rho
    }
    val zNum = regs.map(mj => 1L << (50 - mj)).sum
    val v = regs.count(_ == 0)
    val estRaw = 0.7213 / (1.0 + 1.079 / 256) * 256 * 256 * (1L << 50) / zNum.toDouble
    val estModel =
      if (v > 0 && estRaw <= 640.0) 256.0 * math.log(256.0 / v) else estRaw
    assert(exact == hashes.length.toLong, "distinct-hash count mismatch")
    assert(est == math.floor(estModel).toLong,
      s"engine est $est vs plain-Scala refit ${math.floor(estModel).toLong}")
    // the linear-counting branch must be out of range at every tested
    // SF (its ln() is the one non-portable float op in the algorithm)
    assert(estRaw > 640.0, "small-range branch unexpectedly reachable")
  }

  test("hll setops: union registers are the elementwise max merge; estimates within 20%") {
    val r = SparkEntry.queries("q49_hll_setops")(spark, sf).head()
    val (ta, tb, tu, ti) = (r.getAs[Long]("true_a"), r.getAs[Long]("true_b"),
      r.getAs[Long]("true_union"), r.getAs[Long]("true_intersect"))
    // set-algebra sanity on the exact counts
    assert(tu <= ta + tb && tu >= math.max(ta, tb) && ti >= 0 && ti == ta + tb - tu)
    // each estimate within the loose 20% bar (1.04/sqrt(256) = 6.5% expected)
    for ((e, t) <- Seq(("est_a", ta), ("est_b", tb), ("est_union", tu))) {
      val est = r.getAs[Long](e)
      assert(math.abs(est - t).toDouble / t < 0.20, s"$e=$est vs true=$t")
    }
    // independent plain-Scala refit: registers per population, union
    // by elementwise max, the exact q47 estimator — engine must agree
    // bit-for-bit on all three estimates
    val md = java.security.MessageDigest.getInstance("MD5")
    def regsOf(lo: String, hi: String): Array[Int] = {
      val hs = graft.sources.Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_orderdate") >= lo &&
          org.apache.spark.sql.functions.col("o_orderdate") < hi)
        .select(org.apache.spark.sql.functions.col("o_custkey").cast("string"))
        .collect().map(_.getString(0)).map { s =>
          val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
          java.lang.Long.parseLong(hex.substring(0, 12), 16)
        }.distinct
      val regs = Array.fill(256)(0)
      hs.foreach { h =>
        val idx = (h >>> 40).toInt
        val w = h & ((1L << 40) - 1)
        val rho = if (w == 0) 41 else 41 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        if (rho > regs(idx)) regs(idx) = rho
      }
      regs
    }
    def estOf(regs: Array[Int]): Long = {
      val zNum = regs.map(mj => 1L << (50 - mj)).sum
      val v = regs.count(_ == 0)
      val raw = 0.7213 / (1.0 + 1.079 / 256) * 256 * 256 * (1L << 50) / zNum.toDouble
      math.floor(if (v > 0 && raw <= 640.0) 256.0 * math.log(256.0 / v) else raw).toLong
    }
    val ra = regsOf("1995-01-01", "1998-01-01")
    val rb = regsOf("1998-01-01", "2002-01-01")
    val ru = ra.zip(rb).map { case (x, y) => math.max(x, y) }
    assert(r.getAs[Long]("est_a") == estOf(ra))
    assert(r.getAs[Long]("est_b") == estOf(rb))
    assert(r.getAs[Long]("est_union") == estOf(ru), "union sketch is not the register-max merge")
  }

  test("triangle count: matches a brute-force plain-Scala recount") {
    val r = SparkEntry.queries("q48_triangles")(spark, sf).head()
    // brute force on the collected edge set (test SF only)
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_partkey"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val byOrder = li.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
    val edges = byOrder.values.flatMap(ps =>
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))).toSet
    val adj = edges.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keySet
    val wedges = nodes.toSeq.map { n => val d = adj(n).size.toLong; d * (d - 1) / 2 }.sum
    val triangles = edges.toSeq.map { case (a, b) => (adj(a) & adj(b)).count(c => c > b) }.sum
    assert(r.getAs[Long]("n_nodes") == nodes.size.toLong)
    assert(r.getAs[Long]("n_edges") == edges.size.toLong)
    assert(r.getAs[Long]("n_wedges") == wedges)
    assert(r.getAs[Long]("n_triangles") == triangles.toLong,
      s"engine ${r.getAs[Long]("n_triangles")} vs brute force $triangles")
  }

  test("label propagation: 3 synchronous rounds recomputed in plain Scala") {
    val out = SparkEntry.queries("q50_label_propagation")(spark, sf).collect()
      .map(r => r.getAs[Long]("community_size") -> r.getAs[Long]("n_communities"))
      .toMap
    // plain-Scala synchronous LPA on the collected edge set
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_partkey"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = edges.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl: Map[Long, Long] = adj.keySet.map(n => n -> n).toMap
    for (_ <- 1 to graft.operators.Relational.LpaRounds) {
      lbl = adj.map { case (n, nbrs) =>
        // most frequent neighbor label, smallest label on ties
        val best = nbrs.map(lbl).groupBy(identity).view.mapValues(_.size)
          .toSeq.maxBy { case (l, c) => (c, -l) }._1
        n -> best
      }
    }
    val census = lbl.values.groupBy(identity).view.mapValues(_.size.toLong)
      .values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(out == census, s"engine $out vs recompute $census")
  }

  test("label propagation: broadcast and shuffle regimes produce identical output") {
    // the q37 discipline: the node-count cap flips join strategy only —
    // forcing cap 0 (every label join shuffle-hash) must not change a row
    val bc = SparkEntry.queries("q50_label_propagation")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val forced = graft.operators.Relational.q50LabelPropagationAt(spark, sf, 0L)
    val p = forced.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("Window"), p)
    val sh = forced.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sh == bc)
  }

  test("kmv: a sketch that never filled estimates exactly (q46 sub-populations)") {
    // at sf0.001 both date slices hold < 256 distinct customer hashes,
    // so every estimate must equal its exact count — the KMV non-full
    // rule (the k-th-minimum formula would read past the sketch)
    val r = SparkEntry.queries("q46_sketch_setops")(spark, sf).head()
    assert(r.getAs[Long]("true_a") < 256 && r.getAs[Long]("true_b") < 256,
      "fixture drifted: sub-populations no longer exercise the non-full branch")
    assert(r.getAs[Long]("est_a") == r.getAs[Long]("true_a"))
    assert(r.getAs[Long]("est_b") == r.getAs[Long]("true_b"))
    assert(r.getAs[Long]("est_union") == r.getAs[Long]("true_union"))
    assert(r.getAs[Long]("est_intersect") == r.getAs[Long]("true_intersect"))
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("q33 packed pair key fails loudly when a partkey exceeds 2^31") {
    // the packed form's range guard is an in-stage branch, not a
    // driver probe — prove it actually fires instead of silently
    // corrupting the pair key by carry into the high half
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q33big").toString
    Seq((1L, (1L << 31) + 7L), (1L, 3L), (2L, 5L), (2L, 6L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val e = intercept[Exception] {
      operators.Relational.q33MarketBasketPacked(spark, dir).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("partkey < 2^31")), msgs(e).mkString(" | "))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
