package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables

/** §2.1 relational/analytic core.
  *
  * Conventions shared with the DuckDB oracles (see [[graft.SparkEntry.oracleSql]]):
  *  - every output column is explicitly aliased, with only
  *    string / bigint / rounded-double types;
  *  - every query ends in a deterministic ORDER BY with a unique
  *    tie-break key;
  *  - timestamps are emitted as `yyyy-MM-dd` strings.
  *
  * Scale notes: dimension tables are broadcast explicitly; fact-side
  * filters are declared before joins so Catalyst pushes them into the
  * parquet scan; aggregations rely on partial (map-side) aggregation.
  */
object Relational {

  private def revenue: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** TPC-H Q1 flavor: scan-heavy multi-aggregate. */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(revenue), 2).as("sum_disc_price"),
        round(sum(revenue * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Global sort + deterministic top-k (unique tie-break on key). */
  def q2TopkOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("total_price"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .orderBy(col("total_price").desc, col("o_orderkey").asc)
      .limit(10)

  /** TPC-H Q3 flavor: broadcast dim join + fact join + agg + top-k. */
  def q3ShippingPriority(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01"))
    val l = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1998-01-01"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(
        col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"))
      .agg(round(sum(revenue), 2).as("rev"))
      .select(col("l_orderkey"), col("rev"), col("order_date"), col("o_orderpriority"))
      .orderBy(col("rev").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** EXISTS via left-semi join + agg. */
  def q4OrderPriority(s: SparkSession, d: String): DataFrame = {
    val returned = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
    Tables.orders(s, d)
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q5 flavor: 6-table star join; all dims broadcast. */
  def q5LocalSupplierVolume(s: SparkSession, d: String): DataFrame = {
    val asia = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
      .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), revenue.as("line_rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("line_rev")), 2).as("rev"))
      .orderBy(col("rev").desc, col("n_name").asc)
  }

  /** Tight filter + single aggregate: pushdown / pruning showcase. */
  def q6ForecastRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("rev"),
        count(lit(1)).as("n_lines"))

  /** Window rank per group, keep top 3 per segment. */
  def q7WindowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(s, d)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("c_mktsegment"), col("rnk"), col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("acctbal"))
      .orderBy(col("c_mktsegment"), col("rnk"))
  }

  /** ROLLUP hierarchical aggregate (nulls folded to 'ALL'). */
  def q8Rollup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority"))

  /** NOT EXISTS via left-anti join: customers without any large order. */
  def q9AntiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 250000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** UNION (distinct) set semantics across two key sources. */
  def q10SetOps(s: SparkSession, d: String): DataFrame = {
    val a = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey"))
    val b = Tables.orders(s, d)
      .filter(col("o_totalprice") > 400000.0).select(col("o_custkey").as("c_custkey"))
    a.union(b).distinct().orderBy(col("c_custkey"))
  }

  private val eventTypes = Seq("click", "view", "purchase", "signup", "error")

  /** Pivot: day × event_type counts (missing cells → 0). */
  def q11Pivot(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .pivot("event_type", eventTypes)
      .count()
    base.select(
      col("day") +: eventTypes.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy(col("day"))
  }

  /** Running total per user over the event stream (frame-ordered). */
  def q12RunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .filter(col("user_id") < 20)
      .withColumn("running_value", round(sum(col("value")).over(w), 2))
      .select(col("user_id"), col("event_id"),
        round(col("value"), 2).as("value"), col("running_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Gap-based sessionization (>30 min ⇒ new session) per user. */
  def q13Sessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables.events(s, d)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** Exact percentiles per group (linear interpolation). */
  def q14Percentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(percentile(col("value"), lit(0.5)), 4).as("p50"),
        round(percentile(col("value"), lit(0.9)), 4).as("p90"),
        round(min(col("value")), 2).as("vmin"),
        round(max(col("value")), 2).as("vmax"))
      .orderBy(col("event_type"))

  /** Sketch-based percentiles — the 100 TB companion to
    * [[q14Percentiles]]'s exact sort-based `percentile`: Spark's
    * `approx_percentile` (Greenwald-Khanna QuantileSummaries) keeps
    * O(accuracy) state per group and merges map-side, so the shuffle
    * carries a bounded sketch instead of every value. At accuracy
    * 50000 >= any test-SF group (sf0.1's largest is ~20k rows) the
    * result is EXACT (the summary never compresses — verified: 10000
    * was approximate at sf0.1 and failed the hash), which holds the
    * sketch path to a DuckDB oracle —
    * the same exact-at-test-scale / approximate-at-100TB posture as
    * [[graft.operators.TextAnalysis.textFreqItems]]. The oracle
    * mirrors approx_percentile's definition (smallest value whose
    * cumulative fraction ≥ p) via cume_dist, not quantile_disc's
    * convention.
    */
  def q27ApproxPercentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(expr("approx_percentile(value, 0.5, 50000)"), 4).as("ap50"),
        round(expr("approx_percentile(value, 0.9, 50000)"), 4).as("ap90"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** Statistical aggregates: corr / stddev / covar. */
  def q15Stats(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(avg(col("value")), 4).as("avg_value"),
        round(stddev_samp(col("value")), 4).as("sd_value"),
        round(corr(col("value"), col("user_id").cast("double")), 4).as("corr_vu"),
        round(covar_samp(col("value"), col("user_id").cast("double")), 2).as("covar_vu"))
      .orderBy(col("event_type"))

  /** As-of join: each purchase event picks the most recent PRIOR click
    * of the same user — expressed as an ignore-nulls carry-forward
    * window (no join at all), the Spark-first shape for event-time
    * as-of semantics: one shuffle by user, linear scan per partition.
    */
  def q16AsofJoin(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_value",
        last(when(col("event_type") === "click", col("value")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        col("click_id"), round(col("click_value"), 2).as("click_value"))
      .orderBy(col("event_id"))
  }

  /** Skew-safe aggregation: two-stage salted combine over a 5-value
    * (maximally skewed) key. Stage 1 spreads each hot key over 16
    * salts; stage 2 merges the partials. Same result as a direct
    * groupBy — the point is the plan shape under skew at scale.
    */
  def q17SaltedAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("salt", pmod(hash(col("event_id")), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("value")).as("pv"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"), round(sum(col("pv")), 2).as("sum_value"))
      .orderBy(col("event_type"))

  /** Exact distinct-count aggregates (the expensive shuffle shape HLL
    * sketches replace at scale; approx_count_distinct accuracy is
    * asserted against this in RelationalSpec).
    */
  def q18DistinctCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("props")).as("n_props"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** Full outer join with unmatched rows on both sides: high-balance
    * customers vs per-customer large-order stats.
    */
  def q19OuterJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .filter(col("c_acctbal") > 9000.0)
      .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("acctbal"))
    val o = Tables.orders(s, d)
      .filter(col("o_totalprice") > 450000.0)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_big_orders"), round(sum(col("o_totalprice")), 2).as("big_total"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        coalesce(col("c_name"), lit("(no-dim)")).as("name"),
        coalesce(col("acctbal"), lit(0.0)).as("acctbal"),
        coalesce(col("n_big_orders"), lit(0L)).as("n_big_orders"),
        coalesce(col("big_total"), lit(0.0)).as("big_total"))
      .orderBy(col("custkey"))
  }

  /** CUBE: all grouping-set combinations over two dimensions. */
  def q20Cube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 2).as("avg_total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("avg_total"))
      .orderBy(col("status"), col("priority"))

  /** Range join: pairs of same-user events within 5 minutes,
    * implemented as a bucketed equi-join (each left row probes its
    * 5-minute bucket and the next one) instead of a per-user cross
    * join — the standard way to keep a range join shuffle-bound at
    * scale. Exact range semantics are enforced by the residual filter.
    */
  def q21RangeJoin(s: SparkSession, d: String): DataFrame = {
    val WindowUs = 300L * 1000000L
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("bucket", expr(s"us div $WindowUs"))
    val probe = ev
      .select(col("user_id").as("ua"), col("event_id").as("event_a"),
        col("us").as("usa"), col("bucket"))
      .withColumn("bkt", explode(array(col("bucket"), col("bucket") + 1)))
    val build = ev.select(col("user_id").as("ub"), col("event_id").as("event_b"),
      col("us").as("usb"), col("bucket").as("bktb"))
    probe.join(build,
        col("ua") === col("ub") && col("bkt") === col("bktb") &&
          col("event_a") < col("event_b") &&
          (col("usb") - col("usa")).between(0L, WindowUs))
      .select(col("event_a"), col("event_b"), col("ua").as("user_id"),
        (col("usb") - col("usa")).as("dt_us"))
      .orderBy(col("event_a"), col("event_b"))
  }

  /** Top-k per group via the custom bounded-heap aggregate
    * ([[graft.functions.TopKIds]], a TypedImperativeAggregate): O(k)
    * state per group with map-side partial merge — no full per-group
    * sort anywhere, unlike the window row_number formulation the
    * DuckDB oracle uses.
    */
  def q22TopkPerGroup(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(graft.functions.TopKIds.topKIds(col("value"), col("event_id"), 5).as("ids"))
      .select(col("event_type"), posexplode(col("ids")).as(Seq("pos", "event_id")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"), col("event_id"))
      .orderBy(col("event_type"), col("rank"))

  /** Distribution-aware window ranks: quartile (ntile) and
    * percent_rank per segment.
    */
  def q23NtilePercentRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(s, d)
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), col("c_mktsegment"), col("quartile"), col("pct_rank"))
      .orderBy(col("c_custkey"))
  }

  /** Share-of-total per group: the scalar-subquery shape (global
    * aggregate broadcast back against the grouped aggregate).
    */
  def q24RevenueShare(s: SparkSession, d: String): DataFrame = {
    val perType = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(sum(col("value")).as("type_total"))
    val total = perType.agg(sum(col("type_total")).as("grand_total"))
    perType.join(broadcast(total), lit(true))
      .select(col("event_type"),
        round(col("type_total"), 2).as("type_total"),
        round(col("type_total") / col("grand_total") * 100.0, 4).as("pct_share"))
      .orderBy(col("event_type"))
  }

  /** Winsorization: clamp outliers at the per-group p99 (exact
    * percentile aggregate broadcast back onto the rows) — the standard
    * robust-cleaning step before training-data statistics.
    */
  def q25Winsorize(s: SparkSession, d: String): DataFrame = {
    val p99 = Tables.events(s, d)
      .groupBy(col("event_type").as("t"))
      .agg(percentile(col("value"), lit(0.99)).as("p99"))
    Tables.events(s, d)
      .join(broadcast(p99), col("event_type") === col("t"))
      .groupBy(col("event_type"))
      .agg(
        round(avg(col("value")), 4).as("raw_mean"),
        round(avg(least(col("value"), col("p99"))), 4).as("winsorized_mean"),
        count(when(col("value") > col("p99"), 1)).as("n_clamped"))
      .orderBy(col("event_type"))
  }

  /** Column-level data profiling (the `describe` shape, made
    * deterministic): per profiled column, row/null/distinct counts in
    * one pass each, unioned into a tidy metric table.
    */
  def q26DataProfile(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def profile(c: String) = ev.agg(
      lit(c).as("column_name"),
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - count(col(c))).as("n_nulls"),
      countDistinct(col(c)).as("n_distinct"))
    profile("user_id").union(profile("event_type")).union(profile("props"))
      .orderBy(col("column_name"))
  }

  val DppQuarter = "1995-Q1" // dim filter for [[q28DppJoin]]

  /** Month-partitioned layout for [[q28DppJoin]], written once per
    * (application, dataset) under /tmp and reused — table-format state
    * like bucketed tables: a deployment partitions its fact tables at
    * INGEST time, and every subsequent query benefits; re-partitioning
    * per query would charge the query for the ingest. The dim is a
    * parquet FILE (not a LocalRelation): a filtered in-memory relation
    * is constant-folded before the PartitionPruning rule runs, so DPP
    * would never plan (PlanSpec pins the same gotcha).
    */
  private val dppLayoutCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  private def dppLayout(s: SparkSession, d: String): String =
    dppLayoutCache.getOrElseUpdate((s.sparkContext.applicationId, d), {
      val root = "/tmp/graft_dpp/" +
        java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(d))
      val orders = Tables.orders(s, d)
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      graft.sources.Sinks.writePartitionedParquet(
        orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_month")),
        s"$root/fact", "o_month")
      graft.sources.Sinks.writePartitionedParquet(
        orders.select(col("o_month"),
          concat(year(col("o_orderdate")).cast("string"), lit("-Q"),
            quarter(col("o_orderdate")).cast("string")).as("qtr")).distinct(),
        s"$root/dim")
      root
    })

  /** Dynamic-partition-pruning showcase as a GATED query: monthly
    * order volume/revenue for one quarter, read from the
    * month-partitioned fact through a filtered month-dimension join.
    * The quarter predicate lives on the DIM side only — the fact scan
    * has no static partition filter, so the only thing keeping Spark
    * from reading all ~80 month partitions is the
    * `dynamicpruningexpression` subquery DPP injects into the fact
    * scan from the dim broadcast (asserted in PlanSpec). At 100 TB
    * this is THE scan-pruning mechanism for hive-partitioned facts:
    * 3 of ~80 partitions listed/read, a ~27× scan cut that static
    * pushdown cannot express because the month list is only known
    * after filtering the dim. The DuckDB oracle computes the same
    * result from the raw orders table — partitioning changes the plan,
    * never the answer.
    */
  def q28DppJoin(s: SparkSession, d: String): DataFrame = {
    val root = dppLayout(s, d)
    val fact = s.read.parquet(s"$root/fact")
    val dim = s.read.parquet(s"$root/dim").filter(col("qtr") === lit(DppQuarter))
    fact.join(broadcast(dim), Seq("o_month"))
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("o_month"))
  }

  /** Correlated-subquery shape (TPC-H Q17/Q22 flavor): orders whose
    * price exceeds 1.5× their own customer's average order price. The
    * oracle states it as a genuinely correlated scalar subquery; the
    * Spark form is the DECORRELATED plan Catalyst would rewrite it to
    * anyway — a per-customer average window over one exchange on
    * o_custkey, then a row-local filter. One shuffle total: the same
    * exchange serves the window and the output, where a naive
    * aggregate+self-join pays two. At 100 TB the window partitions by
    * the high-cardinality customer key, so no skew concentration.
    */
  def q29Correlated(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
    // Exact integer-cents arithmetic throughout: prices are 2-decimal
    // currency, so sum/avg in cents are exact BIGINTs on both engines,
    // and the 1.5× predicate is the integer comparison
    // 2·price·n > 3·Σprice — no float rounding boundary anywhere
    // (a rounded-double avg flipped 17/3176 rows at sf0.01 when the
    // true average landed exactly on a half-ulp boundary).
    Tables.orders(s, d)
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
      .withColumn("cust_cents", sum(col("cents")).over(w))
      .withColumn("cust_orders", count(lit(1)).over(w))
      .filter(col("cust_orders") >= 3 &&
        col("cents") * 2 * col("cust_orders") > col("cust_cents") * 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("total_price"),
        expr("cust_cents DIV cust_orders").as("cust_avg_cents"))
      .orderBy(col("o_orderkey"))
  }

  /** Explicit GROUPING SETS — the non-hierarchical multi-dimensional
    * aggregation form (rollup = q8 and cube = q20 are its two special
    * cases): two independent single-column breakdowns plus the grand
    * total computed in ONE scan. Catalyst plans this as a single
    * Expand (3 rows per input row) feeding one hash aggregation with
    * map-side partials — at 100 TB that is one pass over the fact
    * instead of three separate scan+agg jobs, the same reason
    * reporting stacks batch their dimension breakdowns this way.
    */
  def q30GroupingSets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        // grouping() — not coalesce — marks the subtotal rows: a
        // genuine NULL (or a literal 'ALL' value) in the data can
        // never collide with a subtotal/grand-total row.
        grouping(col("l_returnflag")).cast("long").as("g_rflag"),
        grouping(col("l_linestatus")).cast("long").as("g_lstatus"),
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"))
      .select(
        col("g_rflag"), col("g_lstatus"),
        when(col("g_rflag") === 1, lit("ALL")).otherwise(col("l_returnflag")).as("rflag"),
        when(col("g_lstatus") === 1, lit("ALL")).otherwise(col("l_linestatus")).as("lstatus"),
        col("n"), col("sum_qty"), col("avg_price"))
      .orderBy(col("g_rflag"), col("g_lstatus"), col("rflag"), col("lstatus"))

  /** Ordered-funnel staging — for each user, how far through the
    * view → click → purchase funnel they progressed with the steps in
    * strict event-time order (a click only counts after the first
    * view; a purchase only after that click): the standard product-
    * analytics funnel, computed as three levels of first-touch
    * aggregation. Each level is a per-user min over one event type
    * joined back to the event stream — every join and aggregation is
    * keyed on user_id, so at 100 TB the whole query is three
    * user-partitioned hash aggregations over successively tiny
    * filtered slices (each event-type filter is pushed to the scan),
    * never a window sort over the full stream.
    */
  def q31Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, Seq("user_id")).filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, Seq("user_id")).filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    ev.select(col("user_id")).distinct()
      .join(t1, Seq("user_id"), "left")
      .join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
          .when(col("t1").isNotNull, 1L).otherwise(0L).as("funnel_stage"),
        date_format(col("t1"), "yyyy-MM-dd HH:mm:ss").as("first_view"),
        date_format(col("t2"), "yyyy-MM-dd HH:mm:ss").as("first_click"),
        date_format(col("t3"), "yyyy-MM-dd HH:mm:ss").as("first_purchase"))
      .orderBy(col("user_id"))
  }

  // ------------------------------------------------------------------
  // Product-analytics + sketch family (q32-q38).
  // ------------------------------------------------------------------

  /** Weekly cohort retention matrix: users grouped by the week of
    * their first event, counted again in every later week they were
    * active — the standard product-analytics retention triangle.
    * Weeks are integer offsets from the corpus epoch (2024-01-01) so
    * the bucketing is pure integer arithmetic, identical across
    * engines. Shape at 100 TB: both the cohort aggregate and the
    * distinct-activity set are keyed on user_id (one co-partitioned
    * exchange each, map-side partials), and the final aggregate lands
    * on the tiny (cohort_week, week_offset) dimension — no window
    * over the event stream anywhere.
    */
  def q32Retention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), to_date(col("ts")).as("day"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.distinct()
      .join(cohort, Seq("user_id"))
      .select(col("user_id"),
        expr("datediff(cohort_day, DATE'2024-01-01') DIV 7").as("cohort_week"),
        expr("datediff(day, cohort_day) DIV 7").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Market-basket co-occurrence: the top part pairs bought together
    * in one order. The q37/q50 edge-build idiom: ONE ok-repartition
    * whose clustering also satisfies the per-order (ok, pk) dedup
    * (subset rule, partition-local), shared by BOTH self-join sides
    * via ReuseExchange, joined shuffle-hash (no sorts — the pair
    * blow-up is bounded by the per-order line count, ≤ ~10 in
    * TPC-H-shaped data, so the join output is a small constant factor
    * of the fact table, never all-pairs over parts). The previous
    * `distinct()` form paid a (ok, pk)-hash exchange plus TWO join
    * re-exchanges and two sorts (measured 1.54 → ~0.6 s warm sf0.1).
    * The top-k is TakeOrderedAndProject (per-partition heaps + driver
    * merge of k rows), not a global sort.
    *
    * Two measured r15 redesign attempts shaped the registered form:
    * (1) a run-iterating pair kernel (repartition →
    * sortWithinPartitions → typed mapPartitions emitting each order's
    * C(k,2) distinct-part pairs directly) won the same-process A/B at
    * 10x (1.39 vs 1.58 s) but lost it decisively at 100x (20.7 vs
    * 13.9 s): at 1.9M-row partitions the kernel pays a per-partition
    * sort plus a codegen break (60M rows deserialized to tuples),
    * while the join form keeps dedup + build + probe inside one
    * whole-stage-codegen span and its k² → C(k,2) overshoot is
    * bounded by the ~4-line orders of TPC-H-shaped data — REJECTED.
    * (2) packing the pair key into one long ([[q33MarketBasketPacked]],
    * now the registered form) KEPT: it wins at every scale once the
    * range guard is an in-stage branch. This two-column form remains
    * as the documented fallback for partkeys ≥ 2^31 (TPC-H crosses
    * that around SF 10k ≈ 10 TB raw).
    */
  def q33MarketBasket(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .repartition(s.sessionState.conf.numShufflePartitions, col("ok"))
      .dropDuplicates(Seq("ok", "pk"))
    li.select(col("ok"), col("pk").as("part_a"))
      .join(li.select(col("ok"), col("pk").as("part_b")).hint("shuffle_hash"), Seq("ok"))
      .filter(col("part_a") < col("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** The registered q33 form (r15): pack the (part_a, part_b) pair
    * into ONE long before the pair-count exchange — `(a << 32) | b` —
    * so the 90M-row (at 100x) shuffle carries an 8-byte key instead
    * of 16 and the partial-agg hashmap keys a single long.
    * Lexicographic (a, b) order == numeric packed order for
    * non-negative 32-bit halves, so the top-k tie-break is preserved.
    * Same-process A/B vs the two-column join form: −5.6% at 10x
    * (2.01 vs 2.12 s), −15.5% at 100x (16.7 vs 19.8 s), wash at
    * sf0.1 — the win grows with the pair exchange, exactly the
    * 100 TB posture. A first variant that derived the range guard
    * from a max(partkey) driver probe was measured and REJECTED: the
    * extra job cost +29% at 10x, swamping the shuffle saving; the
    * in-stage branch costs two comparisons per row inside the
    * pair-emitting codegen span and fails LOUDLY above 2^31 (use
    * [[q33MarketBasket]] there).
    */
  def q33MarketBasketPacked(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .repartition(s.sessionState.conf.numShufflePartitions, col("ok"))
      .dropDuplicates(Seq("ok", "pk"))
    // the guard is a branch INSIDE the pair-emitting codegen stage
    // (two comparisons per row, no extra job): loud failure above
    // 2^31, where the caller must use the two-column q33MarketBasket
    val packed = when(col("pa") >= lit(1L << 31) || col("pb") >= lit(1L << 31),
      raise_error(lit("q33 packed pair key needs partkey < 2^31; " +
        "use q33MarketBasket (two-column keys) at this scale")))
      .otherwise(shiftleft(col("pa"), 32).bitwiseOR(col("pb")))
    li.select(col("ok"), col("pk").as("pa"))
      .join(li.select(col("ok"), col("pk").as("pb")).hint("shuffle_hash"), Seq("ok"))
      .filter(col("pa") < col("pb"))
      .select(packed.as("ab"))
      .groupBy(col("ab"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("ab"))
      .limit(20)
      .select(shiftrightunsigned(col("ab"), 32).as("part_a"),
        col("ab").bitwiseAND(lit((1L << 32) - 1)).as("part_b"),
        col("n_orders"))
  }

  /** Daily-revenue z-score outliers. The variance is computed from
    * EXACT integer-cents moments (count / sum / sum-of-squares as
    * DECIMAL(38,0) — overflow-proof at any SF) so both engines feed
    * bit-identical inputs into the final IEEE double ops; every
    * double step after that (cast, subtract, divide, sqrt) is
    * correctly rounded, so the z-scores match bitwise with no
    * stddev_samp implementation-order dependence. The global moments
    * live on the DAY-level aggregate (a bounded dimension), computed
    * with an empty-frame window rather than a scalar cross join.
    */
  def q34Anomaly(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy()
    Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("cents").cast("decimal(38,0)")).over(w))
      .withColumn("q", sum(col("cents").cast("decimal(38,0)") * col("cents")).over(w))
      .withColumn("num",
        (col("n").cast("decimal(38,0)") * col("cents") - col("s")).cast("double"))
      .withColumn("variance",
        (col("n").cast("decimal(38,0)") * col("q") - col("s") * col("s")).cast("double") /
          (col("n") * (col("n") - 1)).cast("double"))
      .withColumn("z", col("num") / (col("n").cast("double") * sqrt(col("variance"))))
      .filter(abs(col("z")) > 1.5)
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        round(col("cents") / 100.0, 2).as("revenue"),
        round(col("z"), 3).as("z"))
      .orderBy(col("day"))
  }

  /** Last-touch attribution: each purchase is credited to the user's
    * most recent preceding view/click. One pass: a per-user running
    * `last(..., ignoreNulls)` window carries the latest touch forward
    * to every event, so no purchase×touch join ever materializes.
    * The window partitions by user_id with a unique (ts, event_id)
    * order — per-user history is bounded, so at 100 TB this is many
    * small sorted runs, not a global sort. Values aggregate in exact
    * cents, removing float-summation-order sensitivity.
    */
  def q35Attribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("touch",
        last(when(col("event_type").isin("view", "click"), col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("touch_type", coalesce(col("touch"), lit("none")))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(round(col("value") * 100, 0).cast("long")) / 100.0, 2)
          .as("attributed_value"))
      .orderBy(col("touch_type"))
  }

  /** Fixed-width value histogram over order totals: bins are integer
    * cents DIV a constant width, so bin assignment is exact on both
    * engines (no float boundary at the bin edges). Pure one-pass
    * map-side-partial aggregation on a bounded bin dimension — the
    * cheapest possible profile shape at any scale.
    */
  def q36Histogram(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
      .withColumn("bin", expr("cents DIV 2500000"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("cents")) / 100.0, 2).as("min_price"),
        round(max(col("cents")) / 100.0, 2).as("max_price"),
        round(sum(col("cents")) / 100.0, 2).as("sum_price"))
      .select(col("bin"), (col("bin") * 25000).as("bin_lo"), col("n"),
        col("min_price"), col("max_price"), col("sum_price"))
      .orderBy(col("bin"))

  /** PageRank (3 fixed iterations, d=0.85) over the part co-purchase
    * graph — the canonical iterative join-aggregate computation on
    * Spark. All rank mass is integer (scale 1e12) with floor division
    * at every step, so the iteration is exact and engine-portable (no
    * float summation order anywhere).
    *
    * Iteration shape: the rank table is NODE-sized (parts with at
    * least one co-purchase edge — a bounded dimension, ~1/30th of the
    * edge count here and ~1e9 rows even at 100 TB), so each iteration
    * BROADCASTS the per-source contribution table into one map-side
    * join against the cached dst-partitioned edge list and reduces
    * with a partition-local dst aggregation — ZERO shuffles per
    * iteration (versus two shuffle-hash joins in the v1 form;
    * measured 3.2s → ~1.3s solo at sf0.1). Degrees ride inside
    * the broadcast (rank DIV deg is computed before the fan-out), and
    * the node-sized join-back that folds deg into the next round's
    * ranks is itself a broadcast against the cached degree
    * table, so no per-iteration sort or node-table exchange exists at
    * all. The graph is symmetric so every node keeps receiving mass;
    * the node count is a driver-side bounded-aggregate scalar
    * embedded as a plan literal. The broadcast→shuffle flip is
    * AUTOMATIC: once the measured node count exceeds
    * [[PagerankBroadcastNodeCap]] (the node table would outgrow
    * executor broadcast memory at ≳5e7 rows × ~16 bytes), both
    * per-iteration joins switch to shuffle-hash on the same plan —
    * the algorithm is unchanged, and no code edit stands between the
    * test geometry and the 100 TB one (the mm_hamming_neardup /
    * k ≈ √n discipline applied to a join strategy).
    */
  val PagerankBroadcastNodeCap = 50000000L

  /** The ONE co-purchase graph build shared by the three graph
    * queries (q37 PageRank, q48 triangles, q50 label propagation):
    * the symmetric, deduped part co-purchase ADJACENCY —
    * `collect_set(neighbor)` per node over the lineitem self-join
    * stream (src ≠ dst, both orientations), dedup map-side, the
    * aggregate's own exchange IS the node-clustering every consumer
    * needs. Materialized ONCE per (app, dataset) as a
    * StateRegistry-owned localCheckpoint (the exactPairs idiom) and
    * reused: before r12 each of the three queries re-ran the same
    * corpus-sized self-join — in a suite run, two redundant corpus
    * exchanges. This is exactly what a production graph stack does
    * (materialize the edge/adjacency table once, run PageRank /
    * triangles / communities over it); at 100 TB the checkpoint is a
    * node-sized table (sets bounded by the part dimension) living in
    * executor storage, and the first consumer pays the one build.
    * Partitioning survives the checkpoint (LogicalRDD keeps the
    * physical plan's outputPartitioning), so q37's per-iteration and
    * q50's per-round aggregations stay partition-local on it.
    */
  private val coAdjCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  private[graft] def coPurchaseAdjacency(s: SparkSession, d: String): DataFrame =
    coAdjCache.getOrElseUpdate((s.sparkContext.applicationId, d), {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val adj = li.select(col("ok"), col("pk").as("n"))
        .hint("shuffle_hash")
        .join(li.select(col("ok"), col("pk").as("nb")), Seq("ok"))
        .filter(col("n") =!= col("nb"))
        .groupBy(col("n")).agg(collect_set(col("nb")).as("nbrs"))
      graft.StateRegistry.checkpointedHashPartitioned("coAdj", adj, Seq("n"))
    })

  def q37Pagerank(s: SparkSession, d: String): DataFrame =
    q37PagerankAt(s, d, PagerankBroadcastNodeCap)

  private[graft] def q37PagerankAt(s: SparkSession, d: String,
      broadcastNodeCap: Long): DataFrame = {
    val Scale = 1000000000000L
    // Deduped IN-ADJACENCY from the SHARED graph build
    // ([[coPurchaseAdjacency]]): `collect_set` per node dedups
    // map-side and its exchange IS the dst-clustering each
    // iteration's groupBy(dst) needs (the checkpoint preserves
    // outputPartitioning; broadcast joins preserve the streamed
    // side's partitioning, and the per-iteration explode is
    // map-side). The graph is symmetric, so the in-adjacency IS the
    // shared adjacency. Every production PageRank persists its edge
    // list across iterations; MEMORY_AND_DISK spills at cluster
    // scale.
    val adj = coPurchaseAdjacency(s, d)
      .select(col("n").as("dst"), col("nbrs").as("srcs"))
    val e = adj.select(col("dst"), explode(col("srcs")).as("src"))
    // Degree via IN-degree: the edge set is symmetric by construction
    // (the self-join emits both orientations of every co-purchase
    // pair), so |in-neighbors| ≡ out-degree — and on the adjacency it
    // is just the set size: the degree table costs NO aggregation at
    // all. (A single-partition window scalar for the node count
    // measured +0.7s over the bounded count() job — the
    // empty-partition-spec exchange inside every broadcast subtree is
    // costlier than one driver action on the cached adjacency.)
    val deg = adj.select(col("dst").as("src"), size(col("srcs")).cast("long").as("deg"))
      .cache()
    val nn = deg.count() // bounded aggregate over the node dimension
    val teleport = (15L * Scale) / (100L * nn)
    // Node-table join strategy from the MEASURED node count: below the
    // cap each iteration broadcasts the node-sized contribution table
    // (zero per-iteration exchanges); above it both joins run
    // shuffle-hash — same algorithm, the strategy the data can afford.
    val smallNodes = nn <= broadcastNodeCap
    def nodeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
        joinExpr: Option[Column]): DataFrame =
      (if (smallNodes) joinExpr.fold(left.join(broadcast(right), keys))(
        c => left.join(broadcast(right), c))
      else joinExpr.fold(
        left.hint("shuffle_hash").join(right.hint("shuffle_hash"), keys))(
        c => left.hint("shuffle_hash").join(right.hint("shuffle_hash"), c)))
    // One broadcast job per iteration: the contribution table carries
    // rank DIV deg pre-divided, and the next round's contribs fold the
    // (map-side, broadcast) degree join into the same subtree, so
    // each iteration is exactly one map-side edge join + one
    // partition-local dst aggregation — ZERO per-iteration exchanges.
    var contribs = deg.select(col("src"),
      expr(s"${Scale / nn} DIV deg").as("contrib"))
    var ranks: DataFrame = null
    for (i <- 1 to 3) {
      val inMass = nodeJoin(e, contribs, Seq("src"), None)
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("in_mass"))
      ranks = inMass.select(col("dst").as("node"),
        (lit(teleport) + expr("(85 * in_mass) DIV 100")).as("rank"))
      if (i < 3)
        contribs = nodeJoin(ranks, deg, Nil, Some(col("node") === col("src")))
          .select(col("src"), expr("rank DIV deg").as("contrib"))
    }
    ranks.orderBy(col("rank").desc, col("node")).limit(20)
      .select(col("node").as("part"), col("rank"))
  }

  /** KMV (k-minimum-values) distinct-count sketch, the mergeable
    * bottom-k estimator behind theta sketches: keep the k smallest
    * 48-bit hash values and estimate n ≈ (k−1)·2^48 / h_(k). The
    * bottom-k heap is the [[graft.functions.TopKIds]] bounded
    * aggregate (O(k) state, map-side partials, reducer heap merge) so
    * the sketch AND the exact distinct count come out of ONE pass over
    * the distinct-hash set — no global sort, no scalar cross join.
    * Hashes are md5-prefix integers, identical across engines; the
    * estimator is pure integer floor division, so the estimate matches
    * the oracle bit-for-bit.
    */
  def q38KmvDistinct(s: SparkSession, d: String): DataFrame = {
    val K = 256
    val Dom = 281474976710656L // 16^12 = 2^48
    Tables.orders(s, d)
      .select(conv(substring(md5(col("o_orderkey").cast("string")), 1, 12), 16, 10)
        .cast("long").as("h"))
      .distinct()
      .agg(
        count(lit(1)).as("true_distinct"),
        graft.functions.TopKIds.topKIds(-col("h").cast("double"), col("h"), K).as("mins"))
      .select(col("true_distinct"),
        // KMV rule (q46): a non-full sketch holds the whole set — exact
        expr(s"CAST(CASE WHEN size(mins) < $K THEN true_distinct ELSE " +
          s"(${K - 1} * CAST($Dom AS BIGINT)) DIV element_at(mins, $K) END AS BIGINT)")
          .as("est_distinct"))
      .select(
        lit(K.toLong).as("k"),
        col("est_distinct"),
        col("true_distinct"),
        round((col("est_distinct") - col("true_distinct")).cast("double") /
          col("true_distinct").cast("double") * 100.0, 2).as("err_pct"))
  }

  /** Triangle count + global clustering coefficient over the part
    * co-purchase graph — the standard graph-health statistic
    * (cohesion of the co-occurrence structure), computed by
    * DEGREE-ORIENTED wedge counting (Schank & Wagner 2005; the
    * MapReduce form is Suri & Vassilvitskii 2011's "Counting
    * triangles and the curse of the last reducer").
    *
    * Why orientation matters at 100 TB: a naive wedge join fans every
    * node out by deg², so one celebrity node with 1e6 neighbors
    * produces 1e12 wedges in a single task — the "last reducer"
    * curse. Orienting every undirected edge from its (degree, id)-
    * smaller endpoint to its larger one bounds EVERY node's
    * out-degree by O(√m), so the oriented wedge join's total size is
    * O(m^1.5) and no single key is hot, regardless of the degree
    * distribution. Each triangle then has exactly ONE node whose two
    * oriented out-edges span it, and the closing edge is oriented
    * (v1 → v2) consistently with the same total order — so counting
    * the common out-neighbours of each oriented edge's endpoints counts
    * each triangle exactly once, no division by 3, no double counting.
    *
    * All counts are integers; the clustering coefficient is the one
    * float op (3T/W, single division, both engines identical). Plan
    * (r15 adjacency intersection; the r11-r14 wedge-join form it
    * replaced, 3.16-3.21 s vs 6.47-7.24 s min-of-3 at sf0.1 in a
    * same-process A/B over both interleave orders, is recorded in
    * OPTIMIZATION_r15 §1 with before/after plans in `plans/r15`):
    *  1. Orientation from the DIRECTED adjacency with ONE degree join:
    *     the symmetric set table already holds both directions of every
    *     edge, so exploding (a, da=|nbrs|, b) and keeping the copies
    *     where (da, a) < (db, b) yields each oriented edge exactly once
    *     after a single shuffle-hash join on b (build = the node-sized
    *     degree table, shuffle-hash so a 1e9-node graph plans the same).
    *  2. Triangles by per-edge out-neighborhood INTERSECTION (the
    *     adjacency-list form of Schank–Wagner): for each oriented edge
    *     (u, v), |N+(u) ∩ N+(v)| closing vertices. The out-lists are
    *     bounded O(√m) by orientation, so the intersect stream carries
    *     m rows of ≤√m arrays instead of a wedge join's O(m^1.5)
    *     exchanged wedge ROWS, and no wedge row ever crosses an
    *     exchange — the per-edge work happens in-row.
    */
  def q48Triangles(s: SparkSession, d: String): DataFrame = {
    val adj = coPurchaseAdjacency(s, d)
    // NOT cached (ADVICE r15: the cache was never unpersisted, leaking
    // a cached plan per invocation into drivers that don't sweep, e.g.
    // Verify): deg is a map-side size() projection of the REGISTRY-
    // CHECKPOINTED adjacency, so each of its two consumers recomputes
    // it for the cost of a cached-block scan anyway — the cache bought
    // nothing but the leak.
    val deg = adj.select(col("n"), size(col("nbrs")).cast("long").as("deg"))
    // oriented edges: one degree join (build = node-sized deg table)
    val o = adj
      .select(col("n").as("a"), size(col("nbrs")).cast("long").as("da"),
        explode(col("nbrs")).as("b"))
      .join(deg.select(col("n").as("b"), col("deg").as("db")).hint("shuffle_hash"), Seq("b"))
      .filter(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
      .select(col("a").as("u"), col("b").as("v"))
    // oriented out-adjacency (lists bounded O(√m) by orientation)
    val oadj = o.groupBy(col("u")).agg(collect_list(col("v")).as("ons"))
      .localCheckpoint()
    // per-edge closing counts, tagged deg = -1 in the union (node rows
    // always have deg >= 1, so the tag is unambiguous)
    val triRows = o
      .join(oadj.select(col("u"), col("ons").as("nu")).hint("shuffle_hash"), Seq("u"))
      .join(oadj.select(col("u").as("v"), col("ons").as("nv")).hint("shuffle_hash"), Seq("v"))
      .select(lit(-1L).as("deg"),
        size(array_intersect(col("nu"), col("nv"))).cast("long").as("tcount"))
    triRows.unionAll(deg.select(col("deg"), lit(0L).as("tcount")))
      .agg(
        count(when(col("deg") >= 0, lit(1))).as("n_nodes"),
        expr("sum(CASE WHEN deg >= 0 THEN deg ELSE 0 END) DIV 2").as("n_edges"),
        sum(when(col("deg") >= 0, expr("deg * (deg - 1) DIV 2"))
          .otherwise(lit(0L))).as("n_wedges"),
        sum(when(col("deg") < 0, col("tcount")).otherwise(lit(0L))).as("n_triangles"))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          round(col("n_triangles").cast("double") * 3.0 /
            col("n_wedges").cast("double"), 4))
          .otherwise(lit(0.0)).as("global_cc"))
  }

  /** HyperLogLog distinct-count sketch (Flajolet et al. 2007) — the
    * production cardinality estimator (Redis PFCOUNT, BigQuery
    * APPROX_COUNT_DISTINCT, Spark's own HLL++ core), complementing
    * [[q38KmvDistinct]]'s bottom-k form: m = 256 registers, each
    * holding the max leading-zero rank of the hash suffix.
    *
    * Engine-portable determinism: register ranks are integers
    * (rho = 41 − bitlength of the 40-bit suffix, string-length math —
    * no float log2 at any point), and the harmonic-mean denominator
    * Z = Σ 2^−Mj is summed as INTEGER numerators 2^(50−Mj) (≤ 2^58
    * total, exact in a BIGINT, order-invariant) so the only float ops
    * are the final constant·/Z division and the err_pct rounding —
    * bit-identical across engines regardless of aggregation order.
    * The small-range linear-counting branch (est ≤ 2.5m with empty
    * registers) is implemented on both engines but cannot fire at the
    * tested scales (n ≥ 1.5k ≫ 640 with all registers occupied).
    *
    * Scale shape: ONE pass — distinct hashes (the only corpus-sized
    * exchange, shared with the exact count the report needs anyway),
    * then a 256-group aggregation whose map-side partial max/count
    * collapses every task's input to ≤ 256 rows BEFORE the exchange;
    * the sketch is mergeable by elementwise register max, which is
    * exactly what the partial aggregation does. At 100 TB the
    * register table is still 256 rows.
    */
  /** 48-bit md5 key hash as a typed per-partition kernel: (h, idx,
    * rho) rows for the HLL family — h = the first 12 hex chars of
    * md5(CAST(key AS STRING)) read as an unsigned 48-bit integer,
    * BIT-IDENTICAL to the expression form
    * `conv(substring(md5(...), 1, 12), 16, 10)` the DuckDB oracle
    * still evaluates (first 6 digest bytes, big-endian); idx = top 8
    * bits, rho = 41 − bitlength of the 40-bit suffix. The expression
    * form paid, per ROW, a long→string cast, a 32-char hex encode, a
    * substring, a base-16 string parse, and — for the rank — a
    * base-2 STRING RENDER (`length(conv(w, 10, 2))` builds a ≤40-char
    * string only to take its length); the kernel is one reused
    * MessageDigest call plus two shifts — the
    * [[TextAnalysis.cmsPartialCells]] lesson applied to the HLL rows
    * (same-process A/B at the 10x/100x probes, r15). idx/rho ride the
    * dedup exchange as plain ints so no string op survives anywhere
    * in the plan.
    */
  private[graft] def hll48Kernel(s: SparkSession, keys: DataFrame): DataFrame = {
    import s.implicits._
    keys.as[Long].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { k =>
        val dig = md.digest(java.lang.Long.toString(k)
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        val h = ((dig(0) & 0xffL) << 40) | ((dig(1) & 0xffL) << 32) |
          ((dig(2) & 0xffL) << 24) | ((dig(3) & 0xffL) << 16) |
          ((dig(4) & 0xffL) << 8) | (dig(5) & 0xffL)
        val w = h & ((1L << 40) - 1)
        val rho = if (w == 0L) 41 else java.lang.Long.numberOfLeadingZeros(w) - 23
        (h, (h >>> 40).toInt, rho)
      }
    }.toDF("h", "idx", "rho")
  }

  /** Per-register max-rank from the MINIMUM hash (r15): bitlength is
    * monotone in the 40-bit suffix w, so max(rho) per register ==
    * 41 − bitlen(min w), and within one register (same top-8 bits)
    * min w == min h. The register table therefore needs ONLY h — the
    * corpus-sized dedup exchange shrinks from (h, idx, rho) rows to a
    * single long (the §2.3 narrow-the-exchange rule), and idx/rho are
    * derived on the ≤[[256]]-row aggregate where even the base-2
    * string render is free (w = 0 ⇒ rho = 41 guarded explicitly).
    */
  /** `groupCols` (ADVICE r15): q49's per-population registers group by
    * (tag, idx) — both HLL rows now share this ONE copy of the
    * min(h) → mj derivation instead of maintaining two that can drift.
    */
  private def hllRegisters(dedupedH: DataFrame, groupCols: Column*): DataFrame =
    dedupedH
      .groupBy(groupCols :+ shiftrightunsigned(col("h"), 40).as("idx"): _*)
      .agg(min(col("h")).as("hmin"), count(lit(1)).as("cnt"))
      .withColumn("w", col("hmin").bitwiseAND(lit((1L << 40) - 1)))
      .withColumn("mj", when(col("w") === 0, lit(41))
        .otherwise(lit(41) - length(conv(col("w"), 10, 2))))

  def q47HllDistinct(s: SparkSession, d: String): DataFrame = {
    val M = 256               // 2^8 registers
    val Scale = 50            // Z numerator scale: 2^(Scale − rho)
    val Dom = 1L << Scale
    // alpha_m · m² · 2^Scale, one double constant shared verbatim
    // with the oracle SQL (same literal, same parse)
    val alphaC = 0.7213 / (1.0 + 1.079 / M) * M * M * Dom
    // the h-dedup exchange exists for the EXACT count the gate rides
    // along; it carries ONLY h (see [[hllRegisters]] — the kernel's
    // idx/rho columns are pruned before the exchange)
    hllRegisters(
      hll48Kernel(s, Tables.orders(s, d).select(col("o_orderkey")))
        .select(col("h"))
        .dropDuplicates("h"))
      .agg(
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($Scale - mj AS INT))")).as("zp"),
        count(lit(1)).as("mp"),
        sum(col("cnt")).as("true_distinct"))
      .select(col("true_distinct"),
        (col("zp") + (lit(M.toLong) - col("mp")) * lit(Dom)).as("z_num"),
        (lit(M.toLong) - col("mp")).as("v"))
      .select(col("true_distinct"), col("v"),
        (lit(alphaC) / col("z_num").cast("double")).as("est_raw"))
      .select(
        lit(M.toLong).as("m"),
        floor(when(col("v") > 0 && col("est_raw") <= lit(2.5 * M),
            lit(M.toDouble) * log(lit(M.toDouble) / col("v").cast("double")))
          .otherwise(col("est_raw"))).cast("long").as("est_distinct"),
        col("true_distinct"))
      .select(col("m"), col("est_distinct"), col("true_distinct"),
        round((col("est_distinct") - col("true_distinct")).cast("double") /
          col("true_distinct").cast("double") * 100.0, 2).as("err_pct"))
  }

  /** HLL sketch set algebra — [[q47HllDistinct]]'s registers made
    * mergeable, the production cross-shard rollup pattern: one sketch
    * per population from ONE pass over its hash set, the union sketch
    * by ELEMENTWISE REGISTER MAX of the two sketches — the merge that
    * makes HLL the estimator behind every distributed distinct-count
    * rollup; NO rescan of either population builds it — and
    * intersection by inclusion–exclusion (the KMV [[q46SketchSetops]]
    * algebra on the register sketch). Estimators are the q47
    * integer-register form (exact-BIGINT harmonic numerators, one
    * constant/Z float division per estimate), bit-identical across
    * engines. Exact counts ride alongside as gate truth (the exact
    * union count is one more bounded aggregation the production path
    * never runs); the single-row combine is a conditional agg over
    * the tagged sketch frame — the q46/q48 discipline, no scalar
    * cross join.
    */
  def q49HllSetops(s: SparkSession, d: String): DataFrame = {
    val M = 256
    val Scale = 50
    val Dom = 1L << Scale
    val alphaC = 0.7213 / (1.0 + 1.079 / M) * M * M * Dom
    // per-population distinct hash sets through the same typed kernel
    // as q47; every corpus-sized exchange (the per-population dedups
    // AND the exact-union distinct) carries ONLY h — idx/rho are
    // derived from min(h) on the ≤512-row register table (the
    // [[hllRegisters]] rule, keyed by tag here)
    def hashes(lo: String, hi: String): DataFrame =
      hll48Kernel(s,
        Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
          .select(col("o_custkey")))
        .select(col("h"))
        .dropDuplicates("h")
    val ha = hashes("1995-01-01", "1998-01-01")
    val hb = hashes("1998-01-01", "2002-01-01")
    val regsAB = hllRegisters(
        ha.withColumn("tag", lit("a")).unionAll(hb.withColumn("tag", lit("b"))),
        col("tag"))
      .select(col("tag"), col("idx"), col("mj"), col("cnt"))
    // the union sketch: register-max MERGE of the two sketches (512
    // input rows — the cost of a cross-shard rollup is sketch-sized,
    // never corpus-sized)
    val regsU = regsAB.groupBy(col("idx"))
      .agg(max(col("mj")).as("mj"))
      .select(lit("u").as("tag"), col("idx"), col("mj"), lit(0L).as("cnt"))
    val trueU = ha.unionAll(hb).distinct()
      .agg(count(lit(1)).as("tn"))
      .select(lit("tu").as("tag"), col("tn"), lit(0L).as("est"))
    val perTag = regsAB.unionAll(regsU)
      .groupBy(col("tag"))
      .agg(
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($Scale - mj AS INT))")).as("zp"),
        count(lit(1)).as("mp"),
        sum(col("cnt")).as("tn"))
      .select(col("tag"), col("tn"),
        (lit(M.toLong) - col("mp")).as("v"),
        (lit(alphaC) / (col("zp") + (lit(M.toLong) - col("mp")) * lit(Dom)).cast("double"))
          .as("est_raw"))
      .select(col("tag"), col("tn"),
        floor(when(col("v") > 0 && col("est_raw") <= lit(2.5 * M),
            lit(M.toDouble) * log(lit(M.toDouble) / col("v").cast("double")))
          .otherwise(col("est_raw"))).cast("long").as("est"))
    def pick(c: String, t: String): Column = max(when(col("tag") === t, col(c)))
    perTag.select(col("tag"), col("tn"), col("est"))
      .unionAll(trueU)
      .agg(
        pick("est", "a").as("est_a"), pick("tn", "a").as("true_a"),
        pick("est", "b").as("est_b"), pick("tn", "b").as("true_b"),
        pick("est", "u").as("est_union"), pick("tn", "tu").as("true_union"))
      .select(col("est_a"), col("true_a"), col("est_b"), col("true_b"),
        col("est_union"), col("true_union"),
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union"))
          .as("est_intersect"),
        (col("true_a") + col("true_b") - col("true_union")).as("true_intersect"))
  }

  /** Synchronous label-propagation rounds for community detection. */
  val LpaRounds = 3

  /** Community detection by synchronous label propagation (Raghavan
    * et al. 2007) over the part co-purchase graph — the linear-time
    * community algorithm production graph stacks run when modularity
    * optimization is too expensive (GraphFrames ships exactly this
    * form). Every node starts as its own label; each round, every
    * node adopts the MOST FREQUENT label among its neighbors, ties
    * broken by the smallest label — the deterministic synchronous
    * variant (async/random variants are irreproducible across
    * cluster runs; fixed [[LpaRounds]] synchronous sweeps give the
    * same labels under any partitioning, which is what a correctness
    * gate and an incremental re-run both need).
    *
    * Scale shape — the [[q37Pagerank]] discipline applied to LPA. The
    * doubled neighbor list is built with ONE exchange (the
    * u-repartition also satisfies the (u, v) dedup, subset rule) and
    * cached u-partitioned. Below [[PagerankBroadcastNodeCap]] measured
    * nodes, each round BROADCASTS the node-sized label table into a
    * map-side join against that cache, and BOTH aggregations — the
    * (node, label) counts and the per-node argmax via
    * `max(struct(cnt, −label))` (the q39/keep-first idiom: map-side
    * partials collapse a celebrity node's neighbor list before any
    * exchange; NO Window in this plan) — are partition-local on the
    * u-clustering: ZERO per-round exchanges (measured 4.9 → ~2.0 s
    * warm at sf0.1). Above the cap the same rounds run shuffle-hash —
    * the algorithm is unchanged, PlanSpec pins both regimes to
    * identical output. A production run at 100 TB would checkpoint
    * the label table every few rounds to cut lineage, exactly like
    * q37. Output: the community-size census (size, n_communities) —
    * the bounded aggregate a pipeline dashboards; per-node labels
    * stay distributed.
    */
  def q50LabelPropagation(s: SparkSession, d: String): DataFrame =
    q50LabelPropagationAt(s, d, PagerankBroadcastNodeCap)

  private[graft] def q50LabelPropagationAt(s: SparkSession, d: String,
      broadcastNodeCap: Long): DataFrame = {
    // Deduped ADJACENCY LIST from the SHARED graph build
    // ([[coPurchaseAdjacency]]): `collect_set` dedups map-side (each
    // task's partial set absorbs the repeated baskets of the raw
    // self-join stream before the wire — at 10× data that stream is
    // 180M pair rows, the whole query's cost in the
    // repartition(u)-then-dropDuplicates form) and the aggregate's
    // own exchange IS the u-clustering every round needs. Per-node
    // set size is bounded by the part dimension (a node's neighbors
    // ⊆ parts), the same bound the broadcast regime itself rests on.
    // Rounds explode the checkpointed adjacency map-side — explode
    // and a broadcast join both preserve the u-partitioning, so both
    // per-round aggregations stay partition-local (zero per-round
    // exchanges below the node cap).
    val nbr = coPurchaseAdjacency(s, d)
      .select(col("n").as("u"), col("nbrs").as("vs"))
    // node table: one row per u already — no distinct needed
    val init = nbr.select(col("u").as("n"), col("u").as("lbl"))
    // regime pick: nodes ⊆ parts, so the parts row count (a parquet
    // footer read, no job) is a safe upper bound — below the cap the
    // label table is broadcastable; above it the rounds run
    // shuffle-hash. Replaces a scheduled init.count() job that cost
    // ~0.4 s of the row's floor.
    val smallNodes =
      Tables.parquetRowCount(s, d, "part") <= broadcastNodeCap
    def labelJoin(lbl: DataFrame): DataFrame = {
      val r = lbl.select(col("n").as("v"), col("lbl"))
      val edges = nbr.select(col("u"), explode(col("vs")).as("v"))
      if (smallNodes) edges.join(broadcast(r), Seq("v"))
      else edges.join(r.hint("shuffle_hash"), Seq("v"))
    }
    val labels = (1 to LpaRounds).foldLeft(init: DataFrame) { (lbl, _) =>
      labelJoin(lbl)
        .groupBy(col("u"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("u"))
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("u").as("n"), (-col("m.neg")).as("lbl"))
    }
    labels.groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_communities"))
      .select(col("sz").as("community_size"), col("n_communities"))
      .orderBy(col("community_size"))
  }

  /** Probe ranks for [[q51QuantileSketch]] — every literal's binary
    * double rounds DOWN (or is exact), so `ceil(p·n)` can never cross
    * an integer boundary differently across engines (both sides
    * compute the identical IEEE product). */
  val QsProbes: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95, 0.99)

  /** Sketch capacity: ≥ any sf0.01 group, so the correctness gate
    * exercises the full sketch machinery in its EXACT regime (the
    * FreqItems/KMV discipline); at larger data the compaction path
    * engages and PropertySpec's rank-error bound is the contract. */
  val QsCapacity = 65536

  /** Mergeable quantile sketch per group
    * ([[graft.functions.QuantileSketch]], KLL-style level compaction
    * — Karnin/Lang/Liberty 2016): the third quantile path next to
    * q14's exact window percentiles (a full per-group sort) and
    * q27's built-in Greenwald-Khanna `approx_percentile`. What the
    * custom aggregate adds over both: an explicitly MERGEABLE,
    * bounded-state sketch — partials combine map-side and two
    * shards' sketches merge by level-wise concatenation, the
    * cross-shard contract a 100 TB rollup needs (the same reason the
    * KMV/HLL/CMS rows exist next to exact counts). One hash
    * aggregation, no sort, no window; quantile(p) = the smallest
    * value whose cumulative weight reaches ceil(p·W) — SQL's
    * discrete quantile, byte-exact against the oracle's order
    * statistic at the exact-regime capacity.
    */
  def q51QuantileSketch(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(graft.functions.QuantileSketch.quantileSketch(
        col("l_quantity").cast("double"), QsCapacity, QsProbes).as("qs"))
      .select(col("l_returnflag"), posexplode(col("qs")).as(Seq("i", "q")))
      .select(col("l_returnflag"),
        element_at(typedLit(QsProbes), col("i") + 1).as("p"), col("q"))
      .orderBy(col("l_returnflag"), col("p"))

  /** CDC log compaction (last-write-wins): the event stream read as a
    * change log keyed by user_id — `error` events are tombstones,
    * everything else an upsert. The final state is one hash
    * aggregation: `max(struct(ts, event_id, …))` picks each key's
    * latest record with a unique (ts, event_id) order — the arg-max
    * shape, no per-key window sort, map-side partials — then
    * tombstoned keys drop. This is exactly how a log-compacted table
    * (Kafka compaction / CDC merge) materializes at 100 TB: one
    * key-partitioned exchange regardless of how many versions each
    * key has.
    */
  def q39CdcApply(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"), col("value")))
        .as("last"))
      .filter(col("last.event_type") =!= "error")
      .select(col("user_id"),
        col("last.event_type").as("last_type"),
        round(col("last.value"), 2).as("last_value"),
        date_format(col("last.ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
      .orderBy(col("user_id"))

  /** SCD type-2 interval construction: per user, collapse consecutive
    * repeats of the same event_type and emit [valid_from, valid_to)
    * validity intervals with the open current row capped at a
    * sentinel. Two window passes over the SAME per-user
    * (ts, event_id) sort — Catalyst reuses one sort for both the lag
    * (change detection) and the lead (interval close), so the cost is
    * a single user-partitioned sort of bounded per-user history, the
    * canonical dimension-history build.
    */
  def q40Scd2(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val changes = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    changes
      .withColumn("next_ts", lead(col("ts"), 1).over(w2))
      .withColumn("version", row_number().over(w2).cast("long"))
      .select(col("user_id"), col("version"),
        col("event_type").as("state"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        coalesce(date_format(col("next_ts"), "yyyy-MM-dd HH:mm:ss"),
          lit("9999-12-31 00:00:00")).as("valid_to"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Peak concurrency per day (sweep line over intervals): each event
    * opens a 30-minute interval; the peak number of simultaneously
    * open intervals per day is the classic +1/−1 sweep. The sweep is
    * DAY-PARTITIONED — each day's running sum is a bounded window, not
    * one global ordered sort — with midnight-crossing intervals
    * handled by a per-day carry-in aggregate (intervals already open
    * at day start), exactly how a distributed sweep shards a timeline
    * at 100 TB. End points sort before starts at the same instant
    * (half-open intervals), and ties of equal deltas cannot change any
    * prefix-sum maximum, so the day peak is order-deterministic.
    */
  def q41PeakConcurrency(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("ts"))
    val pts = ev.select(col("ts").as("t"), lit(1).as("delta"))
      .unionAll(ev.select((col("ts") + expr("INTERVAL 30 MINUTES")).as("t"),
        lit(-1).as("delta")))
      .withColumn("day", to_date(col("t")))
    val wDay = Window.partitionBy(col("day")).orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peaks = pts
      .withColumn("running", sum(col("delta")).over(wDay))
      .groupBy(col("day"))
      .agg(greatest(lit(0L), max(col("running"))).as("max_run"))
    val carry = ev
      .filter(to_date(col("ts")) =!= to_date(col("ts") + expr("INTERVAL 30 MINUTES")))
      .groupBy(to_date(col("ts") + expr("INTERVAL 30 MINUTES")).as("day"))
      .agg(count(lit(1)).as("carry"))
    peaks.join(carry, Seq("day"), "left")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        (col("max_run") + coalesce(col("carry"), lit(0L))).as("peak_concurrent"))
      .orderBy(col("day"))
  }

  /** Gaps-and-islands: each user's longest streak of consecutive
    * active days, via the classic dayNumber − row_number island key
    * (constant within a consecutive run, integer-exact from a fixed
    * epoch). Every window partitions by user over bounded per-user
    * activity; the island aggregation is two key-local hash
    * aggregations — nothing global at any scale.
    */
  def q42Streaks(s: SparkSession, d: String): DataFrame = {
    val wU = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val active = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    active
      .withColumn("island",
        expr("datediff(day, DATE'2024-01-01')") - row_number().over(wU))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        max(col("len")).as("longest_streak"),
        // longest streak's start day; equal lengths → earliest start
        date_format(min_by(col("start_day"),
          struct((lit(0L) - col("len")).as("neg"), col("start_day"))),
          "yyyy-MM-dd").as("streak_start"))
      .orderBy(col("user_id"))
  }

  /** Growth curve: new users per day (first-seen day) and the running
    * cumulative user count. The first-seen trick turns "distinct users
    * up to each day" — quadratic if recomputed per day — into one
    * user-keyed min aggregate plus a running sum over the BOUNDED day
    * dimension (empty-frame window on ~tens of rows, the
    * [[q34Anomaly]] pattern), which is how growth dashboards stay
    * linear at any event volume.
    */
  def q43CumulativeUsers(s: SparkSession, d: String): DataFrame = {
    val wCum = Window.partitionBy().orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(wCum))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("new_users"), col("cum_users"))
      .orderBy(col("day"))
  }

  /** Incremental view maintenance (the delta-merge shape): a per-type
    * (count, sum) aggregate maintained from a BASE partial and a
    * DELTA partial merged by key, instead of rescanning the union —
    * at 100 TB the base partial is persisted state and each refresh
    * costs only the delta scan plus a dimension-sized merge. The
    * output exposes the base/delta partials alongside the merged
    * totals so the oracle gates the incremental path itself, not just
    * the final sums. Sums are exact integer cents (mergeable with no
    * float order dependence), the merge is a full outer join on the
    * tiny type dimension.
    */
  def q44IncrementalAgg(s: SparkSession, d: String): DataFrame = {
    val Cut = "2024-01-25"
    val ev = Tables.events(s, d).select(col("event_type"), col("ts"),
      round(col("value") * 100, 0).cast("long").as("cents"))
    def part(df: DataFrame, pre: String): DataFrame =
      df.groupBy(col("event_type"))
        .agg(count(lit(1)).as(s"${pre}_n"), sum(col("cents")).as(s"${pre}_cents"))
    val base = part(ev.filter(col("ts") < lit(Cut)), "base")
    val delta = part(ev.filter(col("ts") >= lit(Cut)), "delta")
    base.join(delta, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("base_n"), lit(0L)).as("base_n"),
        coalesce(col("delta_n"), lit(0L)).as("delta_n"),
        (coalesce(col("base_n"), lit(0L)) + coalesce(col("delta_n"), lit(0L))).as("total_n"),
        round((coalesce(col("base_cents"), lit(0L)) + coalesce(col("delta_cents"), lit(0L)))
          / 100.0, 2).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Trailing-7-day distinct users per day — the sliding-window
    * distinct count. Exact sliding distinct cannot reuse adjacent
    * windows (distinct doesn't subtract), so the scalable exact form
    * is contribute-to-every-window: each (user, active day) explodes
    * to the ≤7 window ends it participates in, then one distinct +
    * count per window end — a fixed ×7 linear blow-up instead of a
    * per-day full recount (which is O(days · corpus) at 100 TB).
    * All aggregations are key-partitioned hash aggs.
    */
  def q45SlidingDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .select(col("user_id"),
        explode(expr("sequence(day, date_add(day, 6))")).as("window_end"))
      .distinct()
      .groupBy(col("window_end"))
      .agg(count(lit(1)).as("distinct_users"))
      .select(date_format(col("window_end"), "yyyy-MM-dd").as("window_end"),
        col("distinct_users"))
      .orderBy(col("window_end"))

  /** KMV sketch SET ALGEBRA — why mergeable sketches matter at scale:
    * bottom-k sketches of two customer populations (early vs late
    * order years) are built independently, their UNION sketch is just
    * the bottom-k of the merged hash sets (one more bounded-heap
    * aggregation — never a rescan), and the intersection estimate
    * falls out by inclusion–exclusion. Each estimator is the same
    * pure-integer (k−1)·2^48 / h_(k) as [[q38KmvDistinct]], so every
    * estimate AND the exact counts are engine-portable bit-for-bit.
    * The three sketches come from one tagged aggregation over hashed
    * key sets; the final single-row combine is a conditional
    * aggregation over the 3-row sketch frame — no scalar cross join.
    */
  def q46SketchSetops(s: SparkSession, d: String): DataFrame = {
    val K = 256
    val Dom = 281474976710656L // 2^48
    def hashes(lo: String, hi: String): DataFrame =
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
        .select(conv(substring(md5(col("o_custkey").cast("string")), 1, 12), 16, 10)
          .cast("long").as("h"))
        .distinct()
    val ha = hashes("1995-01-01", "1998-01-01")
    val hb = hashes("1998-01-01", "2002-01-01")
    val hu = ha.unionAll(hb).distinct()
    val tagged = ha.withColumn("tag", lit("a"))
      .unionAll(hb.withColumn("tag", lit("b")))
      .unionAll(hu.withColumn("tag", lit("u")))
    // KMV rule: a sketch that never filled holds the ENTIRE hash set,
    // so the estimate is the exact count (the k-th-minimum formula
    // would index past the array — and over-estimate even if guarded).
    val sk = tagged.groupBy(col("tag"))
      .agg(count(lit(1)).as("true_n"),
        graft.functions.TopKIds.topKIds(-col("h").cast("double"), col("h"), K).as("mins"))
      .select(col("tag"), col("true_n"),
        expr(s"CAST(CASE WHEN size(mins) < $K THEN true_n ELSE " +
          s"(${K - 1} * CAST($Dom AS BIGINT)) DIV element_at(mins, $K) END AS BIGINT)")
          .as("est"))
    def pick(c: String, t: String): Column = max(when(col("tag") === t, col(c)))
    sk.agg(
        pick("est", "a").as("est_a"), pick("true_n", "a").as("true_a"),
        pick("est", "b").as("est_b"), pick("true_n", "b").as("true_b"),
        pick("est", "u").as("est_union"), pick("true_n", "u").as("true_union"))
      .select(col("est_a"), col("true_a"), col("est_b"), col("true_b"),
        col("est_union"), col("true_union"),
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union"))
          .as("est_intersect"),
        (col("true_a") + col("true_b") - col("true_union")).as("true_intersect"))
  }

  /** queries-map fragment for this module. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q45_sliding_distinct" -> q45SlidingDistinct _,
    "q46_sketch_setops" -> q46SketchSetops _,
    "q43_cumulative_users" -> q43CumulativeUsers _,
    "q44_incremental_agg" -> q44IncrementalAgg _,
    "q41_peak_concurrency" -> q41PeakConcurrency _,
    "q42_streaks" -> q42Streaks _,
    "q39_cdc_apply" -> q39CdcApply _,
    "q40_scd2" -> q40Scd2 _,
    "q32_retention" -> q32Retention _,
    "q33_market_basket" -> q33MarketBasketPacked _,
    "q34_anomaly" -> q34Anomaly _,
    "q35_attribution" -> q35Attribution _,
    "q36_histogram" -> q36Histogram _,
    "q37_pagerank" -> q37Pagerank _,
    "q38_kmv_distinct" -> q38KmvDistinct _,
    "q47_hll_distinct" -> q47HllDistinct _,
    "q48_triangles" -> q48Triangles _,
    "q49_hll_setops" -> q49HllSetops _,
    "q50_label_propagation" -> q50LabelPropagation _,
    "q51_quantile_sketch" -> q51QuantileSketch _,
    "q31_funnel" -> q31Funnel _,
    "q30_grouping_sets" -> q30GroupingSets _,
    "q29_correlated" -> q29Correlated _,
    "q28_dpp_join" -> q28DppJoin _,
    "q26_data_profile" -> q26DataProfile _,
    "q24_revenue_share" -> q24RevenueShare _,
    "q25_winsorize" -> q25Winsorize _,
    "q23_ntile_percent_rank" -> q23NtilePercentRank _,
    "q22_topk_per_group" -> q22TopkPerGroup _,
    "q21_range_join" -> q21RangeJoin _,
    "q19_outer_join" -> q19OuterJoin _,
    "q20_cube" -> q20Cube _,
    "q16_asof_join" -> q16AsofJoin _,
    "q17_salted_agg" -> q17SaltedAgg _,
    "q18_distinct_counts" -> q18DistinctCounts _,
    "q1_pricing_summary" -> q1PricingSummary _,
    "q2_topk_orders" -> q2TopkOrders _,
    "q3_shipping_priority" -> q3ShippingPriority _,
    "q4_order_priority" -> q4OrderPriority _,
    "q5_local_supplier_volume" -> q5LocalSupplierVolume _,
    "q6_forecast_revenue" -> q6ForecastRevenue _,
    "q7_window_rank" -> q7WindowRank _,
    "q8_rollup" -> q8Rollup _,
    "q9_anti_join" -> q9AntiJoin _,
    "q10_set_ops" -> q10SetOps _,
    "q11_pivot" -> q11Pivot _,
    "q12_running_sum" -> q12RunningSum _,
    "q13_sessionize" -> q13Sessionize _,
    "q14_percentiles" -> q14Percentiles _,
    "q27_approx_percentiles" -> q27ApproxPercentiles _,
    "q15_stats" -> q15Stats _)

  /** DuckDB oracle SQL, column-name and value aligned with [[queries]]. */
  private val q48OracleSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
      |  WHERE l1.l_partkey < l2.l_partkey),
      |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM
      |  (SELECT a AS n FROM pairs UNION ALL SELECT b AS n FROM pairs) GROUP BY n),
      |o AS (SELECT
      |   CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.a < p.b)
      |     THEN p.a ELSE p.b END AS u,
      |   CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.a < p.b)
      |     THEN p.b ELSE p.a END AS v
      |  FROM pairs p JOIN deg da ON p.a = da.n JOIN deg db ON p.b = db.n),
      |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
      |  FROM o w1 JOIN o w2 ON w1.u = w2.u AND w1.v <> w2.v
      |  JOIN o c ON c.u = w1.v AND c.v = w2.v),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |   CAST(sum(deg) // 2 AS BIGINT) AS n_edges,
      |   CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
      |SELECT st.n_nodes, st.n_edges, st.n_wedges, tri.n_triangles,
      | CASE WHEN st.n_wedges > 0
      |   THEN round(CAST(tri.n_triangles AS DOUBLE) * 3.0 /
      |     CAST(st.n_wedges AS DOUBLE), 4)
      |   ELSE 0.0 END AS global_cc
      |FROM tri, st""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q45_sliding_distinct" ->
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |w AS (SELECT user_id,
        |   unnest(generate_series(CAST(day AS TIMESTAMP),
        |     CAST(day AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS we
        |  FROM a),
        |dw AS (SELECT DISTINCT user_id, CAST(we AS DATE) AS window_end FROM w)
        |SELECT strftime(window_end, '%Y-%m-%d') AS window_end,
        | CAST(count(*) AS BIGINT) AS distinct_users
        |FROM dw GROUP BY window_end ORDER BY window_end""".stripMargin,
    "q46_sketch_setops" ->
      """WITH ha AS (SELECT DISTINCT
        |   CAST('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 12) AS BIGINT) AS h
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'),
        |hb AS (SELECT DISTINCT
        |   CAST('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 12) AS BIGINT) AS h
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |    AND o_orderdate < TIMESTAMP '2002-01-01'),
        |hu AS (SELECT h FROM ha UNION SELECT h FROM hb),
        |t AS (SELECT 'a' AS tag, h FROM ha UNION ALL
        |      SELECT 'b', h FROM hb UNION ALL
        |      SELECT 'u', h FROM hu),
        |r AS (SELECT tag, h,
        |   row_number() OVER (PARTITION BY tag ORDER BY h) AS rn FROM t),
        |sk AS (SELECT tag, CAST(count(*) AS BIGINT) AS true_n,
        |   CAST(CASE WHEN count(*) < 256 THEN count(*)
        |     ELSE (255 * 281474976710656) //
        |       max(CASE WHEN rn = 256 THEN h END) END AS BIGINT) AS est
        |  FROM r GROUP BY tag)
        |SELECT
        | max(CASE WHEN tag = 'a' THEN est END) AS est_a,
        | max(CASE WHEN tag = 'a' THEN true_n END) AS true_a,
        | max(CASE WHEN tag = 'b' THEN est END) AS est_b,
        | max(CASE WHEN tag = 'b' THEN true_n END) AS true_b,
        | max(CASE WHEN tag = 'u' THEN est END) AS est_union,
        | max(CASE WHEN tag = 'u' THEN true_n END) AS true_union,
        | greatest(0, max(CASE WHEN tag = 'a' THEN est END)
        |   + max(CASE WHEN tag = 'b' THEN est END)
        |   - max(CASE WHEN tag = 'u' THEN est END)) AS est_intersect,
        | max(CASE WHEN tag = 'a' THEN true_n END)
        |   + max(CASE WHEN tag = 'b' THEN true_n END)
        |   - max(CASE WHEN tag = 'u' THEN true_n END) AS true_intersect
        |FROM sk""".stripMargin,
    "q49_hll_setops" ->
      s"""WITH ha AS (SELECT DISTINCT
        |   CAST('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 12) AS BIGINT) AS h
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'),
        |hb AS (SELECT DISTINCT
        |   CAST('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 12) AS BIGINT) AS h
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |    AND o_orderdate < TIMESTAMP '2002-01-01'),
        |t AS (SELECT 'a' AS tag, h FROM ha UNION ALL SELECT 'b', h FROM hb),
        |r AS (SELECT tag, h >> 40 AS idx, h & ((1::BIGINT << 40) - 1) AS w FROM t),
        |rho AS (SELECT tag, idx,
        |   CASE WHEN w = 0 THEN 41 ELSE 41 - length(bin(w)) END AS rho FROM r),
        |reg AS (SELECT tag, idx, max(rho) AS mj, CAST(count(*) AS BIGINT) AS cnt
        |  FROM rho GROUP BY 1, 2),
        |regu AS (SELECT 'u' AS tag, idx, max(mj) AS mj, CAST(0 AS BIGINT) AS cnt
        |  FROM reg GROUP BY 2),
        |allr AS (SELECT * FROM reg UNION ALL SELECT * FROM regu),
        |agg AS (SELECT tag,
        |   sum(1::BIGINT << CAST(50 - mj AS INT)) AS zp,
        |   CAST(count(*) AS BIGINT) AS mp,
        |   CAST(sum(cnt) AS BIGINT) AS tn FROM allr GROUP BY 1),
        |este AS (SELECT tag, tn,
        |   CAST(floor(CASE WHEN 256 - mp > 0 AND
        |       ${0.7213 / (1.0 + 1.079 / 256) * 256 * 256 * (1L << 50)} /
        |         CAST(zp + (256 - mp) * (1::BIGINT << 50) AS DOUBLE) <= 640.0
        |     THEN 256.0 * ln(256.0 / CAST(256 - mp AS DOUBLE))
        |     ELSE ${0.7213 / (1.0 + 1.079 / 256) * 256 * 256 * (1L << 50)} /
        |       CAST(zp + (256 - mp) * (1::BIGINT << 50) AS DOUBLE) END) AS BIGINT) AS est
        |  FROM agg),
        |tu AS (SELECT 'tu' AS tag,
        |   CAST(count(*) AS BIGINT) AS tn, CAST(0 AS BIGINT) AS est
        |  FROM (SELECT h FROM ha UNION SELECT h FROM hb)),
        |rows_ AS (SELECT tag, tn, est FROM este UNION ALL SELECT tag, tn, est FROM tu)
        |SELECT
        | max(CASE WHEN tag = 'a' THEN est END) AS est_a,
        | max(CASE WHEN tag = 'a' THEN tn END) AS true_a,
        | max(CASE WHEN tag = 'b' THEN est END) AS est_b,
        | max(CASE WHEN tag = 'b' THEN tn END) AS true_b,
        | max(CASE WHEN tag = 'u' THEN est END) AS est_union,
        | max(CASE WHEN tag = 'tu' THEN tn END) AS true_union,
        | greatest(0, max(CASE WHEN tag = 'a' THEN est END)
        |   + max(CASE WHEN tag = 'b' THEN est END)
        |   - max(CASE WHEN tag = 'u' THEN est END)) AS est_intersect,
        | max(CASE WHEN tag = 'a' THEN tn END)
        |   + max(CASE WHEN tag = 'b' THEN tn END)
        |   - max(CASE WHEN tag = 'tu' THEN tn END) AS true_intersect
        |FROM rows_""".stripMargin,
    "q43_cumulative_users" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
        |           FROM events GROUP BY user_id),
        |n AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users
        |      FROM f GROUP BY day)
        |SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
        | CAST(sum(new_users) OVER (ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cum_users
        |FROM n ORDER BY day""".stripMargin,
    "q44_incremental_agg" ->
      """WITH ev AS (SELECT event_type, ts,
        |   CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |b AS (SELECT event_type, CAST(count(*) AS BIGINT) AS base_n,
        |   CAST(sum(cents) AS BIGINT) AS base_cents
        |  FROM ev WHERE ts < TIMESTAMP '2024-01-25' GROUP BY event_type),
        |d AS (SELECT event_type, CAST(count(*) AS BIGINT) AS delta_n,
        |   CAST(sum(cents) AS BIGINT) AS delta_cents
        |  FROM ev WHERE ts >= TIMESTAMP '2024-01-25' GROUP BY event_type)
        |SELECT coalesce(b.event_type, d.event_type) AS event_type,
        | coalesce(base_n, 0) AS base_n,
        | coalesce(delta_n, 0) AS delta_n,
        | coalesce(base_n, 0) + coalesce(delta_n, 0) AS total_n,
        | round((coalesce(base_cents, 0) + coalesce(delta_cents, 0)) / 100.0, 2)
        |   AS total_value
        |FROM b FULL OUTER JOIN d ON b.event_type = d.event_type
        |ORDER BY event_type""".stripMargin,
    "q41_peak_concurrency" ->
      """WITH pts AS (
        |  SELECT ts AS t, 1 AS delta FROM events
        |  UNION ALL
        |  SELECT ts + INTERVAL 30 MINUTE AS t, -1 AS delta FROM events),
        |run AS (SELECT CAST(t AS DATE) AS day,
        |   sum(delta) OVER (PARTITION BY CAST(t AS DATE) ORDER BY t, delta
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |  FROM pts),
        |peaks AS (SELECT day, greatest(0, max(running)) AS max_run
        |          FROM run GROUP BY day),
        |carry AS (SELECT CAST(ts + INTERVAL 30 MINUTE AS DATE) AS day,
        |   CAST(count(*) AS BIGINT) AS carry
        |  FROM events
        |  WHERE CAST(ts AS DATE) <> CAST(ts + INTERVAL 30 MINUTE AS DATE)
        |  GROUP BY 1)
        |SELECT strftime(p.day, '%Y-%m-%d') AS day,
        | CAST(p.max_run + coalesce(c.carry, 0) AS BIGINT) AS peak_concurrent
        |FROM peaks p LEFT JOIN carry c ON p.day = c.day
        |ORDER BY day""".stripMargin,
    "q42_streaks" ->
      """WITH active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |i AS (SELECT user_id, day,
        |   date_diff('day', DATE '2024-01-01', day)
        |     - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
        |  FROM active),
        |st AS (SELECT user_id, island, CAST(count(*) AS BIGINT) AS len,
        |       min(day) AS start_day FROM i GROUP BY 1, 2),
        |r AS (SELECT user_id, len, start_day,
        |   row_number() OVER (PARTITION BY user_id
        |     ORDER BY len DESC, start_day) AS rn,
        |   sum(len) OVER (PARTITION BY user_id) AS n_active_days,
        |   max(len) OVER (PARTITION BY user_id) AS longest
        |  FROM st)
        |SELECT user_id, CAST(n_active_days AS BIGINT) AS n_active_days,
        | CAST(longest AS BIGINT) AS longest_streak,
        | strftime(start_day, '%Y-%m-%d') AS streak_start
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q39_cdc_apply" ->
      """WITH t AS (SELECT user_id, ts, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |SELECT user_id, event_type AS last_type, round(value, 2) AS last_value,
        | strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
        |FROM t WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "q40_scd2" ->
      """WITH c AS (SELECT user_id, ts, event_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        | FROM events),
        |ch AS (SELECT user_id, ts, event_id, event_type FROM c
        |       WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id,
        | CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   AS BIGINT) AS version,
        | event_type AS state,
        | strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        | coalesce(strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |     '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00') AS valid_to
        |FROM ch ORDER BY user_id, version""".stripMargin,
    "q32_retention" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, day FROM ev)
        |SELECT date_diff('day', DATE '2024-01-01', c.cohort_day) // 7 AS cohort_week,
        | date_diff('day', c.cohort_day, a.day) // 7 AS week_offset,
        | CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q33_market_basket" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
        |SELECT a.pk AS part_a, b.pk AS part_b, CAST(count(*) AS BIGINT) AS n_orders
        |FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |GROUP BY 1, 2 ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin,
    "q34_anomaly" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |   CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   sum(CAST(cents AS HUGEINT)) AS s,
        |   sum(CAST(cents AS HUGEINT) * cents) AS q FROM daily)
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        | round(cents / 100.0, 2) AS revenue,
        | round(CAST(CAST(n AS HUGEINT) * cents - s AS DOUBLE) /
        |   (CAST(n AS DOUBLE) *
        |    sqrt(CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE) /
        |         CAST(n * (n - 1) AS DOUBLE))), 3) AS z
        |FROM daily, m
        |WHERE abs(CAST(CAST(n AS HUGEINT) * cents - s AS DOUBLE) /
        |   (CAST(n AS DOUBLE) *
        |    sqrt(CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE) /
        |         CAST(n * (n - 1) AS DOUBLE)))) > 1.5
        |ORDER BY day""".stripMargin,
    "q35_attribution" ->
      """WITH t AS (SELECT user_id, event_id, ts, event_type, value,
        |  last_value(CASE WHEN event_type IN ('view', 'click') THEN event_type END
        |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch
        | FROM events)
        |SELECT coalesce(touch, 'none') AS touch_type,
        | CAST(count(*) AS BIGINT) AS n_purchases,
        | round(sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0, 2)
        |   AS attributed_value
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q36_histogram" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT cents // 2500000 AS bin, (cents // 2500000) * 25000 AS bin_lo,
        | CAST(count(*) AS BIGINT) AS n,
        | round(min(cents) / 100.0, 2) AS min_price,
        | round(max(cents) / 100.0, 2) AS max_price,
        | round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS sum_price
        |FROM o GROUP BY 1 ORDER BY bin""".stripMargin,
    "q37_pagerank" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
        |p AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST((15 * 1000000000000) // (100 * count(*)) AS BIGINT) AS base FROM deg),
        |r0 AS (SELECT deg.src AS node,
        |  CAST(1000000000000 // p.n AS BIGINT) AS rank FROM deg, p),
        |r1 AS (SELECT e.dst AS node,
        |  CAST(p.base + (85 * sum(r0.rank // deg.deg)) // 100 AS BIGINT) AS rank
        | FROM e JOIN r0 ON e.src = r0.node JOIN deg ON deg.src = e.src, p
        | GROUP BY e.dst, p.base),
        |r2 AS (SELECT e.dst AS node,
        |  CAST(p.base + (85 * sum(r1.rank // deg.deg)) // 100 AS BIGINT) AS rank
        | FROM e JOIN r1 ON e.src = r1.node JOIN deg ON deg.src = e.src, p
        | GROUP BY e.dst, p.base),
        |r3 AS (SELECT e.dst AS node,
        |  CAST(p.base + (85 * sum(r2.rank // deg.deg)) // 100 AS BIGINT) AS rank
        | FROM e JOIN r2 ON e.src = r2.node JOIN deg ON deg.src = e.src, p
        | GROUP BY e.dst, p.base)
        |SELECT node AS part, rank FROM r3
        |ORDER BY rank DESC, part LIMIT 20""".stripMargin,
    "q38_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT
        |   CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 12) AS BIGINT)
        |     AS h FROM orders),
        |kv AS (SELECT max(h) AS hk, CAST(count(*) AS BIGINT) AS nk
        |  FROM (SELECT h FROM h ORDER BY h LIMIT 256)),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS true_distinct FROM h),
        |e AS (SELECT CAST(CASE WHEN kv.nk < 256 THEN kv.nk
        |   ELSE (255 * 281474976710656) // kv.hk END AS BIGINT) AS est_distinct,
        |  st.true_distinct FROM kv, st)
        |SELECT CAST(256 AS BIGINT) AS k, est_distinct, true_distinct,
        | round(CAST(est_distinct - true_distinct AS DOUBLE) /
        |   CAST(true_distinct AS DOUBLE) * 100.0, 2) AS err_pct
        |FROM e""".stripMargin,
    "q48_triangles" -> q48OracleSql,
    // exact-regime replay of the discrete-quantile semantics: the
    // value at row_number ceil(p*n) in each group's sort — identical
    // IEEE double products on both sides (probes are down-rounding
    // literals), so the target index can never differ
    "q51_quantile_sketch" ->
      s"""WITH p AS (SELECT unnest([${QsProbes.mkString(", ")}]::DOUBLE[]) AS p),
         |s AS (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS v,
         |   row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
         |   count(*) OVER (PARTITION BY l_returnflag) AS n
         |  FROM lineitem)
         |SELECT l_returnflag, p, min(v) AS q
         |FROM s JOIN p ON rn = greatest(1, CAST(ceil(p * n) AS BIGINT))
         |GROUP BY 1, 2 ORDER BY l_returnflag, p""".stripMargin,
    "q50_label_propagation" ->
      """WITH pairs AS (
        |  SELECT DISTINCT li1.l_partkey AS a, li2.l_partkey AS b
        |  FROM lineitem li1 JOIN lineitem li2 ON li1.l_orderkey = li2.l_orderkey
        |  WHERE li1.l_partkey < li2.l_partkey),
        |nbr AS (SELECT a AS u, b AS v FROM pairs
        |        UNION ALL SELECT b AS u, a AS v FROM pairs),
        |lp0 AS (SELECT DISTINCT u AS n, u AS lbl FROM nbr),
        |cnt1 AS (SELECT nbr.u, l.lbl, count(*) AS c
        |  FROM nbr JOIN lp0 l ON nbr.v = l.n GROUP BY 1, 2),
        |lp1 AS (SELECT u AS n, lbl FROM (SELECT u, lbl,
        |    row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rn
        |  FROM cnt1) WHERE rn = 1),
        |cnt2 AS (SELECT nbr.u, l.lbl, count(*) AS c
        |  FROM nbr JOIN lp1 l ON nbr.v = l.n GROUP BY 1, 2),
        |lp2 AS (SELECT u AS n, lbl FROM (SELECT u, lbl,
        |    row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rn
        |  FROM cnt2) WHERE rn = 1),
        |cnt3 AS (SELECT nbr.u, l.lbl, count(*) AS c
        |  FROM nbr JOIN lp2 l ON nbr.v = l.n GROUP BY 1, 2),
        |lp3 AS (SELECT u AS n, lbl FROM (SELECT u, lbl,
        |    row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rn
        |  FROM cnt3) WHERE rn = 1),
        |sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
        |  FROM lp3 GROUP BY lbl)
        |SELECT community_size, CAST(count(*) AS BIGINT) AS n_communities
        |FROM sz GROUP BY community_size ORDER BY community_size""".stripMargin,
    "q47_hll_distinct" ->
      s"""WITH h AS (SELECT DISTINCT
        |   CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 12) AS BIGINT)
        |     AS h FROM orders),
        |r AS (SELECT h >> 40 AS idx,
        |   h & ((1::BIGINT << 40) - 1) AS w FROM h),
        |rho AS (SELECT idx,
        |   CASE WHEN w = 0 THEN 41 ELSE 41 - length(bin(w)) END AS rho FROM r),
        |reg AS (SELECT idx, max(rho) AS mj, CAST(count(*) AS BIGINT) AS cnt
        |  FROM rho GROUP BY idx),
        |agg AS (SELECT
        |   sum(1::BIGINT << CAST(50 - mj AS INT)) AS zp,
        |   CAST(count(*) AS BIGINT) AS mp,
        |   CAST(sum(cnt) AS BIGINT) AS true_distinct FROM reg),
        |est AS (SELECT true_distinct,
        |   256 - mp AS v,
        |   ${0.7213 / (1.0 + 1.079 / 256) * 256 * 256 * (1L << 50)} /
        |     CAST(zp + (256 - mp) * (1::BIGINT << 50) AS DOUBLE) AS est_raw
        |  FROM agg)
        |SELECT CAST(256 AS BIGINT) AS m,
        | CAST(floor(CASE WHEN v > 0 AND est_raw <= 640.0
        |   THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE)) ELSE est_raw END) AS BIGINT)
        |   AS est_distinct,
        | true_distinct,
        | round(CAST(CAST(floor(CASE WHEN v > 0 AND est_raw <= 640.0
        |     THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE)) ELSE est_raw END) AS BIGINT)
        |     - true_distinct AS DOUBLE) /
        |   CAST(true_distinct AS DOUBLE) * 100.0, 2) AS err_pct
        |FROM est""".stripMargin,
    "q31_funnel" ->
      """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY e.user_id)
        |SELECT u.user_id,
        | CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3 WHEN t2.t2 IS NOT NULL THEN 2
        |   WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS funnel_stage,
        | strftime(t1.t1, '%Y-%m-%d %H:%M:%S') AS first_view,
        | strftime(t2.t2, '%Y-%m-%d %H:%M:%S') AS first_click,
        | strftime(t3.t3, '%Y-%m-%d %H:%M:%S') AS first_purchase
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN t1 ON u.user_id = t1.user_id
        |LEFT JOIN t2 ON u.user_id = t2.user_id
        |LEFT JOIN t3 ON u.user_id = t3.user_id
        |ORDER BY u.user_id""".stripMargin,
    "q30_grouping_sets" ->
      """SELECT CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rflag,
        | CAST(GROUPING(l_linestatus) AS BIGINT) AS g_lstatus,
        | CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rflag,
        | CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS lstatus,
        | CAST(count(*) AS BIGINT) AS n,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(avg(l_extendedprice), 2) AS avg_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_rflag, g_lstatus, rflag, lstatus""".stripMargin,
    "q29_correlated" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders)
        |SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total_price,
        | CAST((SELECT sum(i.cents) FROM o i WHERE i.o_custkey = o.o_custkey)
        |   // (SELECT count(*) FROM o i WHERE i.o_custkey = o.o_custkey)
        |   AS BIGINT) AS cust_avg_cents
        |FROM o
        |WHERE (SELECT count(*) FROM o i WHERE i.o_custkey = o.o_custkey) >= 3
        |  AND cents * 2 * (SELECT count(*) FROM o i WHERE i.o_custkey = o.o_custkey)
        |      > (SELECT sum(i.cents) FROM o i WHERE i.o_custkey = o.o_custkey) * 3
        |ORDER BY o_orderkey""".stripMargin,
    "q28_dpp_join" ->
      s"""WITH f AS (SELECT strftime(o_orderdate, '%Y-%m') AS o_month, o_totalprice
         |  FROM orders),
         |dim AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS o_month,
         |  CAST(year(o_orderdate) AS VARCHAR) || '-Q' ||
         |    CAST(quarter(o_orderdate) AS VARCHAR) AS qtr
         | FROM orders)
         |SELECT f.o_month, CAST(count(*) AS BIGINT) AS n_orders,
         | round(sum(o_totalprice), 2) AS revenue
         |FROM f JOIN dim ON f.o_month = dim.o_month
         |WHERE dim.qtr = '$DppQuarter'
         |GROUP BY f.o_month ORDER BY f.o_month""".stripMargin,
    "q26_data_profile" ->
      """SELECT column_name, n_rows, n_nulls, n_distinct FROM (
        | SELECT 'user_id' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) - count(user_id) AS BIGINT) AS n_nulls,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct FROM events
        | UNION ALL
        | SELECT 'event_type', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(event_type) AS BIGINT),
        |  CAST(count(DISTINCT event_type) AS BIGINT) FROM events
        | UNION ALL
        | SELECT 'props', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(props) AS BIGINT),
        |  CAST(count(DISTINCT props) AS BIGINT) FROM events)
        |ORDER BY column_name""".stripMargin,
    "q24_revenue_share" ->
      """WITH pt AS (SELECT event_type, sum(value) AS type_total
        |            FROM events GROUP BY event_type)
        |SELECT event_type, round(type_total, 2) AS type_total,
        | round(type_total / (SELECT sum(type_total) FROM pt) * 100.0, 4) AS pct_share
        |FROM pt ORDER BY event_type""".stripMargin,
    "q25_winsorize" ->
      """WITH p AS (SELECT event_type AS t, quantile_cont(value, 0.99) AS p99
        |           FROM events GROUP BY event_type)
        |SELECT event_type,
        | round(avg(value), 4) AS raw_mean,
        | round(avg(least(value, p99)), 4) AS winsorized_mean,
        | CAST(count(CASE WHEN value > p99 THEN 1 END) AS BIGINT) AS n_clamped
        |FROM events JOIN p ON event_type = t
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q23_ntile_percent_rank" ->
      """SELECT c_custkey, c_mktsegment, quartile, pct_rank FROM (
        | SELECT c_custkey, c_mktsegment,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank
        | FROM customer
        | WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey))
        |WHERE c_custkey % 10 = 0 ORDER BY c_custkey""".stripMargin,
    "q22_topk_per_group" ->
      """SELECT event_type, rank, event_id FROM (
        | SELECT event_type, event_id,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, event_id) AS BIGINT) AS rank
        | FROM events)
        |WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin,
    "q21_range_join" ->
      """SELECT a.event_id AS event_a, b.event_id AS event_b, a.user_id,
        | (epoch_us(b.ts) - epoch_us(a.ts)) AS dt_us
        |FROM events a JOIN events b
        | ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN 0 AND 300000000
        |ORDER BY event_a, event_b""".stripMargin,
    "q19_outer_join" ->
      """WITH c AS (SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
        |           FROM customer WHERE c_acctbal > 9000),
        |o AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_big_orders,
        |       round(sum(o_totalprice), 2) AS big_total
        |      FROM orders WHERE o_totalprice > 450000 GROUP BY o_custkey)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey,
        | coalesce(c_name, '(no-dim)') AS name,
        | coalesce(acctbal, 0.0) AS acctbal,
        | coalesce(n_big_orders, 0) AS n_big_orders,
        | coalesce(big_total, 0.0) AS big_total
        |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,
    "q20_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | CAST(count(*) AS BIGINT) AS n, round(avg(o_totalprice), 2) AS avg_total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q16_asof_join" ->
      """SELECT event_id, user_id, click_id, round(click_value, 2) AS click_value
        |FROM (
        | SELECT event_id, user_id, event_type,
        |  last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_id,
        |  last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_value
        | FROM events)
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "q17_salted_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q18_distinct_counts" ->
      """SELECT event_type,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        | CAST(count(DISTINCT props) AS BIGINT) AS n_props,
        | CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_extendedprice),4) AS avg_price,
        | round(avg(l_discount),4) AS avg_disc,
        | CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_topk_orders" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS total_price,
        | strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |FROM orders ORDER BY total_price DESC, o_orderkey LIMIT 10""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS rev,
        | strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        | AND l_orderkey = o_orderkey
        | AND o_orderdate < TIMESTAMP '1998-01-01'
        | AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, order_date, o_orderpriority
        |ORDER BY rev DESC, l_orderkey LIMIT 10""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q5_local_supplier_volume" ->
      """SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS rev
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        | AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        | AND r_name = 'ASIA'
        | AND o_orderdate >= TIMESTAMP '1996-01-01'
        | AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY rev DESC, n_name""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice*l_discount),2) AS rev,
        | CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        | AND l_shipdate < TIMESTAMP '1997-01-01'
        | AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "q7_window_rank" ->
      """SELECT c_mktsegment, rnk, c_custkey, c_name, acctbal FROM (
        | SELECT c_mktsegment,
        |  CAST(row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk,
        |  c_custkey, c_name, round(c_acctbal,2) AS acctbal
        | FROM customer) WHERE rnk <= 3
        |ORDER BY c_mktsegment, rnk""".stripMargin,
    "q8_rollup" ->
      """SELECT coalesce(o_orderstatus,'ALL') AS status,
        | coalesce(o_orderpriority,'ALL') AS priority,
        | CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q9_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin,
    "q10_set_ops" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |UNION
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
        |ORDER BY c_custkey""".stripMargin,
    "q11_pivot" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        | CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        | CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        | CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        | CAST(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        | CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
        |FROM events GROUP BY day ORDER BY day""".stripMargin,
    "q12_running_sum" ->
      """SELECT user_id, event_id, round(value,2) AS value,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_value
        |FROM events WHERE user_id < 20
        |ORDER BY user_id, event_id""".stripMargin,
    "q13_sessionize" ->
      """WITH g AS (
        | SELECT user_id,
        |  CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        | FROM (SELECT user_id, epoch_us(ts) AS us,
        |   lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_us
        |  FROM events))
        |SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
        | CAST(count(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q14_percentiles" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5),4) AS p50,
        | round(quantile_cont(value, 0.9),4) AS p90,
        | round(min(value),2) AS vmin, round(max(value),2) AS vmax
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // approx_percentile's definition: the SMALLEST value whose
    // cumulative fraction of rows is >= p (discrete, no interpolation)
    // — expressed via cume_dist, not quantile_disc (whose convention
    // differs at the boundary).
    "q27_approx_percentiles" ->
      """WITH cd AS (SELECT event_type, value,
        |  cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS c
        | FROM events)
        |SELECT event_type,
        | round(min(CASE WHEN c >= 0.5 THEN value END), 4) AS ap50,
        | round(min(CASE WHEN c >= 0.9 THEN value END), 4) AS ap90,
        | CAST(count(*) AS BIGINT) AS n
        |FROM cd GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q15_stats" ->
      """SELECT event_type,
        | round(avg(value),4) AS avg_value,
        | round(stddev_samp(value),4) AS sd_value,
        | round(corr(value, CAST(user_id AS DOUBLE)),4) AS corr_vu,
        | round(covar_samp(value, CAST(user_id AS DOUBLE)),2) AS covar_vu
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
