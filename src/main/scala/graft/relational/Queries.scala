package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.Tables

/** Relational / analytic core: the engine basics (scan, filter, join,
  * aggregate, window, top-k, rollup, semi/anti join) exercised as
  * oracle-checked queries over the TPC-H-ish test tables.
  *
  * Determinism rules (shared with the DuckDB oracle SQL in
  * [[graft.SparkEntry.oracleSql]]):
  *  - money/quantity aggregates run through exact integer cents
  *    (`floor(x * 100)` as BIGINT) — never order-dependent double sums;
  *  - timestamps are never emitted raw (Spark is micros, the source is
  *    nanos): they are projected to `unix_micros` / floor-seconds;
  *  - every top-k carries a unique tie-break key;
  *  - output key columns are cast to BIGINT on both sides.
  *
  * Scale notes: only the *bounded* dimension sides of the star joins
  * (region, nation, the Brand-filtered part slice, filtered-part
  * aggregates) carry explicit `broadcast()` hints. Customer and
  * supplier scale linearly with the fact data, so they get NO hint —
  * AQE broadcasts them while they fit under the threshold and falls
  * back to a shuffle join at 100×, instead of an OOM'd forced
  * broadcast. Filters are plain column predicates so they reach the
  * parquet scan as PushedFilters.
  */
object Queries {

  /** Exact integer cents of a (possibly negative) double amount. */
  def cents(c: Column): Column = floor(c * 100).cast("long")

  /** events.ts is canonically a BIGINT of epoch nanos: whatever the
    * physical parquet grain (INT64 TIMESTAMP(NANOS) or TIMESTAMP(MICROS)
    * NTZ — both have shipped), [[graft.Tables.normalizeEventTs]] rewrites
    * it to epoch nanos at the read seam, because (a) Spark's
    * TimestampType is micros and (b) nano epoch values exceed 2^53, so
    * any double math on them would silently lose exactness. All derived
    * time columns therefore use pure integer division (floor for
    * positive epochs), matching `epoch_ns(ts) // k` in the DuckDB
    * oracles — which is equally grain-agnostic on the DuckDB side.
    */
  def nsToSec(c: Column): Column = {
    // SQL `div` (integral division) — Column./ would detour through
    // doubles and corrupt epochs > 2^53.
    expr(s"(${c.toString} div 1000000000L)").cast("long")
  }

  /** Epoch micros of a micro/milli-grain NTZ timestamp column (session
    * is pinned UTC so NTZ→LTZ is the identity).
    */
  def epochUs(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** q1_agg — pricing-summary style grouped aggregation on lineitem. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    l.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty_c"),
        sum(cents(col("l_extendedprice"))).as("sum_base_c"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_c"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))).as("sum_charge_c"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q3_topk — segment filter + 3-way join + agg + top-10 revenue.
    * The BUILDING customer slice is ~1/5 of ALL customers — linear in
    * scale factor — so it carries no broadcast hint (matching q5/q10):
    * AQE broadcasts it at small sf and shuffle-joins at 100× where a
    * forced broadcast would OOM the driver.
    */
  def q3Topk(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = Tables(spark, dir, "orders").filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val l = Tables(spark, dir, "lineitem").filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_c"))
      .select(col("l_orderkey"), epochUs(col("o_orderdate")).as("odate_us"), col("revenue_c"))
      .orderBy(col("revenue_c").desc, col("l_orderkey"))
      .limit(10)
  }

  /** q5_join — star join across all six relational tables. */
  def q5Join(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables(spark, dir, "region").filter(col("r_name") === "ASIA")
    val n = Tables(spark, dir, "nation")
    val c = Tables(spark, dir, "customer")
    val s = Tables(spark, dir, "supplier")
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-07-01").cast("timestamp"))
    val l = Tables(spark, dir, "lineitem")
    // customer/supplier scale with the fact tables: no broadcast hint —
    // let AQE pick broadcast vs shuffle from runtime sizes.
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_c"))
      .orderBy(col("n_name"))
  }

  /** q10_returns — returned-item revenue per customer: fact-fact join
    * (lineitem `R` rows × half-year orders window) decorated by
    * customer and broadcast nation, grouped per customer, top-20 by
    * revenue. Customer is unhinted — AQE broadcasts at small sf and
    * shuffle-joins at scale; the date filter and returnflag filter
    * both push to the parquet scans.
    */
  def q10Returns(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey").cast("long").as("c_custkey"),
        col("c_name"), col("n_name"))
      .agg(max(cents(col("c_acctbal"))).as("acctbal_c"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_c"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue_c").desc, col("c_custkey"))
      .limit(20)
  }

  /** q_json_extract — semi-structured extraction: the events `props`
    * column is a JSON string; parse it with an explicit schema
    * (`from_json`, codegen'd Jackson path) and aggregate the typed
    * field per event_type. The schema-on-read shape for a 100 TB
    * payload column — the parse happens scan-side, only the extracted
    * long reaches the shuffle. Jackson's strict typing (quoted or
    * fractional k → NULL, never coerced) is mirrored in the oracle by
    * a json_type() guard.
    */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("event_type"),
        from_json(col("props"), "k BIGINT", java.util.Map.of[String, String])
          .getField("k").as("k"))
    e.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("distinct_k"))
      .orderBy("event_type")
  }

  /** Fixed pivot domain for [[qPivot]] — explicit values keep the
    * output schema static (no extra distinct-values job) and the
    * oracle expressible as conditional aggregation.
    */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** q_pivot — crosstab: hourly buckets × event-type columns with
    * exact cents sums. `pivot` with an explicit value list compiles to
    * a single HashAggregate of conditional aggregates — one shuffle on
    * the row key, no per-value scans, schema known at plan time.
    */
  def qPivot(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(floor(nsToSec(col("ts")) / lit(3600.0)).cast("long").as("bucket_h"),
        col("event_type"), cents(col("value")).as("value_c"))
    e.groupBy("bucket_h")
      .pivot("event_type", EventTypes)
      .agg(sum(col("value_c")))
      .toDF("bucket_h" +: EventTypes.map(t => s"sum_${t}_c"): _*)
      .select(col("bucket_h") +:
        EventTypes.map(t => coalesce(col(s"sum_${t}_c"), lit(0L)).as(s"sum_${t}_c")): _*)
      .orderBy("bucket_h")
  }

  /** q_unpivot — the INVERSE reshape of [[qPivot]], through Spark's
    * native `unpivot` (melt) operator: the hour×type wide matrix goes
    * back to long (bucket_h, event_type, sum_c) rows, including the
    * zero-filled cells the pivot materialized — the round trip that
    * certifies pivot/unpivot as inverses. Unpivot is a projection
    * (an Expand of one row per value column) — no shuffle beyond the
    * pivot's own aggregate, and the reshape cost is O(rows × types)
    * regardless of table size.
    */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame =
    qPivot(spark, dir)
      .unpivot(Array(col("bucket_h")),
        EventTypes.map(t => col(s"sum_${t}_c")).toArray,
        "metric", "sum_c")
      .select(col("bucket_h"),
        expr("substring(metric, 5, length(metric) - 6)").as("event_type"),
        col("sum_c"))
      .orderBy("bucket_h", "event_type")

  /** q_corr — Pearson correlation of the event value (cents) against
    * the JSON `k` field, per event_type, via EXACT integer moments:
    * every Σx, Σy, Σx², Σy², Σxy is a bigint sum of integer
    * projections (order-independent under any partitioning — a double
    * `corr()` is not), and the only float ops are the final two sqrts
    * and divisions from those exact integers, a closed chain written
    * identically in the oracle. Zero-variance groups emit corr_u = 0
    * (the guard also keeps ANSI mode from ∞-casting). The n·Σ−Σ·Σ
    * products are computed in DECIMAL(38,0) (HUGEINT in the oracle)
    * because the textbook form overflows Int64 around 5·10⁵ rows per
    * group; the bigint SUM inputs themselves are safe to ~10¹⁰
    * rows/group (x² ≤ 10⁸). DECIMAL(38,0)→DOUBLE and HUGEINT→DOUBLE
    * both produce the nearest double of the same exact integer.
    */
  def qCorr(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("event_type"), cents(col("value")).as("x"),
        from_json(col("props"), "k BIGINT", java.util.Map.of[String, String])
          .getField("k").as("y"))
      .filter(col("y").isNotNull)
    def wide(c: Column): Column = c.cast("decimal(38,0)")
    e.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("num", wide(col("n")) * wide(col("sxy")) - wide(col("sx")) * wide(col("sy")))
      .withColumn("dx", wide(col("n")) * wide(col("sxx")) - wide(col("sx")) * wide(col("sx")))
      .withColumn("dy", wide(col("n")) * wide(col("syy")) - wide(col("sy")) * wide(col("sy")))
      .withColumn("corr_u",
        when(col("dx") > 0 && col("dy") > 0,
          floor(col("num").cast("double")
            / sqrt(col("dx").cast("double"))
            / sqrt(col("dy").cast("double")) * lit(1000000.0)).cast("long"))
          .otherwise(0L))
      .select("event_type", "n", "sx", "sy", "corr_u")
      .orderBy("event_type")
  }

  /** q_autocorr — lag-1 AUTOcorrelation of each event type's value
    * series (ordered by event time): the time-series diagnostic —
    * does the last observation predict the next — expressed as
    * [[qCorr]]'s exact-integer-moment Pearson over (previous, current)
    * pairs from one window lag. All six moments are order-independent
    * bigint sums; the n·Σ−Σ·Σ combination widens to decimal(38) and
    * only the final two sqrts/divisions are float, a closed chain the
    * oracle writes identically (HUGEINT on its side). Zero-variance
    * series emit corr_u = 0.
    *
    * Scale shape: one window lag (the per-type sort a time-series
    * table already clusters by) + one map-side-combined moment
    * aggregate onto the bounded type domain.
    */
  def qAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("event_type"), nsToSec(col("ts")).as("sec"),
        col("event_id"), cents(col("value")).as("v"))
    val w = Window.partitionBy("event_type").orderBy("sec", "event_id")
    val pairs = e.withColumn("x", lag(col("v"), 1).over(w))
      .filter(col("x").isNotNull)
      .select(col("event_type"), col("x"), col("v").as("y"))
    def wide(c: Column): Column = c.cast("decimal(38,0)")
    pairs.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("num", wide(col("n_pairs")) * wide(col("sxy")) -
        wide(col("sx")) * wide(col("sy")))
      .withColumn("dx", wide(col("n_pairs")) * wide(col("sxx")) -
        wide(col("sx")) * wide(col("sx")))
      .withColumn("dy", wide(col("n_pairs")) * wide(col("syy")) -
        wide(col("sy")) * wide(col("sy")))
      .withColumn("corr_u",
        when(col("dx") > 0 && col("dy") > 0,
          floor(col("num").cast("double")
            / sqrt(col("dx").cast("double"))
            / sqrt(col("dy").cast("double")) * lit(1000000.0)).cast("long"))
          .otherwise(0L))
      .select("event_type", "n_pairs", "sx", "sy", "corr_u")
      .orderBy("event_type")
  }

  /** q_window — per-user running row_number + exact running value sum. */
  def qWindow(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.select(
        col("event_id"), col("user_id"),
        row_number().over(Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))).cast("long").as("rn"),
        sum(cents(col("value"))).over(w).as("run_value_c"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** q_sessionize — 30-minute-gap sessionization via lag + running sum
    * (pure window functions — the streaming-stateful twin is
    * [[graft.streaming.EventStreams]]).
    */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), nsToSec(col("ts")).as("sec"), cents(col("value")).as("value_c"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("prev_sec", lag(col("sec"), 1).over(byUser))
      .withColumn("is_new", when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("sec")) - min(col("sec"))).as("dur_sec"),
        sum(col("value_c")).as("sum_value_c"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** q_session_native — [[qSessionize]]'s EXACT semantics through
    * Spark's BUILT-IN `session_window` operator (the
    * prefer-built-ins-first principle: the gap-merge is a native
    * streaming-capable aggregation, no lag/cumsum window chain).
    * Boundary semantics verified empirically: session_window MERGES
    * an event arriving exactly `gap` after the previous one (split
    * iff diff > gap), which is precisely the window formulation's
    * strict `sec − prev > 1800` rule at gap = 1800 — an exact-1801
    * event pair in the corpus pins it. Ordinal session ids come from one
    * bounded per-user window over the SESSION frame (rows =
    * sessions, not events). Shares q_sessionize's oracle VERBATIM —
    * one SQL certifies the hand-built and the built-in paths.
    */
  def qSessionNative(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), nsToSec(col("ts")).as("sec"),
        cents(col("value")).as("value_c"))
      .withColumn("ets", timestamp_seconds(col("sec")))
    val w = Window.partitionBy("user_id").orderBy(col("session_window.start"))
    e.groupBy(col("user_id"), session_window(col("ets"), "1800 seconds"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("sec")) - min(col("sec"))).as("dur_sec"),
        sum(col("value_c")).as("sum_value_c"))
      .withColumn("session_id", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("dur_sec"), col("sum_value_c"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** q_tumbling — 1-hour tumbling-window aggregation over events
    * (batch twin of the Structured Streaming version).
    */
  def qTumbling(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
    // floor(x / 3600.0), never a double->long CAST: DuckDB CAST rounds
    // where Spark truncates, so both sides must go through FLOOR.
    e.select(floor(nsToSec(col("ts")) / lit(3600.0)).cast("long").as("bucket_h"),
        col("event_type"), col("user_id"), cents(col("value")).as("value_c"))
      .groupBy(col("bucket_h"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        count_distinct(col("user_id")).as("users"),
        sum(col("value_c")).as("sum_value_c"))
      .orderBy(col("bucket_h"), col("event_type"))
  }

  /** q_distinct — multi-distinct aggregation by event type. */
  def qDistinct(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
    e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        count_distinct(col("user_id")).as("users"),
        min(cents(col("value"))).as("min_value_c"),
        max(cents(col("value"))).as("max_value_c"),
        sum(cents(col("value"))).as("sum_value_c"))
      .orderBy(col("event_type"))
  }

  /** q_topk_orders — global top-20 orders by price, tie-broken on key. */
  def qTopkOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("totalprice_c"))
      .orderBy(col("totalprice_c").desc, col("o_orderkey"))
      .limit(20)
  }

  /** q_semijoin — customers with no orders (anti join), per nation. */
  def qSemijoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val o = Tables(spark, dir, "orders")
    val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("n_with_orders"))
    c.groupBy(col("c_nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"), sum(cents(col("c_acctbal"))).as("sum_acctbal_c"))
      .join(withOrders, Seq("nationkey"), "left")
      .select(col("nationkey"), col("n_customers"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        (col("n_customers") - coalesce(col("n_with_orders"), lit(0L))).as("n_without_orders"),
        col("sum_acctbal_c"))
      .orderBy(col("nationkey"))
  }

  /** q7_nations — two-nation trade flow: which (supplier-nation,
    * customer-nation) pairs ship how much revenue per year. Both
    * nation dimensions broadcast (bounded at 25 rows); customer and
    * supplier are joined WITHOUT hints so AQE picks broadcast vs
    * shuffle from runtime sizes — they scale linearly with the fact
    * data and a forced broadcast dies at 100×.
    */
  def q7Nations(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables(spark, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables(spark, dir, "nation")
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val wanted = Seq("NATION_1", "NATION_2")
    Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(Tables(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === wanted(0) && col("cust_nation") === wanted(1)) ||
        (col("supp_nation") === wanted(1) && col("cust_nation") === wanted(0)))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate").cast("timestamp")).cast("long").as("ship_year"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_c"),
        count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }

  /** q17_avg_qty — correlated-aggregate filter: revenue of line items
    * whose quantity is below 20% of their part's average quantity.
    * The decorrelated per-part average is computed ONLY for the
    * Brand#1 part keys (semi-join against the broadcast filtered part
    * slice *before* aggregating), so the aggregate that is broadcast
    * back scales with the brand selectivity (~1/#brands of parts),
    * not with total partkey cardinality — broadcasting an all-parts
    * aggregate would OOM the driver at 100 TB. The semi-join also
    * shrinks the aggregation shuffle to the brand's line items.
    */
  def q17AvgQty(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    val brandParts = Tables(spark, dir, "part").filter(col("p_brand") === "Brand#1")
    // exact per-part mean over ALL line items of the brand's parts:
    // integer centi-quantity sum / count, one double division
    val avgQ = l
      .join(broadcast(brandParts.select(col("p_partkey").as("bk"))),
        col("l_partkey") === col("bk"), "left_semi")
      .groupBy(col("l_partkey").as("pk"))
      .agg((sum(cents(col("l_quantity"))) / (count(lit(1)) * lit(100.0))).as("avg_qty"))
    l.join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(avgQ), col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(coalesce(sum(cents(col("l_extendedprice"))), lit(0L)).as("sum_price_c"),
        count(lit(1)).as("n_items"))
  }

  /** q_asof — as-of join: each event matched to the user's latest
    * order at-or-before the event time. Expressed as the scalable
    * union-and-window pattern (tag both streams, sort per key by
    * (time, kind, id), carry the last non-null order forward) — one
    * shuffle on the join key, no per-row range probe, no custom
    * physical operator needed. Event times are mapped into the order
    * era deterministically so matches actually vary.
    */
  def qAsof(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").select(
      col("event_id"),
      (col("user_id") % 100 + 1).cast("long").as("key"),
      // synthetic event date inside the 1995-2001 order era
      (lit(788918400L) + (col("event_id") % 2400) * 86400L).as("t"),
      lit(1L).as("kind"), lit(null).cast("long").as("o_orderkey"),
      lit(null).cast("long").as("osec"))
    val ord = Tables(spark, dir, "orders").select(
      lit(null).cast("long").as("event_id"),
      col("o_custkey").cast("long").as("key"),
      expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("t"),
      lit(0L).as("kind"), col("o_orderkey"),
      expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("osec"))
    val w = Window.partitionBy("key")
      .orderBy(col("t"), col("kind"), coalesce(col("o_orderkey"), col("event_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(ord)
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("asof_osec", last(col("osec"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("key"),
        coalesce(col("asof_orderkey"), lit(-1L)).as("asof_orderkey"),
        coalesce(col("asof_osec"), lit(-1L)).as("asof_osec"))
      .orderBy("event_id")
  }

  /** q_asof_fwd — FORWARD as-of: each event enriched with the
    * EARLIEST order of the same key at-or-after the event time (ties
    * at the same second: smallest orderkey). The mirror direction of
    * [[qAsof]]: same union shape, the window frame flipped to
    * [current, unbounded following] with `first(ignoreNulls)`, and
    * the kind bits swapped so an order AT the event's second sorts
    * after the event and is still covered (inclusive `osec >= t`).
    * Scale: one shuffle on the key, zero joins — identical to the
    * backward form's plan.
    */
  def qAsofFwd(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").select(
      col("event_id"),
      (col("user_id") % 100 + 1).cast("long").as("key"),
      (lit(788918400L) + (col("event_id") % 2400) * 86400L).as("t"),
      lit(0L).as("kind"), lit(null).cast("long").as("o_orderkey"),
      lit(null).cast("long").as("osec"))
    val ord = Tables(spark, dir, "orders").select(
      lit(null).cast("long").as("event_id"),
      col("o_custkey").cast("long").as("key"),
      expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("t"),
      lit(1L).as("kind"), col("o_orderkey"),
      expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("osec"))
    val w = Window.partitionBy("key")
      .orderBy(col("t"), col("kind"), coalesce(col("o_orderkey"), col("event_id")))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ev.unionByName(ord)
      .withColumn("fwd_orderkey", first(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("fwd_osec", first(col("osec"), ignoreNulls = true).over(w))
      .filter(col("kind") === 0)
      .select(col("event_id"), col("key"),
        coalesce(col("fwd_orderkey"), lit(-1L)).as("fwd_orderkey"),
        coalesce(col("fwd_osec"), lit(-1L)).as("fwd_osec"))
      .orderBy("event_id")
  }

  /** Staleness bound for [[qAsofTolerance]] (30 days in seconds). */
  val AsofToleranceSec = 30L * 86400L

  /** q_asof_tolerance — as-of with a MAX-STALENESS bound (the
    * `tolerance` parameter of every production as-of API): the latest
    * prior order counts only if it is at most [[AsofToleranceSec]]
    * old, else the event reports no match. Same one-shuffle
    * union-and-window plan as [[qAsof]] — the bound is a post-window
    * filter, never a second pass.
    */
  def qAsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").select(
      col("event_id"),
      (col("user_id") % 100 + 1).cast("long").as("key"),
      (lit(788918400L) + (col("event_id") % 2400) * 86400L).as("t"),
      lit(1L).as("kind"), lit(null).cast("long").as("o_orderkey"),
      lit(null).cast("long").as("osec"))
    val ord = Tables(spark, dir, "orders").select(
      lit(null).cast("long").as("event_id"),
      col("o_custkey").cast("long").as("key"),
      expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("t"),
      lit(0L).as("kind"), col("o_orderkey"),
      expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("osec"))
    val w = Window.partitionBy("key")
      .orderBy(col("t"), col("kind"), coalesce(col("o_orderkey"), col("event_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(ord)
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("asof_osec", last(col("osec"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .withColumn("fresh",
        col("asof_osec").isNotNull &&
          col("t") - col("asof_osec") <= AsofToleranceSec)
      .select(col("event_id"), col("key"),
        when(col("fresh"), col("asof_orderkey")).otherwise(-1L).as("asof_orderkey"),
        when(col("fresh"), col("asof_osec")).otherwise(-1L).as("asof_osec"),
        when(col("fresh"), col("t") - col("asof_osec")).otherwise(-1L).as("staleness"))
      .orderBy("event_id")
  }

  /** q_asof_tolerance_native — [[qAsofTolerance]]'s semantics through
    * the custom operator's `tolerance` parameter: the staleness bound
    * is enforced INSIDE the merge loop (a stale best match emits the
    * null arm directly), so no post-window filter exists in the plan
    * at all. Shares q_asof_tolerance's oracle VERBATIM.
    */
  def qAsofToleranceNative(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.AsOfJoin
    val ev = Tables(spark, dir, "events").select(
      col("event_id"),
      (col("user_id") % 100 + 1).cast("long").as("key"),
      (lit(788918400L) + (col("event_id") % 2400) * 86400L).as("t"))
    val ord = Tables(spark, dir, "orders").select(
      col("o_custkey").cast("long").as("okey"),
      expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("osec"),
      col("o_orderkey"))
    val evPlan = ev.queryExecution.analyzed
    val ordPlan = ord.queryExecution.analyzed
    val joined = org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
      AsOfJoin(evPlan, ordPlan,
        evPlan.output(1), evPlan.output(2),
        ordPlan.output(0), ordPlan.output(1), ordPlan.output(2),
        forward = false, tolerance = AsofToleranceSec))
    joined.select(col("event_id"), col("key"),
        coalesce(col("o_orderkey"), lit(-1L)).as("asof_orderkey"),
        coalesce(col("osec"), lit(-1L)).as("asof_osec"),
        coalesce(col("t") - col("osec"), lit(-1L)).as("staleness"))
      .orderBy("event_id")
  }

  /** q_asof_nearest — NEAREST-neighbor as-of: each event matched to
    * the closest order in time, either direction, ties to the
    * backward side. Both directions come from ONE union shuffle-sort:
    * the backward last-non-null and the forward first-non-null run as
    * two frames over the same (key, t, kind, id) sort — one shuffle,
    * one sort, zero joins. At equal time the order sorts before the
    * event, so the backward arm captures it at dt = 0 and the
    * tie-to-backward rule makes the (excluded-from-forward) boundary
    * irrelevant; per-side tie rules inherit [[qAsof]]'s max-key and
    * [[qAsofFwd]]'s min-key.
    */
  def qAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").select(
      col("event_id"),
      (col("user_id") % 100 + 1).cast("long").as("key"),
      (lit(788918400L) + (col("event_id") % 2400) * 86400L).as("t"),
      lit(1L).as("kind"), lit(null).cast("long").as("o_orderkey"),
      lit(null).cast("long").as("osec"))
    val ord = Tables(spark, dir, "orders").select(
      lit(null).cast("long").as("event_id"),
      col("o_custkey").cast("long").as("key"),
      expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("t"),
      lit(0L).as("kind"), col("o_orderkey"),
      expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("osec"))
    val ob = Window.partitionBy("key")
      .orderBy(col("t"), col("kind"), coalesce(col("o_orderkey"), col("event_id")))
    val wb = ob.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = ob.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ev.unionByName(ord)
      .withColumn("bk_key", last(col("o_orderkey"), ignoreNulls = true).over(wb))
      .withColumn("bk_osec", last(col("osec"), ignoreNulls = true).over(wb))
      .withColumn("fw_key", first(col("o_orderkey"), ignoreNulls = true).over(wf))
      .withColumn("fw_osec", first(col("osec"), ignoreNulls = true).over(wf))
      .filter(col("kind") === 1)
      .withColumn("side",
        when(col("bk_osec").isNull && col("fw_osec").isNull, -1L)
          .when(col("bk_osec").isNull, 1L)
          .when(col("fw_osec").isNull, 0L)
          .when(col("fw_osec") - col("t") < col("t") - col("bk_osec"), 1L)
          .otherwise(0L))
      .select(col("event_id"), col("key"),
        when(col("side") === 1L, col("fw_key"))
          .when(col("side") === 0L, col("bk_key")).otherwise(-1L).as("near_orderkey"),
        when(col("side") === 1L, col("fw_osec"))
          .when(col("side") === 0L, col("bk_osec")).otherwise(-1L).as("near_osec"),
        col("side"))
      .orderBy("event_id")
  }

  /** q_gapfill — last-observation-carried-forward: only 'purchase'
    * events OBSERVE a value; every other event inherits the user's
    * most recent purchase value (the classic sparse-timeseries
    * forward fill, without any grid explode — output is one row per
    * user: events observed / carried / unfillable and the carried
    * total). Scale: one window shuffle on user_id, frame state is a
    * single running value.
    */
  def qGapfill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), nsToSec(col("ts")).as("sec"),
        when(col("event_type") === "purchase", cents(col("value"))).as("obs_c"))
    val w = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("fill_c", last(col("obs_c"), ignoreNulls = true).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        count(col("obs_c")).as("n_obs"),
        sum(when(col("fill_c").isNull, 1L).otherwise(0L)).as("n_unfilled"),
        coalesce(sum(when(col("obs_c").isNull, col("fill_c"))), lit(0L)).as("carried_c"))
      .orderBy("user_id")
  }

  /** q_ohlc — hourly OHLC bars per event type (the time-series
    * resample every monitoring/market pipeline runs): open/close are
    * the first/last value by (second, event_id) — picked via two
    * row_number passes over ONE (bucket, type) shuffle-sort, the
    * second window reuses the partitioning and only re-sorts —
    * high/low/volume are plain aggregates. Output is bounded by
    * hours × types, not by row count.
    */
  def qOhlc(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"), nsToSec(col("ts")).as("sec"),
        cents(col("value")).as("value_c"))
      .withColumn("bucket_h", floor(col("sec") / lit(3600.0)).cast("long"))
    val asc = Window.partitionBy(col("bucket_h"), col("event_type"))
      .orderBy(col("sec"), col("event_id"))
    val desc = Window.partitionBy(col("bucket_h"), col("event_type"))
      .orderBy(col("sec").desc, col("event_id").desc)
    e.withColumn("rn_a", row_number().over(asc))
      .withColumn("rn_d", row_number().over(desc))
      .groupBy(col("bucket_h"), col("event_type"))
      .agg(max(when(col("rn_a") === 1, col("value_c"))).as("open_c"),
        max(col("value_c")).as("high_c"),
        min(col("value_c")).as("low_c"),
        max(when(col("rn_d") === 1, col("value_c"))).as("close_c"),
        count(lit(1)).as("n"),
        sum(col("value_c")).as("vol_c"))
      .orderBy(col("bucket_h"), col("event_type"))
  }

  /** q4_priority — order-priority checking: count orders in a quarter
    * that had at least one line item shipped more than 90 days after
    * the order date (EXISTS decorrelated to a left-semi join whose
    * condition carries the non-equi `l_shipdate > o_orderdate + 90d`
    * residual alongside the order-key equi predicate — one shuffle on
    * the key, residual evaluated join-side, never a pair product).
    */
  def q4Priority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
    val l = Tables(spark, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** q6_revenue — forecasting-revenue-change: the pure scan query.
    * Every predicate is a plain column comparison, so all four reach
    * the parquet reader as PushedFilters and the aggregate sees only
    * surviving rows — at 100 TB this is a row-group-pruned scan plus
    * a two-long partial aggregate, zero shuffles of data rows.
    */
  def q6Revenue(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(coalesce(sum(cents(col("l_extendedprice") * col("l_discount"))), lit(0L)).as("revenue_c"),
        count(lit(1)).as("n_items"))
  }

  /** q8_mktshare — national market share: NATION_1's share of AMERICA-
    * region ECONOMY-part revenue per year. The share is emitted as
    * exact integer numerator/denominator plus a derived micro-ratio:
    * both engines compute `floor(1000000.0 * num / den)` from the same
    * two bigints through the same IEEE ops, so the float never crosses
    * an engine boundary unrounded. Nation/region broadcast (bounded);
    * part/customer/supplier unhinted (linear in sf — AQE decides).
    */
  def q8Mktshare(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables(spark, dir, "region").filter(col("r_name") === "AMERICA")
    val nc = Tables(spark, dir, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
    val ns = Tables(spark, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val p = Tables(spark, dir, "part").filter(col("p_type") === "ECONOMY")
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val rev = cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
    Tables(spark, dir, "lineitem")
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nc), col("c_nationkey") === col("cn_key"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(Tables(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(ns), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(when(col("supp_nation") === "NATION_1", rev).otherwise(0L)).as("nation_rev_c"),
        sum(rev).as("total_rev_c"))
      .withColumn("mkt_share_u",
        when(col("total_rev_c") > 0,
          floor(lit(1000000.0) * col("nation_rev_c") / col("total_rev_c")).cast("long"))
          .otherwise(0L))
      .orderBy(col("o_year"))
  }

  /** q9_profit — product-type profit by supplier nation and year:
    * profit = revenue − 10% of retail price × quantity, floored to
    * exact integer milli-units per row BEFORE summing (the double
    * expression is identical in both engines; the sum is then an
    * order-independent bigint). Part filter is a substring match —
    * pushed as a parquet StringContains filter.
    */
  def q9Profit(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part").filter(col("p_name").contains("widget"))
    val n = Tables(spark, dir, "nation")
    val amountM = floor((col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      col("p_retailprice") * lit(0.1) * col("l_quantity")) * 1000).cast("long")
    Tables(spark, dir, "lineitem")
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(Tables(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(Tables(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(amountM).as("profit_m"), count(lit(1)).as("n_items"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** q13_custdist — customer order-count distribution: left outer join
    * (customers with zero qualifying orders count as c_count=0), one
    * shuffle per aggregation level; the second groupBy's key domain is
    * tiny (max orders per customer), so the distribution aggregate is
    * a near-free second shuffle.
    */
  def q13Custdist(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer").select(col("c_custkey"))
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** q14_promo — promotion-revenue share for one ship month: join to
    * part (unhinted — part scales with sf), conditional aggregation,
    * ratio emitted as exact numerator/denominator plus the derived
    * micro-ratio (same IEEE chain both engines, see [[q8Mktshare]]).
    */
  def q14Promo(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
    val p = Tables(spark, dir, "part").select(col("p_partkey"), col("p_type"))
    val rev = cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(coalesce(sum(when(col("p_type") === "PROMO", rev).otherwise(0L)), lit(0L))
          .as("promo_revenue_c"),
        coalesce(sum(rev), lit(0L)).as("total_revenue_c"))
      .withColumn("promo_ratio_u",
        when(col("total_revenue_c") > 0,
          floor(lit(1000000.0) * col("promo_revenue_c") / col("total_revenue_c")).cast("long"))
          .otherwise(0L))
  }

  /** q16_suppcnt — supplier-count per part attribute (partsupp-free
    * adaptation: supplier relationships observed from lineitem).
    * count_distinct(l_suppkey) per (brand, type, size) after excluding
    * one brand and restricting sizes — the distinct aggregate expands
    * to a two-phase (partial-distinct, merge) plan, no row explosion.
    */
  def q16Suppcnt(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(1, 5, 9, 13, 17, 21, 25, 29).map(lit(_))
    val p = Tables(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#5" && col("p_size").isin(sizes: _*))
    Tables(spark, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size").cast("long").as("p_size"))
      .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** q18_large — large-volume orders: per-order quantity aggregate
    * (map-side combined on the fact's natural key), threshold filter,
    * then decorate with orders/customer. The aggregate-then-join order
    * means only qualifying orders (a tiny fraction) reach the joins,
    * and AQE sees their runtime size — at 100× the big-order slice is
    * broadcast-able even though lineitem is not.
    */
  def q18Large(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(cents(col("l_quantity"))).as("sum_qty_c"))
      .filter(col("sum_qty_c") > 21000)
    big.join(Tables(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
        col("o_orderkey"), epochUs(col("o_orderdate")).as("odate_us"),
        cents(col("o_totalprice")).as("totalprice_c"), col("sum_qty_c"))
      .orderBy(col("totalprice_c").desc, col("o_orderkey"))
      .limit(100)
  }

  /** q19_disjunct — disjunctive-predicate join: three OR'd
    * brand/size/quantity arms. Catalyst extracts the common
    * `l_partkey = p_partkey` equi key, keeps the disjunction as a
    * join residual, and pushes the arm-independent bounds
    * (`p_size >= 1`, quantity envelope) to the scans — the pattern
    * that turns a "can't-push OR" query into a pruned scan + single
    * hash join. Part is unhinted (linear in sf).
    */
  def q19Disjunct(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
    val l = Tables(spark, dir, "lineitem")
    val arm1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
      col("l_quantity") >= 1 && col("l_quantity") <= 11
    val arm2 = col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
      col("l_quantity") >= 10 && col("l_quantity") <= 20
    val arm3 = col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
      col("l_quantity") >= 20 && col("l_quantity") <= 30
    l.join(p, col("l_partkey") === col("p_partkey") && (arm1 || arm2 || arm3))
      .agg(coalesce(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))), lit(0L))
          .as("revenue_c"),
        count(lit(1)).as("n_items"))
  }

  /** q_cube — full CUBE over (region, market segment): all four
    * grouping strata (detail, per-region, per-segment, grand total)
    * from one aggregation pass — the grouping-sets engine surface
    * beside [[qRollup]]'s hierarchy. Expands to 4× rows pre-shuffle
    * but the key domain stays the bounded dimension product.
    */
  def qCube(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables(spark, dir, "region")
    val n = Tables(spark, dir, "nation")
    val c = Tables(spark, dir, "customer")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(cents(col("c_acctbal"))).as("sum_acctbal_c"),
        (grouping(col("r_name")).cast("long") * 2 +
          grouping(col("c_mktsegment")).cast("long")).as("gid"))
      .select(
        coalesce(col("r_name"), lit("(all)")).as("region"),
        coalesce(col("c_mktsegment"), lit("(all)")).as("segment"),
        col("gid"), col("n_customers"), col("sum_acctbal_c"))
      .orderBy(col("gid"), col("region"), col("segment"))
  }

  /** q15_topsupp — top supplier(s): quarterly revenue per supplier,
    * then the supplier(s) achieving the global maximum (TPC-H Q15's
    * view + scalar-max shape). The per-supplier aggregate is one
    * shuffle on l_suppkey over a pushed date-range scan; the maximum
    * is a 1-row aggregate broadcast back as an equi-condition — never
    * a global sort or a single-partition window. Supplier join is
    * unhinted (linear in sf — AQE decides).
    */
  def q15Topsupp(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("total_rev_c"))
    val mx = rev.agg(max(col("total_rev_c")).as("max_rev_c"))
    rev.join(broadcast(mx), col("total_rev_c") === col("max_rev_c"))
      .join(Tables(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_c"))
      .orderBy(col("s_suppkey"))
  }

  /** q22_global — global sales opportunity (TPC-H Q22 adapted to this
    * schema: nation keys stand in for phone country codes, and the
    * "hasn't ordered" test is "has no 1-URGENT order" since this
    * dataset gives every customer at least one order): customers in
    * seven "countries" with above-average positive balance and no
    * urgent orders. The average is never materialized as a float —
    * the predicate cross-multiplies exact integers
    * (`bal_c · n > sum_c` ⟺ `bal_c > sum_c / n`), so engines can't
    * diverge on a division ulp. Anti join on o_custkey (orders
    * pre-filtered scan-side to the urgent slice) is the one data
    * shuffle; the balance statistics are a 1-row broadcast.
    */
  def q22Global(spark: SparkSession, dir: String): DataFrame = {
    val codes = Seq(1, 3, 5, 7, 9, 11, 13).map(_.toLong)
    val c = Tables(spark, dir, "customer")
      .filter(col("c_nationkey").isin(codes: _*))
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("cntrycode"),
        cents(col("c_acctbal")).as("bal_c"))
    val stats = c.filter(col("bal_c") > 0)
      .agg(sum(col("bal_c")).as("sum_c"), count(lit(1)).as("n_pos"))
    val urgent = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(stats))
      .filter(col("bal_c") * col("n_pos") > col("sum_c"))
      .groupBy(col("cntrycode"))
      .agg(count(lit(1)).as("numcust"), sum(col("bal_c")).as("totacctbal_c"))
      .orderBy(col("cntrycode"))
  }

  /** q12_shipmode — shipping-mode priority check (TPC-H Q12 adapted:
    * this schema has no ship mode or receipt/commit dates, so
    * l_linestatus stands in for the mode and "late" means shipped
    * more than 60 days after ordering). Per status: how many late
    * lines belonged to critical-priority orders vs not — the
    * join + dual conditional count shape. The date lag is a join
    * residual on the order-key equi join (one shuffle, no pair
    * product); both counts come from one aggregation pass.
    */
  def q12Shipmode(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val l = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
    l.join(o, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .withColumn("critical",
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long"))
      .groupBy(col("l_linestatus"))
      .agg(sum(col("critical")).as("high_line_count"),
        sum(lit(1L) - col("critical")).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** q2_mincost — minimum-cost supplier per part (TPC-H Q2 adapted:
    * no partsupp table, so the part-supplier offer is derived from
    * lineitem history — a supplier's offer on a part is its minimum
    * exact-integer unit price `cents(extendedprice) div quantity`).
    * The per-part argmin uses the packed-bigint min
    * (`offer·10⁶ + suppkey` — the [[graft.ops.Similarity.pqTopk]]
    * tiebreak pattern) so one HashAggregate yields both the winning
    * offer and its supplier deterministically — no window, no
    * self-join. Decorates: supplier ⋈ nation (nation broadcast,
    * bounded; supplier unhinted — linear in sf).
    *
    * Pack bound (the [[graft.ops.Similarity]] CellPack rule): the
    * suppkey field requires s_suppkey < 10⁶ (TPC-H supplier count is
    * sf·10⁴, so this holds through sf 100); offer_c · 10⁶ stays well
    * under 2⁶³ for any realistic unit price. Deploying past sf 100
    * means widening the pack factor — the runtime guard below turns a
    * violation into an error instead of a silently corrupted argmin.
    */
  def q2Mincost(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part").filter(col("p_type") === "ECONOMY")
      .select(col("p_partkey"), col("p_name"))
    val offers = Tables(spark, dir, "lineitem")
      .filter(col("l_quantity") > 0)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      // floor BEFORE the bigint cast: Spark's double→bigint cast
      // truncates while DuckDB's rounds — floor makes both exact on
      // any non-integral quantity (the established cents() pattern)
      .agg(min(expr("cast(floor(l_extendedprice * 100) as bigint) div cast(floor(l_quantity) as bigint)"))
        .as("offer_c"))
      // pack precondition: suppkey must fit its 10⁶ field (see scaladoc)
      .withColumn("l_suppkey",
        when(col("l_suppkey") < 1000000L, col("l_suppkey"))
          .otherwise(raise_error(lit("q2_mincost: s_suppkey >= 10^6 overflows the argmin pack"))))
    val best = offers
      .groupBy(col("l_partkey"))
      .agg(min(col("offer_c") * 1000000L + col("l_suppkey")).as("packed"))
      .select(col("l_partkey"),
        expr("packed div 1000000").as("offer_c"),
        expr("packed % 1000000").as("best_suppkey"))
    best.join(p, col("l_partkey") === col("p_partkey"))
      .join(Tables(spark, dir, "supplier"), col("best_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"), col("s_name"),
        col("n_name").as("supp_nation"), col("offer_c"))
      .orderBy(col("p_partkey"))
  }

  /** q11_impstock — important stock (TPC-H Q11 adapted: no partsupp
    * table, so a part's "stock value" held by the chosen nations'
    * suppliers is its lineitem revenue through those suppliers):
    * parts whose value exceeds 1.5× the MEAN part value. Unlike
    * TPC-H's sf-dependent fixed fraction, the mean-relative threshold
    * is scale-free (non-empty at any corpus size); it is never a
    * float — the having predicate cross-multiplies exact integers
    * (`value·n·2 > 3·total`, the [[q22Global]] rule) with both global
    * scalars from ONE 1-row broadcast. The supplier slice is linear
    * in sf (4 of the nations) — unhinted, AQE decides.
    */
  def q11Impstock(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables(spark, dir, "supplier")
      .filter(col("s_nationkey").isin(3, 8, 13, 18))
      .select(col("s_suppkey"))
    val v = Tables(spark, dir, "lineitem")
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("value_c"))
    val t = v.agg(sum(col("value_c")).as("total_c"), count(lit(1)).as("n_parts"))
    v.crossJoin(broadcast(t))
      .filter(col("value_c") * col("n_parts") * 2 > col("total_c") * 3)
      .select(col("l_partkey"), col("value_c"))
      .orderBy(col("value_c").desc, col("l_partkey"))
  }

  /** q20_excess — potential part promotion (TPC-H Q20 adapted: no
    * partsupp availqty, so "excess stock" is a supplier carrying MORE
    * than 2× its mean share of a part's 1996 shipments): suppliers
    * with at least one blue part (`p_name LIKE 'blue%'` — StartsWith,
    * pushed) where `qty_ps · n_supps > 2 · part_qty`. The per-part
    * totals come from a WINDOW over the (part, supplier) aggregate —
    * one re-exchange of the small aggregated frame, never a second
    * lineitem scan or a self-join — and the qualifying supplier set
    * semi-joins supplier (Q20's nested-EXISTS chain collapsed into
    * agg → window → semi join). Integer quantities throughout.
    */
  def q20Excess(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .filter(col("p_name").startsWith("blue"))
      .select(col("p_partkey"))
    val ps = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(cents(col("l_quantity"))).as("qty_c"))
    val w = Window.partitionBy("l_partkey")
    val excess = ps
      .withColumn("part_qty_c", sum(col("qty_c")).over(w))
      .withColumn("n_supps", count(lit(1)).over(w))
      .filter(col("qty_c") * col("n_supps") > col("part_qty_c") * 2)
      .select(col("l_suppkey")).distinct()
    Tables(spark, dir, "supplier")
      .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name").as("supp_nation"))
      .orderBy(col("s_suppkey"))
  }

  /** q21_waiting — suppliers who kept orders waiting (TPC-H Q21
    * adapted: no receipt/commit dates, so "late" is the [[q12Shipmode]]
    * rule — shipped more than 60 days after ordering): for completed
    * ('F') multi-supplier orders where EXACTLY ONE supplier shipped
    * late, count such orders per offending supplier, top 20. Q21's
    * correlated EXISTS / NOT EXISTS self-join pair is collapsed into
    * one (order, supplier) aggregation + one order-partitioned window
    * (n_supps, n_late) — lineitem is scanned ONCE and never joined to
    * itself (spec-guarded), the classic decorrelation that keeps the
    * query a linear pipeline at 100 TB.
    */
  def q21Waiting(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val pair = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max((col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .cast("long")).as("late"))
    val w = Window.partitionBy("l_orderkey")
    val numwait = pair
      .withColumn("n_supps", count(lit(1)).over(w))
      .withColumn("n_late", sum(col("late")).over(w))
      .filter(col("late") === 1 && col("n_supps") > 1 && col("n_late") === 1)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
    numwait
      .join(Tables(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(20)
  }

  /** q_funnel — conversion-funnel analysis (view → click → purchase,
    * each step within 7 days of the previous): the product-analytics
    * staple. Per user: t1 = first view, t2 = first click in
    * [t1, t1+7d], t3 = first purchase in [t2, t2+7d] — each stage is
    * ONE conditional min-aggregation over the events scan joined to
    * the (small, per-user) previous-stage frame, so the whole funnel
    * is three map-side-combined aggregations + two user-keyed joins,
    * never a window over raw events. Output: one exact-integer row of
    * stage populations and summed step delays.
    */
  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), nsToSec(col("ts")).as("sec"))
    val week = 7L * 86400L
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("sec")).as("t1"))
    val t2 = e.filter(col("event_type") === "click")
      .join(t1, "user_id")
      .filter(col("sec") >= col("t1") && col("sec") <= col("t1") + week)
      .groupBy("user_id").agg(min(col("sec")).as("t2"), min(col("t1")).as("t1"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t2, "user_id")
      .filter(col("sec") >= col("t2") && col("sec") <= col("t2") + week)
      .groupBy("user_id").agg(min(col("sec")).as("t3"), min(col("t2")).as("t2b"))
    t1.agg(count(lit(1)).as("n_viewers")).crossJoin(
        t2.agg(count(lit(1)).as("n_clickers"),
          coalesce(sum(col("t2") - col("t1")), lit(0L)).as("sum_click_delay_s")))
      .crossJoin(
        t3.agg(count(lit(1)).as("n_purchasers"),
          coalesce(sum(col("t3") - col("t2b")), lit(0L)).as("sum_purchase_delay_s")))
  }

  /** q_match_recognize — MATCH_RECOGNIZE-style event-PATTERN matching
    * (the SQL:2016 row-pattern clause Flink CEP / Trino / Snowflake
    * ship and Spark lacks): per user, over the (ts, event_id)-ordered
    * event stream, find the non-overlapping greedy matches of the
    * pattern `view click* purchase` — a view, any number of
    * consecutive clicks, then a purchase, with no other event type
    * intervening (the contiguity that separates row-pattern matching
    * from q_funnel's any-gap stage funnel). Matching follows the
    * standard AFTER MATCH SKIP PAST LAST ROW + greedy-quantifier
    * semantics, which over an encoded event-type string is EXACTLY
    * leftmost non-overlapping regex matching — so the operator
    * compiles to: one shuffle to assemble each user's ordered
    * type-sequence string (deterministic struct sort), then a
    * codegen'd regexp_extract_all. Both engines run the same regex
    * class (`vc*p` is unambiguous — backtracking and leftmost-longest
    * semantics agree), so the match sets are identical by
    * construction. Time-window constraints compose upstream (bound
    * the sequence via q_sessionize-style session cuts) — noted, not
    * folded in, to keep the pattern semantics pure.
    *
    * Scale shape: one map-side-combined groupBy(user) carrying
    * single-char codes (the sequence is bytes-per-event, not rows),
    * per-user state bounded by events-per-user — the same bound any
    * MATCH_RECOGNIZE engine holds; the regex pass is per-user-string,
    * embarrassingly parallel, inside whole-stage codegen.
    */
  def qMatchRecognize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), nsToSec(col("ts")).as("sec"), col("event_id"),
        when(col("event_type") === "view", "v")
          .when(col("event_type") === "click", "c")
          .when(col("event_type") === "purchase", "p")
          .otherwise("x").as("ch"))
    val seqs = e.groupBy("user_id")
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("sec"), col("event_id"), col("ch")))),
        x => x.getField("ch"))).as("seq"))
    seqs.select(col("user_id"),
        regexp_extract_all(col("seq"), lit("vc*p"), lit(0)).as("ms"),
        length(col("seq")).cast("long").as("seq_len"))
      .filter(size(col("ms")) > 0)
      .select(col("user_id"),
        size(col("ms")).cast("long").as("n_matches"),
        aggregate(col("ms"), lit(0L), (acc, x) => acc + length(x)).as("sum_len"),
        col("seq_len"))
      .orderBy("user_id")
  }

  /** q_lateral — correlated LATERAL subquery with ORDER BY + LIMIT
    * (SQL:1999 LATERAL, the "top-n per outer row" idiom every
    * warehouse user writes): for each nation, its two highest-value
    * orders. Catalyst DECORRELATES the limited subquery into a
    * window-ranked join — the hand-written row_number() plan — rather
    * than executing the subquery per outer row; the row certifies the
    * decorrelation is semantics-preserving (per-group limit, exact
    * tie order) against an engine that runs LATERAL natively.
    *
    * Scale shape: after decorrelation there is no per-outer-row
    * execution — one join + one partitioned window, the same cost as
    * the explicit top-n plan; the 25-row nation side never drives
    * 25 query executions.
    */
  def qLateral(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "nation").createOrReplaceTempView("g_nation")
    Tables(spark, dir, "customer").createOrReplaceTempView("g_customer")
    Tables(spark, dir, "orders").createOrReplaceTempView("g_orders")
    spark.sql(
      """SELECT n.n_name, t.o_orderkey, t.pc
        |FROM g_nation n,
        |LATERAL (
        |  SELECT o.o_orderkey,
        |         CAST(FLOOR(o.o_totalprice * 100) AS BIGINT) AS pc
        |  FROM g_orders o JOIN g_customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY pc DESC, o.o_orderkey LIMIT 2
        |) t
        |ORDER BY n.n_name, t.pc DESC, t.o_orderkey""".stripMargin)
  }

  /** The q_lateral DuckDB oracle — the SAME LATERAL text (DuckDB runs
    * it natively; Spark decorrelates — two execution strategies, one
    * semantics).
    */
  val lateralOracleSql: String =
    """SELECT n.n_name, t.o_orderkey, t.pc
      |FROM nation n,
      |LATERAL (
      |  SELECT o.o_orderkey,
      |         CAST(FLOOR(o.o_totalprice * 100) AS BIGINT) AS pc
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY pc DESC, o.o_orderkey LIMIT 2
      |) t
      |ORDER BY n.n_name, t.pc DESC, t.o_orderkey""".stripMargin

  /** q_variant — the VARIANT semi-structured type (Spark 4's answer
    * to schema-on-read JSON: parse once into a typed binary encoding,
    * extract paths WITHOUT declaring a schema — where q_json_extract
    * must state `k BIGINT` up front, variant_get discovers it): the
    * events payload parsed with parse_json, the present path
    * extracted typed, a MISSING path probed with try_variant_get
    * (null, never an error — the production contract for ragged
    * payloads), aggregated per event type.
    *
    * Scale shape: the variant encoding is columnar-shredding-friendly
    * binary (one parse per row, path gets are offset lookups, not
    * re-parses — the whole point over repeated get_json_object
    * calls); everything downstream is one map-side-combined
    * aggregation.
    */
  def qVariant(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"),
        expr("try_variant_get(parse_json(props), '$.missing', 'bigint')")
          .as("miss"))
    e.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(col("k")).as("sum_k"),
        count_distinct(col("k")).as("distinct_k"),
        sum(col("miss").isNull.cast("long")).as("n_missing"))
      .orderBy("event_type")
  }

  /** The q_variant DuckDB oracle (JSON path extraction — the missing
    * path is null for every row, so n_missing = cnt).
    */
  val variantOracleSql: String =
    """SELECT event_type, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(COUNT(DISTINCT CAST(props->>'$.k' AS BIGINT)) AS BIGINT)
      |    AS distinct_k,
      |  COUNT(*) AS n_missing
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q_range_frame — a RANGE window frame over event TIME (not row
    * position): each event's trailing 7-day count/sum for its user —
    * `RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW` ordered by the
    * epoch second. ROWS frames (q_window/q_ewma) count physical rows;
    * the RANGE frame is VALUE-addressed, so same-second peers enter
    * together regardless of tie order — which is also what makes it
    * deterministic without a unique tiebreak.
    *
    * Scale shape: one user-keyed window shuffle; the frame is a
    * sliding-bound scan within each sorted partition (Spark keeps two
    * moving frame pointers — O(n) per partition, not O(n·frame)).
    */
  def qRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("sec")
      .rangeBetween(-604800L, 0L)
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), nsToSec(col("ts")).as("sec"),
        cents(col("value")).as("value_c"))
      .select(col("event_id"), col("user_id"), col("sec"),
        count(lit(1)).over(w).as("n_7d"),
        sum(col("value_c")).over(w).as("sum_7d"))
      .orderBy("event_id")
  }

  /** The q_range_frame DuckDB oracle. */
  val rangeFrameOracleSql: String =
    """WITH e AS (SELECT event_id, user_id,
      |    CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS value_c
      |  FROM events)
      |SELECT event_id, user_id, sec,
      |  COUNT(*) OVER w AS n_7d,
      |  CAST(SUM(value_c) OVER w AS BIGINT) AS sum_7d
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY sec
      |  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** q_rank_family — the ranking-function surface in one row: ntile,
    * percent_rank, and cume_dist over orders partitioned by order
    * year, ordered by exact cents with the unique key as tiebreak (a
    * non-deterministic ordering would make every downstream value
    * engine-dependent). The fractional ranks are pinned to integers
    * (⌊·10⁶⌋) — both engines compute (rank−1)/(n−1) and rank/n on the
    * same IEEE operands, so the floor agrees bit-for-bit.
    *
    * Scale shape: one window shuffle on the year partition; all three
    * functions ride the SAME sort (one exchange, one sort, three
    * O(1)-state window functions) — the plan every warehouse
    * leaderboard compiles to.
    */
  def qRankFamily(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("y").orderBy(col("pc"), col("k"))
    Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"),
        year(col("o_orderdate")).cast("long").as("y"),
        cents(col("o_totalprice")).as("pc"))
      .select(col("k"), col("y"),
        ntile(4).over(w).cast("long").as("nt"),
        floor(percent_rank().over(w) * 1000000).cast("long").as("prank_u"),
        floor(cume_dist().over(w) * 1000000).cast("long").as("cume_u"))
      .orderBy("k")
  }

  /** The q_rank_family DuckDB oracle. */
  val rankFamilyOracleSql: String =
    """WITH o AS (SELECT o_orderkey AS k,
      |    CAST(year(o_orderdate) AS BIGINT) AS y,
      |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS pc
      |  FROM orders)
      |SELECT k, y,
      |  CAST(ntile(4) OVER w AS BIGINT) AS nt,
      |  CAST(FLOOR(percent_rank() OVER w * 1000000) AS BIGINT) AS prank_u,
      |  CAST(FLOOR(cume_dist() OVER w * 1000000) AS BIGINT) AS cume_u
      |FROM o
      |WINDOW w AS (PARTITION BY y ORDER BY pc, k)
      |ORDER BY k""".stripMargin

  /** q_recursive — the RECURSIVE CTE surface (landed in Spark 4.0 —
    * the last big ANSI gap vs DuckDB/Postgres): hierarchical
    * transitive closure over a synthetic-but-deterministic customer
    * hierarchy (parent(c) = c div 7 — every chain strictly decreases
    * to a root in [1, 6] — custkey 0 exists in this corpus and would
    * be its own parent, so the recursive arm guards node > 0 — depth
    * ≤ ⌈log₇ maxkey⌉, so the recursion is provably bounded at any
    * scale). Per customer: chain length, root
    * ancestor, node count, and the exact-cents balance sum along the
    * ancestor-or-self chain. BOTH engines run their own native
    * recursive-CTE executor on the same SQL shape — Spark's
    * UnionLoop against DuckDB's recurring evaluator — pinning the
    * two independent fixpoint implementations against each other
    * (the q_setops pattern, applied to recursion).
    *
    * Scale shape: each iteration is one equi-join of the frontier
    * against the BROADCAST-able parent projection + one union; the
    * frontier shrinks geometrically (custkey div 7), and iteration
    * count is the log₇ depth bound, not data-scaled. The final
    * aggregate is one map-side-combinable groupBy over ≤ depth·n
    * rows.
    */
  def qRecursive(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "customer")
      .select(col("c_custkey"), cents(col("c_acctbal")).as("bal_c"))
      .createOrReplaceTempView("graft_rec_customer")
    spark.sql(
      """WITH RECURSIVE anc AS (
        |  SELECT c_custkey AS ck, c_custkey AS node, 0 AS depth, bal_c
        |  FROM graft_rec_customer
        |  UNION ALL
        |  SELECT a.ck, c.c_custkey, a.depth + 1, c.bal_c
        |  FROM anc a JOIN graft_rec_customer c
        |    ON c.c_custkey = (a.node div 7)
        |  WHERE a.node > 0)
        |SELECT ck AS c_custkey,
        |  CAST(max(depth) AS BIGINT) AS chain_len,
        |  CAST(min(node) AS BIGINT) AS root_key,
        |  count(*) AS n_nodes,
        |  CAST(sum(bal_c) AS BIGINT) AS chain_bal_c
        |FROM anc GROUP BY ck ORDER BY c_custkey""".stripMargin)
  }

  /** The q_recursive oracle: the same recursive shape on DuckDB's own
    * recursive-CTE executor (`//` is DuckDB integer division — floor,
    * which equals Spark's `div` truncation on these positive keys).
    */
  val recursiveOracleSql: String =
    """WITH RECURSIVE cust AS (
      |  SELECT c_custkey, CAST(FLOOR(c_acctbal*100) AS BIGINT) AS bal_c
      |  FROM customer),
      |anc AS (
      |  SELECT c_custkey AS ck, c_custkey AS node, 0 AS depth, bal_c FROM cust
      |  UNION ALL
      |  SELECT a.ck, c.c_custkey, a.depth + 1, c.bal_c
      |  FROM anc a JOIN cust c ON c.c_custkey = a.node // 7
      |  WHERE a.node > 0)
      |SELECT ck AS c_custkey,
      |  CAST(MAX(depth) AS BIGINT) AS chain_len,
      |  CAST(MIN(node) AS BIGINT) AS root_key,
      |  COUNT(*) AS n_nodes,
      |  CAST(SUM(bal_c) AS BIGINT) AS chain_bal_c
      |FROM anc GROUP BY ck ORDER BY c_custkey""".stripMargin

  /** q_setops — the multiset set-operation surface: a customer's 1996
    * order bag vs their 1997 one through INTERSECT ALL (min
    * multiplicity) and EXCEPT ALL (positive multiplicity difference),
    * re-aggregated to (op, custkey, n) so the output is deterministic.
    * Spark's `intersectAll`/`exceptAll` compile to a single-shuffle
    * two-sided count aggregate with replication — no join explosion,
    * no distinct-then-join detour — which is exactly the plan a manual
    * formulation would hand-build; the DuckDB oracle uses the SQL
    * operators directly, so the two engines' independent ALL-semantics
    * implementations are pinned against each other.
    *
    * Scale shape: one exchange on o_custkey per operator, partial
    * counts map-side; the year filters prune at the scan.
    */
  def qSetops(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    def side(y: Int) =
      o.filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
    val a = side(1996)
    val b = side(1997)
    val ia = a.intersectAll(b).groupBy("o_custkey")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
    val ea = a.exceptAll(b).groupBy("o_custkey")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
    ia.unionByName(ea).select("op", "o_custkey", "n")
      .orderBy("op", "o_custkey")
  }

  /** The q_setops DuckDB oracle. */
  val setopsOracleSql: String =
    """WITH a AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
      |b AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
      |ia AS (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b),
      |ea AS (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b)
      |SELECT 'intersect_all' AS op, o_custkey, COUNT(*) AS n
      |FROM ia GROUP BY o_custkey
      |UNION ALL
      |SELECT 'except_all' AS op, o_custkey, COUNT(*) AS n
      |FROM ea GROUP BY o_custkey
      |ORDER BY op, o_custkey""".stripMargin

  /** q_table_profile — the ANALYZE TABLE / CBO-statistics shape: one
    * row per column of the fact table with row count, null count,
    * EXACT distinct count, and min/max rendered canonically (numerics
    * via native min/max then cast — never lexicographic; the money
    * column through exact cents; the timestamp through DATE so both
    * engines print one format). This is the statistics collection
    * every cost-based optimizer runs before join reordering; the
    * exact-NDV variant is the oracle-able one (the production scale
    * path swaps in HLL, which the agg_hll_distinct row covers).
    *
    * Scale shape: one independent single-column aggregation branch
    * per profiled column, unioned. On columnar storage the six
    * one-column scans read exactly the bytes one six-column scan
    * would, each branch's single COUNT(DISTINCT) compiles to a plain
    * two-phase hash aggregate (partial distinct before the shuffle),
    * and the branches schedule in parallel. The tempting "one pass"
    * alternative — a single agg with six COUNT(DISTINCT)s — compiles
    * to an Expand that multiplies every row by the number of distinct
    * aggregates BEFORE partial aggregation (measured 3.5× slower at
    * sf0.1, and at 100 TB the 6× row fan-out hits the partial-agg CPU
    * and shuffle, while the union's extra cost is only per-branch job
    * overhead — constant, not data-scaled).
    */
  def qTableProfile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val cols: Seq[(String, Column)] = Seq(
      ("o_custkey", col("o_custkey")),
      ("o_orderdate", col("o_orderdate").cast("date")),
      ("o_orderkey", col("o_orderkey")),
      ("o_orderpriority", col("o_orderpriority")),
      ("o_orderstatus", col("o_orderstatus")),
      ("o_totalprice_c", cents(col("o_totalprice"))))
    val parts = cols.map { case (n, c) =>
      o.agg(count(lit(1)).as("n_rows"),
          sum(c.isNull.cast("long")).as("n_null"),
          count_distinct(c).as("ndv"),
          min(c).cast("string").as("min_repr"),
          max(c).cast("string").as("max_repr"))
        .select(lit(n).as("col_name"), col("n_rows"), col("n_null"),
          col("ndv"), col("min_repr"), col("max_repr"))
    }
    parts.reduce(_ union _).orderBy("col_name")
  }

  /** The q_table_profile DuckDB oracle. */
  val tableProfileOracleSql: String = {
    val cols = Seq(
      ("o_custkey", "o_custkey"),
      ("o_orderdate", "CAST(o_orderdate AS DATE)"),
      ("o_orderkey", "o_orderkey"),
      ("o_orderpriority", "o_orderpriority"),
      ("o_orderstatus", "o_orderstatus"),
      ("o_totalprice_c", "CAST(FLOOR(o_totalprice * 100) AS BIGINT)"))
    cols.map { case (n, e) =>
      s"""SELECT '$n' AS col_name, COUNT(*) AS n_rows,
         |  CAST(SUM(CASE WHEN $e IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(COUNT(DISTINCT $e) AS BIGINT) AS ndv,
         |  CAST(MIN($e) AS VARCHAR) AS min_repr,
         |  CAST(MAX($e) AS VARCHAR) AS max_repr
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** q_match_recognize_win — MATCH_RECOGNIZE with the two clauses the
    * plain row (q_match_recognize) lacks: a WINDOW bound (Flink CEP's
    * WITHIN / SQL's per-window PARTITION — here tumbling UTC days, so
    * a match can never span a window boundary) and ALTERNATION in the
    * pattern (`v(c|x)*p`: view, then any interleaving of clicks and
    * OTHER events, then purchase — the plain row's `vc*p` breaks on
    * an interloping event; the alternation is what tolerates noise
    * between anchor and completion). Matching stays leftmost
    * non-overlapping greedy; measures per (user, window): match
    * count, total matched length, window sequence length.
    *
    * Scale shape: identical to q_match_recognize with the window key
    * widening the groupBy — per-group state is one day of one user's
    * events (bounded by activity density, not history), so the
    * collect_list that is unboundable per-user on an infinite
    * timeline becomes bounded per-window; one shuffle on the
    * composite key, count/sum measures map-side combinable after the
    * regex. The alternation costs nothing: the NFA is the same size.
    */
  def qMatchRecognizeWin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), nsToSec(col("ts")).as("sec"), col("event_id"),
        when(col("event_type") === "view", "v")
          .when(col("event_type") === "click", "c")
          .when(col("event_type") === "purchase", "p")
          .otherwise("x").as("ch"))
      .withColumn("day", floor(col("sec") / lit(86400.0)).cast("long"))
    val seqs = e.groupBy("user_id", "day")
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("sec"), col("event_id"), col("ch")))),
        x => x.getField("ch"))).as("seq"))
    seqs.select(col("user_id"), col("day"),
        regexp_extract_all(col("seq"), lit("v(c|x)*p"), lit(0)).as("ms"),
        length(col("seq")).cast("long").as("seq_len"))
      .filter(size(col("ms")) > 0)
      .select(col("user_id"), col("day"),
        size(col("ms")).cast("long").as("n_matches"),
        aggregate(col("ms"), lit(0L), (acc, x) => acc + length(x)).as("sum_len"),
        col("seq_len"))
      .orderBy("user_id", "day")
  }

  /** The q_match_recognize_win DuckDB oracle (shared by the streaming
    * twin).
    */
  val matchRecognizeWinOracleSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id,
      |    CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec,
      |    CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
      |      WHEN 'purchase' THEN 'p' ELSE 'x' END AS ch
      |  FROM events),
      |ed AS (SELECT user_id, event_id, sec, ch,
      |         CAST(sec // 86400 AS BIGINT) AS day FROM e),
      |s AS (SELECT user_id, day,
      |        string_agg(ch, '' ORDER BY sec, event_id) AS seq
      |      FROM ed GROUP BY 1, 2),
      |m AS (SELECT user_id, day, regexp_extract_all(seq, 'v(c|x)*p') AS ms,
      |        CAST(length(seq) AS BIGINT) AS seq_len
      |      FROM s)
      |SELECT user_id, day, CAST(len(ms) AS BIGINT) AS n_matches,
      |  CAST(COALESCE(list_sum(list_transform(ms, x -> length(x))), 0) AS BIGINT)
      |    AS sum_len,
      |  seq_len
      |FROM m WHERE len(ms) > 0 ORDER BY user_id, day""".stripMargin

  /** The q_match_recognize DuckDB oracle. */
  val matchRecognizeOracleSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id,
      |    CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec,
      |    CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
      |      WHEN 'purchase' THEN 'p' ELSE 'x' END AS ch
      |  FROM events),
      |s AS (SELECT user_id,
      |        string_agg(ch, '' ORDER BY sec, event_id) AS seq
      |      FROM e GROUP BY 1),
      |m AS (SELECT user_id, regexp_extract_all(seq, 'vc*p') AS ms,
      |        CAST(length(seq) AS BIGINT) AS seq_len
      |      FROM s)
      |SELECT user_id, CAST(len(ms) AS BIGINT) AS n_matches,
      |  CAST(COALESCE(list_sum(list_transform(ms, x -> length(x))), 0) AS BIGINT)
      |    AS sum_len,
      |  seq_len
      |FROM m WHERE len(ms) > 0 ORDER BY user_id""".stripMargin

  /** The q_funnel DuckDB oracle — a val here (not in SparkEntry) so
    * the streaming twin's oracle map can share it without a circular
    * object initialization (SparkEntry.oracleSql already merges
    * EventStreams.oracles).
    */
  val funnelOracleSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec
      |  FROM events),
      |t1 AS (SELECT user_id, MIN(sec) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (SELECT e.user_id, MIN(e.sec) AS t2, MIN(t1.t1) AS t1
      |       FROM e JOIN t1 ON e.user_id = t1.user_id
      |       WHERE e.event_type = 'click'
      |         AND e.sec >= t1.t1 AND e.sec <= t1.t1 + 604800
      |       GROUP BY 1),
      |t3 AS (SELECT e.user_id, MIN(e.sec) AS t3, MIN(t2.t2) AS t2b
      |       FROM e JOIN t2 ON e.user_id = t2.user_id
      |       WHERE e.event_type = 'purchase'
      |         AND e.sec >= t2.t2 AND e.sec <= t2.t2 + 604800
      |       GROUP BY 1)
      |SELECT
      |  (SELECT COUNT(*) FROM t1) AS n_viewers,
      |  (SELECT COUNT(*) FROM t2) AS n_clickers,
      |  (SELECT CAST(COALESCE(SUM(t2 - t1), 0) AS BIGINT) FROM t2) AS sum_click_delay_s,
      |  (SELECT COUNT(*) FROM t3) AS n_purchasers,
      |  (SELECT CAST(COALESCE(SUM(t3 - t2b), 0) AS BIGINT) FROM t3) AS sum_purchase_delay_s""".stripMargin

  /** q_retention — daily cohort retention: users bucketed by their
    * first-activity day; for each (cohort day, day offset) count the
    * distinct users active that day — the triangle matrix every
    * growth dashboard draws. One distinct-activity aggregation + one
    * broadcast-able per-user cohort frame + one bounded
    * (cohort, offset) aggregation; the key domain is days², not
    * users.
    */
  def qRetention(spark: SparkSession, dir: String): DataFrame = {
    val acts = Tables(spark, dir, "events")
      .select(col("user_id"), floor(nsToSec(col("ts")) / lit(86400.0)).cast("long").as("day"))
      .distinct()
    val cohort = acts.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    acts.join(cohort, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_d"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "offset_d")
  }

  /** q_scd2 — slowly-changing-dimension type-2 history build: each
    * user's event-type stream collapses into validity intervals (one
    * row per RUN of equal consecutive types, with valid_from/valid_to
    * and the run length) — the temporal-table construction every
    * warehouse runs for dimension history. The island derivation is
    * the [[qSessionize]] machinery keyed on VALUE CHANGE instead of
    * time gap: lag → change flag → running island id → one grouped
    * aggregation; a single user-keyed window shuffle, output bounded
    * by the number of changes, not events.
    */
  def qScd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        nsToSec(col("ts")).as("sec"))
      .withColumn("changed",
        (lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type")).cast("long"))
      .withColumn("island", sum(col("changed")).over(
        Window.partitionBy("user_id").orderBy("sec", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "island")
      .agg(min(col("event_type")).as("event_type"),
        min(col("sec")).as("valid_from_s"), max(col("sec")).as("valid_to_s"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("island").as("version"), col("event_type"),
        col("valid_from_s"), col("valid_to_s"), col("n_events"))
      .orderBy("user_id", "version")
  }

  /** The q_skew_join plan, unexecuted: half of all events remapped
    * onto ONE synthetic hot user (`uid = -1`), then a forced
    * sort-merge join of that deliberately skewed fact side against
    * the per-uid first-event dimension. One join key owning ~50% of
    * the fact rows is exactly the degenerate shape (one boilerplate
    * family, one power-law user) that turns a single shuffle
    * partition into the straggler at 100 TB — the `merge` hints keep
    * AQE from hiding the problem behind a broadcast so the skew-split
    * machinery itself is what gets exercised.
    */
  def skewJoinPlan(spark: SparkSession, dir: String): DataFrame = {
    def uid = when(col("user_id") % 2 === 0, lit(-1L)).otherwise(col("user_id")).as("uid")
    // AQE splits a skewed reduce partition along MAPPER boundaries, so
    // the split needs the fact side's shuffle to have >1 map task. A
    // 100 TB table arrives through thousands of scan tasks; sf ≤ 0.1
    // events is ONE parquet row group = one mapper, which makes the
    // hot partition unsplittable no matter the thresholds. The
    // round-robin repartition(8) stands in for those production scan
    // tasks — without it the skew machinery is silently a no-op here.
    val e = Tables(spark, dir, "events").select(uid, cents(col("value")).as("value_c"))
      .repartition(8)
    // the dimension is materialized (localCheckpoint) before the join,
    // like a dim table read from storage. This is load-bearing for the
    // skew split, not a nicety: OptimizeSkewedJoin only matches a
    // SortMergeJoin whose Sorts sit DIRECTLY on ENSURE_REQUIREMENTS
    // shuffle stages. Left lazy, the dim's final HashAggregate lands
    // between its Sort and the groupBy shuffle (already hash(uid)-
    // partitioned, so EnsureRequirements adds no join exchange) and
    // the rule never fires — measured, not theorized.
    val d = Tables(spark, dir, "events").select(uid, col("event_id"))
      .groupBy("uid").agg(min(col("event_id")).as("first_event"))
      .localCheckpoint()
    // the post-join rollup keys on pmod(uid,16), NOT uid: grouping on
    // uid would reuse the join's hash partitioning, and AQE (with
    // forceOptimizeSkewedJoin off) declines to split a skewed join
    // whose co-partitioning a downstream stage still needs. Keying the
    // rollup differently inserts that exchange regardless, so the
    // split is free — and 16 output rows is scale-invariant.
    e.hint("merge").join(d.hint("merge"), Seq("uid"))
      .groupBy(pmod(col("uid"), lit(16L)).as("bucket"))
      .agg(count(lit(1)).as("n_events"), sum(col("value_c")).as("sum_value_c"),
        min(col("first_event")).as("min_first_event"))
      .orderBy("bucket")
  }

  /** Run `body` with AQE's skew-join thresholds lowered to bench
    * scale, restoring the session values after. At production scale
    * the DEFAULT thresholds (256 MB partition, 5× median) split a hot
    * partition on their own; sf ≤ 0.1 events are single-digit MBs, so
    * without this the skew path would be "enabled" but never actually
    * fire — which is precisely the untested claim this closes.
    */
  def withSkewConfs[A](spark: SparkSession)(body: => A): A = {
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** q_skew_join — hot-key AQE skew-split demonstration: execute
    * [[skewJoinPlan]] under [[withSkewConfs]] (eager localCheckpoint
    * so OptimizeSkewedJoin runs while the lowered thresholds are in
    * effect, then the session confs are restored for neighboring
    * queries). PlanAuditSpec asserts the executed join really is
    * `SortMergeJoin(skew=true)` reading `AQEShuffleRead skewed`
    * partitions — the claim "AQE handles our hot keys" is a tested
    * plan property, not a config line.
    */
  def qSkewJoin(spark: SparkSession, dir: String): DataFrame =
    withSkewConfs(spark)(skewJoinPlan(spark, dir).localCheckpoint())

  /** q_rollup — region → nation rollup of customer balances. */
  def qRollup(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables(spark, dir, "region")
    val n = Tables(spark, dir, "nation")
    val c = Tables(spark, dir, "customer")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), sum(cents(col("c_acctbal"))).as("sum_acctbal_c"),
        (grouping(col("r_name")).cast("long") * 2 + grouping(col("n_name")).cast("long")).as("gid"))
      .select(
        coalesce(col("r_name"), lit("(all)")).as("region"),
        coalesce(col("n_name"), lit("(all)")).as("nation"),
        col("gid"), col("n_customers"), col("sum_acctbal_c"))
      .orderBy(col("gid"), col("region"), col("nation"))
  }

  /** q_grouping_sets — the GENERAL multi-aggregation shape rollup and
    * cube are special cases of: one pass computes exactly the grouping
    * combinations a report needs — (region, segment), (region),
    * (segment) — skipping cube's (region, nation)-style cells nobody
    * asked for. At 100 TB this is one Expand + one shuffle for N
    * report tables instead of N scans; the gid disambiguates which
    * set each row belongs to (NULL-valued keys vs NULL-from-grouping
    * cannot be confused).
    */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables(spark, dir, "region")
    val n = Tables(spark, dir, "nation")
    val c = Tables(spark, dir, "customer")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .createOrReplaceTempView("graft_gs_cust")
    spark.sql(
      """SELECT COALESCE(r_name, '(all)') AS region,
        |  COALESCE(c_mktsegment, '(all)') AS segment,
        |  CAST(grouping(r_name) * 2 + grouping(c_mktsegment) AS BIGINT) AS gid,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_acctbal_c
        |FROM graft_gs_cust
        |GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name),
        |  (c_mktsegment))
        |ORDER BY gid, region, segment""".stripMargin)
  }

  /** q_range_join — interval-containment join with NO equi-key,
    * re-expressed as a bucketed equi-join.
    *
    * Each event maps to an instant `t` in the order era (the q_asof
    * mapping); each 1-URGENT order opens a 7-day interval
    * `[o_orderdate, o_orderdate + 7d)`. The join predicate is pure
    * range (`lo <= t < hi`) — exactly the shape Spark's planner can
    * only execute as BroadcastNestedLoopJoin / CartesianProduct, both
    * of which are O(n·m) scale-killers. The fix is the standard range
    * bucketing: fix a bucket width W on the shared domain, explode
    * each interval to the ⌈L/W⌉+1 ≤ 2 buckets it overlaps (W = the
    * interval length, so replication is bounded by 2), map each point
    * to its single bucket, equi-join on the bucket id and apply the
    * exact range predicate as a post-filter. A point sits in exactly
    * one bucket, so every qualifying (event, order) pair materializes
    * exactly once — no dedup pass. The join output is the TRUE match
    * set (density-bounded: intervals/day × 7), never the cartesian,
    * and the plan is a plain shuffled equi-join that scales to 100 TB
    * on both sides. Per event: containing-interval count, min/sum of
    * the matching order keys (events with no match are inner-dropped,
    * matching the oracle).
    */
  /** q_asof_native — [[qAsof]]'s EXACT semantics through the custom
    * physical operator ([[graft.plans.AsOfJoinExec]]): logical
    * [[graft.plans.AsOfJoin]] node → [[graft.plans.AsOfJoinStrategy]]
    * → one-pass sort-merge exec. Shares q_asof's oracle VERBATIM, so
    * one green row certifies two independent implementations (the
    * union-and-window composition and the native operator) against
    * the same SQL. The strategy arrives via [[graft.GraftExtensions]],
    * which every [[graft.GraftSession]] carries.
    */
  def qAsofNative(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.AsOfJoin
    val ev = Tables(spark, dir, "events").select(
      col("event_id"),
      (col("user_id") % 100 + 1).cast("long").as("key"),
      (lit(788918400L) + (col("event_id") % 2400) * 86400L).as("t"))
    val ord = Tables(spark, dir, "orders").select(
      col("o_custkey").cast("long").as("okey"),
      expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("osec"),
      col("o_orderkey"))
    val evPlan = ev.queryExecution.analyzed
    val ordPlan = ord.queryExecution.analyzed
    val joined = org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
      AsOfJoin(evPlan, ordPlan,
        evPlan.output(1), evPlan.output(2),
        ordPlan.output(0), ordPlan.output(1), ordPlan.output(2)))
    joined.select(col("event_id"), col("key"),
        coalesce(col("o_orderkey"), lit(-1L)).as("asof_orderkey"),
        coalesce(col("osec"), lit(-1L)).as("asof_osec"))
      .orderBy("event_id")
  }

  /** q_asof_fwd_native — [[qAsofFwd]]'s EXACT semantics through the
    * custom physical operator with `forward = true`: the cursor SITS
    * on the first right row at-or-after each left time instead of
    * buffering the last one before it — zero buffered rows, same
    * declared distribution/ordering (bucketed inputs stay
    * Exchange-free). Shares q_asof_fwd's oracle VERBATIM — one SQL
    * certifies both directions' independent implementations.
    */
  def qAsofFwdNative(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.AsOfJoin
    val ev = Tables(spark, dir, "events").select(
      col("event_id"),
      (col("user_id") % 100 + 1).cast("long").as("key"),
      (lit(788918400L) + (col("event_id") % 2400) * 86400L).as("t"))
    val ord = Tables(spark, dir, "orders").select(
      col("o_custkey").cast("long").as("okey"),
      expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("osec"),
      col("o_orderkey"))
    val evPlan = ev.queryExecution.analyzed
    val ordPlan = ord.queryExecution.analyzed
    val joined = org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
      AsOfJoin(evPlan, ordPlan,
        evPlan.output(1), evPlan.output(2),
        ordPlan.output(0), ordPlan.output(1), ordPlan.output(2),
        forward = true))
    joined.select(col("event_id"), col("key"),
        coalesce(col("o_orderkey"), lit(-1L)).as("fwd_orderkey"),
        coalesce(col("osec"), lit(-1L)).as("fwd_osec"))
      .orderBy("event_id")
  }

  /** q_interval_join — interval×interval OVERLAP join with no
    * equi-key, via bucketing plus the canonical-bucket emission rule.
    *
    * Both sides are interval sets (1-URGENT orders open 7-day
    * windows, 2-HIGH orders 10-day windows); the predicate is pure
    * overlap (`a.lo < b.hi AND b.lo < a.hi`). Unlike
    * [[qRangeJoin]]'s point side, BOTH sides explode to the ≤2
    * buckets they cover, so a pair overlapping across a bucket edge
    * would match in two buckets. The fix is NOT a distinct shuffle
    * over the pair output (that's a second full-width shuffle of the
    * largest frame in the query): each pair is emitted only from its
    * CANONICAL bucket — the bucket containing the overlap's start
    * `max(lo_a, lo_b)`, which by construction lies in both intervals'
    * bucket ranges, so the pair appears in that bucket and in no
    * earlier one it can claim. One equi-join + a codegen'd filter,
    * output exactly the true overlap set. W = the larger interval
    * length bounds replication at 2 rows/interval; at 100 TB both
    * sides shuffle once on the bucket id and the dedup is free.
    */
  def qIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val W = 10L * 86400L
    def side(prio: String, days: Long, k: String, lo: String, hi: String) =
      Tables(spark, dir, "orders")
        .filter(col("o_orderpriority") === prio)
        .select(col("o_orderkey").as(k),
          expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as(lo))
        .withColumn(hi, col(lo) + days * 86400L)
        .withColumn("bk", explode(expr(s"sequence($lo div $W, ($hi - 1) div $W)")))
    val a = side("1-URGENT", 7L, "a_key", "a_lo", "a_hi")
    val b = side("2-HIGH", 10L, "b_key", "b_lo", "b_hi")
    a.join(b, a("bk") === b("bk") &&
        col("a_lo") < col("b_hi") && col("b_lo") < col("a_hi") &&
        a("bk") === expr(s"greatest(a_lo, b_lo) div $W"))
      .groupBy("a_key")
      .agg(count(lit(1)).as("n_overlaps"),
        min("b_key").as("min_b_key"),
        sum(expr("least(a_hi, b_hi) - greatest(a_lo, b_lo)")).as("sum_overlap_s"))
      .orderBy("a_key")
  }

  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val W = 7L * 86400L
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"),
        (lit(788918400L) + (col("event_id") % 2400) * 86400L).as("t"))
      .withColumn("bk", expr(s"t div $W"))
    val iv = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"),
        expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("lo"))
      .withColumn("hi", col("lo") + W)
      .withColumn("bk", explode(expr(s"sequence(lo div $W, (hi - 1) div $W)")))
    ev.join(iv, ev("bk") === iv("bk") && col("t") >= col("lo") && col("t") < col("hi"))
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_orders"),
        min("o_orderkey").as("min_orderkey"),
        sum("o_orderkey").as("sum_orderkey"))
      .orderBy("event_id")
  }

  /** Files per layout / interleave bit width of [[qZorderSkip]]. */
  val ZFiles = 64L
  val ZBits = 20

  /** Spark-SQL bit-interleave of the low [[ZBits]] bits of two BIGINT
    * columns (a → odd bit positions, b → even) — the Morton/Z-value
    * as one codegen'd integer expression, no UDF.
    */
  def zInterleaveExpr(a: String, b: String): String =
    (0 until ZBits).map { i =>
      s"shiftleft(shiftright($a, $i) & 1L, ${2 * i + 1}) + " +
        s"shiftleft(shiftright($b, $i) & 1L, ${2 * i})"
    }.mkString("(", " + ", ")")

  /** The DuckDB form of [[zInterleaveExpr]] (operator syntax). */
  def zInterleaveSql(a: String, b: String): String =
    (0 until ZBits).map { i =>
      s"((($a >> $i) & 1) << ${2 * i + 1}) + ((($b >> $i) & 1) << ${2 * i})"
    }.mkString("(", " + ", ")")

  /** q_zorder_skip — WHY a 100 TB table is laid out on a space-filling
    * curve, measured: lineitem rows are assigned to [[ZFiles]] files
    * under three layouts — `linear` (ingestion order ~ l_orderkey),
    * `sorted` (one-dimensional, by l_partkey), and `zorder` (the
    * Morton interleave of (l_partkey, l_suppkey)) — and each file
    * keeps the min/max pruning stats a parquet footer would. Two
    * predicates then plan against the stats exactly as a data-skipping
    * reader does (a file is scanned iff its [min,max] envelope
    * overlaps the predicate on EVERY constrained dimension): a 2-D
    * box on (partkey, suppkey) and a 1-D band on suppkey alone. The
    * report rows carry files_scanned / rows_scanned / rows_matched
    * per (layout, predicate) — the measured claim being that the
    * one-dimensional sort wins only on its own column and collapses
    * to a full scan on the other, while the Z-order layout prunes on
    * BOTH, the reason Delta/Iceberg Z-ORDER exists.
    *
    * Scale shape: file assignment is pure scan-side integer
    * arithmetic against broadcast per-column maxima (value-range
    * buckets — the degenerate-but-deterministic cousin of the sampled
    * range partitioning a real writer uses; no global sort, no
    * single-partition window), stats are one (layout, file) groupBy
    * of 3·[[ZFiles]] cells, and the report is arithmetic over that
    * bounded frame.
    */
  def qZorderSkip(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
        col("l_suppkey").as("sk"))
    val mx = li.agg(max("ok").as("mok"), max("pk").as("mpk"),
      max("sk").as("msk"))
    // each column is min-max NORMALIZED to ZBits bits before the
    // interleave (the deterministic cousin of the per-column range
    // ranks Delta's OPTIMIZE ZORDER uses) — without it a wide column
    // monopolizes the curve's high bits and the narrow column never
    // prunes; zorder files are then the top 6 z bits: curve-aligned
    // quadrant unions with tight (pk, sk) envelopes, how a real
    // Z-ORDER writer cuts files
    val withF = li.crossJoin(broadcast(mx))
      .withColumn("pkn", expr(s"(pk * ${1L << ZBits}) div (mpk + 1L)"))
      .withColumn("skn", expr(s"(sk * ${1L << ZBits}) div (msk + 1L)"))
      .withColumn("z", expr(zInterleaveExpr("pkn", "skn")))
    val assigned = withF.select(
      explode(array(
        struct(lit("linear").as("layout"),
          expr(s"(ok * $ZFiles) div (mok + 1L)").as("fid")),
        struct(lit("sorted").as("layout"),
          expr(s"(pk * $ZFiles) div (mpk + 1L)").as("fid")),
        struct(lit("zorder").as("layout"),
          expr(s"z div ${1L << (2 * ZBits - 6)}").as("fid")))).as("a"),
      col("pk"), col("sk"), col("mpk"), col("msk"))
      .select(col("a.layout").as("layout"), col("a.fid").as("fid"),
        col("pk"), col("sk"), col("mpk"), col("msk"))
    val stats = assigned.groupBy("layout", "fid")
      .agg(min("pk").as("lo_pk"), max("pk").as("hi_pk"),
        min("sk").as("lo_sk"), max("sk").as("hi_sk"),
        count(lit(1)).as("n_rows"),
        max("mpk").as("mpk"), max("msk").as("msk"))
    // predicate bounds as exact integer fractions of the maxima
    val p = stats
      .withColumn("b_pk_lo", expr("(30L * mpk) div 100L"))
      .withColumn("b_pk_hi", expr("(35L * mpk) div 100L"))
      .withColumn("b_sk_lo", expr("(30L * msk) div 100L"))
      .withColumn("b_sk_hi", expr("(35L * msk) div 100L"))
      .withColumn("s_sk_lo", expr("(60L * msk) div 100L"))
      .withColumn("s_sk_hi", expr("(65L * msk) div 100L"))
    val perPred = p.select(col("layout"), col("fid"), col("n_rows"),
      explode(array(
        struct(lit("box2d").as("pred"),
          (col("hi_pk") >= col("b_pk_lo") && col("lo_pk") <= col("b_pk_hi") &&
            col("hi_sk") >= col("b_sk_lo") && col("lo_sk") <= col("b_sk_hi"))
            .as("scanned")),
        struct(lit("sk_band").as("pred"),
          (col("hi_sk") >= col("s_sk_lo") && col("lo_sk") <= col("s_sk_hi"))
            .as("scanned")))).as("q"))
      .select(col("layout"), col("q.pred").as("pred"), col("fid"),
        col("n_rows"), col("q.scanned").as("scanned"))
    val report = perPred.groupBy("layout", "pred")
      .agg(count(lit(1)).as("files_total"),
        sum(when(col("scanned"), 1L).otherwise(0L)).as("files_scanned"),
        sum(when(col("scanned"), col("n_rows")).otherwise(0L)).as("rows_scanned"))
    // exact matching rows per predicate — layout-independent, the
    // cross-check that no skipped file could have contained a match
    val matched = withF.select(col("pk"), col("sk"),
      expr("(30L * mpk) div 100L").as("b_pk_lo"),
      expr("(35L * mpk) div 100L").as("b_pk_hi"),
      expr("(30L * msk) div 100L").as("b_sk_lo"),
      expr("(35L * msk) div 100L").as("b_sk_hi"),
      expr("(60L * msk) div 100L").as("s_sk_lo"),
      expr("(65L * msk) div 100L").as("s_sk_hi"))
      .agg(
        sum(when(col("pk") >= col("b_pk_lo") && col("pk") <= col("b_pk_hi") &&
          col("sk") >= col("b_sk_lo") && col("sk") <= col("b_sk_hi"), 1L)
          .otherwise(0L)).as("m_box2d"),
        sum(when(col("sk") >= col("s_sk_lo") && col("sk") <= col("s_sk_hi"), 1L)
          .otherwise(0L)).as("m_sk_band"))
    report.crossJoin(broadcast(matched))
      .select(col("layout"), col("pred"), col("files_total"),
        col("files_scanned"), col("rows_scanned"),
        when(col("pred") === "box2d", col("m_box2d"))
          .otherwise(col("m_sk_band")).as("rows_matched"))
      .orderBy("layout", "pred")
  }

  /** q_dpp — DYNAMIC PARTITION PRUNING, measured: the fact side is a
    * year-partitioned parquet store; the dim side is a runtime-derived
    * year list (urgent-heavy even years) no static planner can fold
    * into a partition predicate. Catalyst's DPP rule turns the
    * broadcast dim into a `dynamicpruning#` subquery INSIDE the fact
    * scan's PartitionFilters, so at execution only the surviving
    * years' files are opened — on a 100 TB date-partitioned fact this
    * is the difference between scanning the table and scanning the
    * dim's date span, and it needs no manifest layer: it is the
    * engine-native runtime twin of [[graft.sources.StatsPrune]].
    * PlanAuditSpec pins the `dynamicpruning` expression in the scan.
    *
    * Semantics are a plain join, so the oracle is closed-form; the op
    * stages the fact store on tmpfs (the partitioned layout IS the
    * operator) and reclaims it after materializing.
    */
  def qDpp(spark: SparkSession, dir: String): DataFrame = {
    val (df, store) = dppPlan(spark, dir)
    try {
      val rows = df.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), df.schema)
    } finally Scratch.rm(store)
  }

  /** The staged plan behind [[qDpp]] — exposed so the plan audit can
    * inspect the scan before the store is reclaimed.
    */
  private[graft] def dppPlan(spark: SparkSession,
      dir: String): (DataFrame, String) = {
    val store = Scratch.path("dpp")
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("total_c"),
        year(col("o_orderdate")).cast("long").as("p"),
        col("o_orderpriority").as("prio"))
    o.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("p").parquet(store)
    val fact = spark.read.parquet(store)
    // runtime-only dim: even years with > 100 urgent orders — derived
    // from data, so no static rule can pre-prune the fact partitions
    val dim = o.filter(col("prio") === "1-URGENT" && col("p") % 2 === 0)
      .groupBy("p").agg(count(lit(1)).as("n_urgent"))
      .filter(col("n_urgent") > 20L)
    val out = fact.join(broadcast(dim), Seq("p"))
      .groupBy(col("p").cast("long").as("p"))
      .agg(count(lit(1)).as("n_rows"), sum("total_c").as("sum_total_c"),
        max("n_urgent").as("n_urgent"))
      .orderBy("p")
    (out, store)
  }

  /** Depth cap of the [[qEwma]] dyadic decay window (rows, current
    * included) — shared verbatim with the oracle and the streaming
    * twin's bounded state queue.
    */
  val EwmaDepth = 32

  /** q_ewma — exponentially-weighted moving average with spike
    * detection per user (the monitoring primitive behind every
    * anomaly-detection pipeline), in EXACT integer arithmetic: decay
    * α = 1/2 makes every weight a power of two, so the weighted sum
    * Σ vᵢ·2^i over the last [[EwmaDepth]] observations is an exact
    * BIGINT numerator (≤ 49,002 cents · 2³² · 1000 < 2⁶³) and the
    * EWMA is one integer division by the exact norm 2^len − 1 — no
    * float recursion to drift on, and the depth cap loses < 2⁻³² of
    * the mass, i.e. nothing after the milli floor. A row is a SPIKE
    * when its value exceeds ~3× the pre-observation EWMA
    * (|1000·v − ewma_prev| > 2·ewma_prev — pure integer compare).
    *
    * Scale shape: ONE window shuffle on user_id; the frame is a
    * bounded 32-row list (state O(depth) per open frame, never the
    * user's history), the fold is codegen'd HOF arithmetic, and the
    * output is one row per user. The streaming twin [[graft.streaming.EventStreams]]
    * `stream_ewma` keeps the same 32-value queue as O(1) group state
    * and certifies against this oracle verbatim.
    */
  def qEwma(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), nsToSec(col("ts")).as("sec"),
        cents(col("value")).as("v_c"))
    val ord = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
    val frame = ord.rowsBetween(-(EwmaDepth - 1), Window.currentRow)
    e.withColumn("l", collect_list(col("v_c")).over(frame))
      // fold oldest→newest: weight doubles each step, so the NEWEST
      // observation carries 2^(len-1) — the α=1/2 EWMA, exactly
      .withColumn("e_num", expr(
        """aggregate(l, named_struct('e', 0L, 'w', 1L),
          |  (a, x) -> named_struct('e', a.e + x * a.w, 'w', a.w * 2L),
          |  a -> a.e)""".stripMargin))
      .withColumn("ewma_mc", expr("(1000L * e_num) div (shiftleft(1L, size(l)) - 1L)"))
      .withColumn("prev_mc", lag(col("ewma_mc"), 1).over(ord))
      .withColumn("dev_mc",
        coalesce(abs(lit(1000L) * col("v_c") - col("prev_mc")), lit(0L)))
      .withColumn("spike",
        when(col("prev_mc").isNotNull && col("dev_mc") > lit(2L) * col("prev_mc"), 1L)
          .otherwise(0L))
      .withColumn("rn_d", row_number().over(
        Window.partitionBy("user_id").orderBy(col("sec").desc, col("event_id").desc)))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(when(col("rn_d") === 1, col("ewma_mc"))).as("ewma_last_mc"),
        max(col("dev_mc")).as("max_dev_mc"),
        sum(col("spike")).as("n_spikes"))
      .orderBy("user_id")
  }

  /** The runtime-filtered join frame of [[qRuntimeFilter]], exposed
    * for the plan audit (the injected bloom filter is a plan
    * property a results-only check cannot see).
    */
  private[graft] def runtimeFiltered(spark: SparkSession,
      dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        year(col("o_orderdate")) === 1996)
      .select("o_orderkey")
    val l = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"),
        col("l_extendedprice"), col("l_discount"))
    // no hints: with broadcast disabled (the realistic fact⋈fact
    // condition — InjectRuntimeFilter skips joins it can broadcast,
    // where the filter would be pointless) this plans as the shuffled
    // sort-merge join the bloom filter exists to prune
    l.join(o, col("l_orderkey") === col("o_orderkey"))
  }

  /** q_runtime_filter — RUNTIME BLOOM-FILTER JOIN PRUNING (Catalyst's
    * InjectRuntimeFilter), the row-level sibling of q_dpp's partition
    * pruning: the dim side's selective predicate (urgent 1996 orders,
    * ~3 % of orders) is turned at optimization time into a bloom
    * filter AGGREGATE on the dim and a `might_contain` FILTER on the
    * fact side — so the shuffled sort-merge join shuffles ~3 % of
    * lineitem instead of all of it. On a partitioned-by-something-else
    * 100 TB fact table this is the mechanism that saves the shuffle
    * when DPP cannot (the predicate column is not the partition
    * column). The injection thresholds are sized for 10 GB+ scans;
    * the op lowers the application-side threshold scoped (the
    * mechanism, not the threshold, is what's demonstrated) and
    * PlanAuditSpec pins `bloom_filter` in the executed plan.
    */
  def qRuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // at gate scale the dim would broadcast and the rule (correctly)
      // declines to inject; at 100 TB neither side broadcasts — model
      // that condition, scoped
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val out = runtimeFiltered(spark, dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_li"),
          sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100).cast("long")).as("revenue_c"))
        .orderBy("l_returnflag")
      val rows = out.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Bucket count for [[qBucketJoin]] — matched on both sides, which
    * is what makes the join co-located.
    */
  val JoinBuckets = 16

  /** Write a frame as a bucketed+sorted catalog table (external, on
    * tmpfs) with exactly one file per bucket — the layout under which
    * later joins and aggregations on the bucket key plan with no
    * Exchange and no Sort.
    */
  private[graft] def writeBucketed(df: DataFrame, key: String,
      table: String, path: String): Unit =
    df.repartition(JoinBuckets, col(key))
      .write.bucketBy(JoinBuckets, key).sortBy(key)
      .option("path", path)
      .mode(SaveMode.Overwrite).saveAsTable(table)

  /** The co-located join frame of [[qBucketJoin]], exposed for the
    * plan audit: both inputs read from bucketed tables, join on the
    * bucket key — the executed plan must contain NO Exchange and NO
    * Sort (one file per bucket makes the write-time sortBy usable).
    */
  private[graft] def bucketJoined(spark: SparkSession, tl: String,
      to: String): DataFrame =
    // merge-hinted: at 100 TB BOTH sides are fact-scaled (broadcast
    // would OOM — the deliberate-merge policy every corpus-scaled
    // build side in this engine follows), and the sort-merge form is
    // what the bucket layout makes Exchange-free
    spark.table(tl).hint("merge").join(spark.table(to).hint("merge"),
      col("l_orderkey") === col("o_orderkey"))

  /** q_bucket_join — BUCKETING FOR CO-LOCATED JOINS, the storage-side
    * answer to the fact⋈fact shuffle: lineitem and orders are both
    * written `bucketBy(16, orderkey)` + sortBy with one file per
    * bucket (one write-time shuffle each), after which the join plans
    * as a zero-Exchange, zero-Sort sort-merge over co-located buckets
    * — the layout a 100 TB warehouse pays for ONCE and amortizes over
    * every subsequent orderkey join and aggregation. The reported
    * per-priority revenue is oracle-certified (bucketing must be
    * invisible to semantics); PlanAuditSpec pins the Exchange-free,
    * Sort-free join plan — the part a results-only check cannot see.
    */
  def qBucketJoin(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("bktjoin") { root =>
      val tag = new java.io.File(root).getName.stripPrefix("graft_bktjoin_")
      val tl = s"li_bkt_$tag"; val to = s"ord_bkt_$tag"
      // the write-time sortBy is only USED by the planner when bucketed
      // scans report their ordering — off by default since SPARK-28595
      // (checking one-file-per-bucket costs a listing); this layout
      // guarantees one file per bucket, so the check is safe here
      val orderingConf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
      val prev = spark.conf.getOption(orderingConf)
      spark.conf.set(orderingConf, "true")
      try {
        writeBucketed(Tables(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
          "l_orderkey", tl, s"$root/l")
        writeBucketed(Tables(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority")),
          "o_orderkey", to, s"$root/o")
        val out = bucketJoined(spark, tl, to)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_li"),
            sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * 100).cast("long")).as("revenue_c"))
          .orderBy("o_orderpriority")
        val rows = out.collect().toIndexedSeq
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
      } finally {
        prev match {
          case Some(v) => spark.conf.set(orderingConf, v)
          case None => spark.conf.unset(orderingConf)
        }
        spark.sql(s"DROP TABLE IF EXISTS $tl")
        spark.sql(s"DROP TABLE IF EXISTS $to")
      }
    }
  }
}
