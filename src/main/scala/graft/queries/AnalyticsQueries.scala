package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.Tables
import graft.operators.{AsofJoin, Sessionize}
import graft.plans.{HllAgg, SortedPairs, SortedPairsPacked}

/** Window functions, ordered analytics and multi-dimensional
  * aggregation — the generalization of the reference's single window
  * function (SURVEY §2.6 W1) into the full analytic surface:
  * running aggregates, rank/lag, sessionization, as-of join, ROLLUP,
  * pivot, top-k and distinct aggregates.
  */
object AnalyticsQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Running per-supplier quantity: one shuffle on `l_suppkey`, one
    * sort; the cumulative frame is computed streamingly per partition.
    * The sort keys make a total order so output is deterministic.
    */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_quantity"))
      .withColumn("running_qty", sum(col("l_quantity")).over(w))
      .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
  }

  /** Rank + lag over each customer's order history: order sequence
    * number and days since the previous order.
    */
  def windowRankLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("order_seq", row_number().over(w).cast("long"))
      .withColumn("gap_days",
        datediff(to_date(col("o_orderdate")), to_date(lag(col("o_orderdate"), 1).over(w)))
          .cast("long"))
      .select("o_custkey", "o_orderkey", "order_seq", "gap_days")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Gap-based sessionization of the event stream (30-minute gap),
    * aggregated to one row per session.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    Sessionize(ev, key = "user_id", tsCol = "ts", gapSeconds = 1800,
        tieBreak = Seq("event_id"))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event_id"),
        max(col("event_id")).as("last_event_id"),
        round(sum(col("value")), 2).as("session_value"))
      .orderBy("user_id", "session_seq")
  }

  /** The same 30-minute-gap sessions through Spark's NATIVE
    * `session_window` aggregate — one partial-aggregating session
    * merge instead of the two-window islands derivation the custom
    * [[graft.operators.Sessionize]] runs; at scale the native form
    * merges sessions map-side before the (user) shuffle. Break
    * semantics verified equal to the custom operator INCLUDING the
    * boundary: Spark merges a gap of exactly the timeout into one
    * session (strictly-greater break — `SessionWindowSpec` pins it),
    * so the oracle replays the same `>` break as `sessionize`.
    */
  def sessionizeNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event_id"),
        max(col("event_id")).as("last_event_id"),
        round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("first_event_id"), col("last_event_id"),
        col("session_value"))
      .orderBy("user_id", "session_start")
  }

  /** As-of join: each purchase event matched to the user's most recent
    * signup at-or-before it (SURVEY §2.7 — as-of "latest state"
    * semantics, here as a first-class operator).
    */
  def asofSignup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val signups = ev.filter(col("event_type") === "signup")
      .select("event_id", "user_id", "ts")
    AsofJoin.lastValue(purchases, signups, keys = Seq("user_id"),
        leftTs = "ts", rightTs = "ts", rightValue = "event_id",
        tieBreak = "event_id", asofCol = "last_signup_id")
      .select("event_id", "user_id", "last_signup_id")
      .orderBy("event_id")
  }

  /** The same as-of semantics through the engine's native custom
    * operator (`AsofJoinNode` → `AsofJoinExec`, SURVEY §7.3 tier c):
    * two co-partitioned sorted sides merged streamingly per partition,
    * no union materialization, no window machinery. Gate: identical
    * result (and oracle) as the composed `asof_signup`.
    */
  def asofNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val signups = ev.filter(col("event_type") === "signup")
      .select("event_id", "user_id", "ts")
    AsofJoin.native(purchases, signups, keys = Seq("user_id"),
        leftTs = "ts", rightTs = "ts", rightValue = "event_id",
        rightTieBreak = Seq("event_id"), asofCol = "last_signup_id")
      .select("event_id", "user_id", "last_signup_id")
      .orderBy("event_id")
  }

  /** Range join (binned, not nested-loop): clicks within ±5 minutes of
    * each error event, per user, zero-match errors kept.
    */
  def rangeJoinEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val pairs = graft.operators.RangeJoin.within(errors, clicks,
      keys = Seq("user_id"), leftTs = "ts", rightTs = "click_ts",
      toleranceSeconds = 300)
    val counts = pairs.groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_nearby_clicks"))
    errors.join(counts, Seq("event_id"), "left_outer")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n_nearby_clicks"), lit(0L)).as("n_nearby_clicks"))
      .orderBy("event_id")
  }

  /** ROLLUP over the region/nation hierarchy (SURVEY §2.5 note:
    * grouping sets absent from the reference, free in Spark).
    * Dimensions broadcast; single shuffle for the rollup agg.
    */
  def rollupAcctbal(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_acctbal", "c_nationkey")
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    cust
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("acctbal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** Pivot: per-user event-type counts as columns. The type domain is
    * declared explicitly so the plan is a single pass (no distinct-scan
    * to discover pivot values).
    */
  def pivotEventTypes(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    types.foldLeft(pivoted)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
      .orderBy("user_id")
  }

  /** Global top-k with a total order (SURVEY §2.8: absent from the
    * reference; Spark's `TakeOrderedAndProject` makes it a per-partition
    * heap + driver merge of k rows — no global sort).
    */
  def topkOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  /** Approximate distinct counts via the portable deterministic HLL
    * ([[graft.ext.Hll]]) — at 100 TB the exact two-phase distinct agg
    * shuffles every distinct value; the sketch shuffles a fixed-size
    * buffer per group. Portable rather than Spark's engine-private
    * `approx_count_distinct`, so the estimate itself is oracle-checkable.
    * Both sketches share ONE scan: the two key columns are exploded to
    * (column-id, value) rows, sketched together, then pivoted back.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val exploded = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        posexplode(array(col("l_partkey").cast("string"),
          col("l_orderkey").cast("string"))).as(Seq("_ci", "_v")))
    graft.ext.Hll.approxDistinct(exploded, Seq("l_returnflag", "_ci"), "_v", "est")
      .groupBy(col("l_returnflag"))
      .agg(max(when(col("_ci") === 0, col("est"))).as("approx_parts"),
        max(when(col("_ci") === 1, col("est"))).as("approx_orders"))
      .orderBy("l_returnflag")
  }

  /** The same two distinct counts through the custom
    * `TypedImperativeAggregate` ([[graft.plans.HllAgg]], `graft_hll`):
    * ONE hash aggregation, the exchange carrying a 256-byte register
    * buffer per group per partition instead of register ROWS — the
    * single-shuffle sketch shape. Bit-compatible with the declarative
    * [[graft.ext.Hll]], so the `approx_distinct` oracle gates both
    * (identical estimates, different physical plan).
    */
  def approxHllAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        column(HllAgg(expression(col("l_partkey").cast("string")))
          .toAggregateExpression()).as("approx_parts"),
        column(HllAgg(expression(col("l_orderkey").cast("string")))
          .toAggregateExpression()).as("approx_orders"))
      .orderBy("l_returnflag")

  /** Per-user event frequency estimated from a Count-Min sketch
    * ([[graft.ext.CountMin]]) next to the exact count — the estimate is
    * itself deterministic and oracle-checked, and the exact column
    * makes the CM overestimate bound visible in the output.
    */
  def sketchCountMin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val sk = graft.ext.CountMin.sketch(ev, "user_id")
    // the probe set IS the exact table's key column (r21): the old
    // shape scanned the corpus a third time for a distinct — the exact
    // per-user counts (needed for the verification join anyway, and
    // user-grained like the query's own OUTPUT, so materializing it
    // stays within the result's size budget) now serve as both sides.
    // 3 corpus scans + a distinct shuffle → 2 corpus scans; the
    // estimate↔exact join is between two frames derived from one
    // checkpointed aggregation.
    // (cluster deployment: lineage-truncating barrier —
    // "Materialization barriers" in COVERAGE.md at ff8d9ba)
    val exact = ev.filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
      .localCheckpoint()
    graft.ext.CountMin.estimate(sk, exact.select(col("user_id")),
        "user_id", "cm_estimate")
      .join(exact, Seq("user_id"))
      .orderBy("user_id")
  }

  /** Exact distinct aggregates (expands to two-phase agg in Spark). */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** Grouped collection aggregation: per user the sorted distinct
    * event-type set (joined to a string for cross-engine determinism)
    * and the first/last event ids.
    */
  def arrayAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        // sort_array, not array_sort: same order (collect_set never
        // emits nulls, so nulls-first vs nulls-last is moot) without
        // ArraySort's per-comparison lambda (the r19 sweep's lesson)
        concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"),
        min(col("event_id")).as("first_id"),
        max(col("event_id")).as("last_id"),
        count(lit(1)).as("n"))
      .orderBy("user_id")

  /** CUBE over (region, market segment): all 4 grouping combinations
    * in one pass (complements the ROLLUP query).
    */
  def cubeRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment", "c_nationkey")
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    cust
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("r_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first)
  }

  /** Deterministic stratified hash sample of the event stream: 100% of
    * purchases, ~10% of clicks, ~50% of everything else — membership a
    * pure function of event_id ([[graft.ext.Sampling]]), so the sample
    * is reproducible across runs/engines/partitionings and nested
    * across rates. Pure map-side filter, zero shuffle.
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val rates = when(col("event_type") === "purchase", lit("ff"))
      .when(col("event_type") === "click", lit("19"))
      .otherwise(lit("7f"))
    graft.ext.Sampling.sample(Tables.events(spark, dir), col("event_id"), rates)
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** Time-series resampling: per-user daily spine (min..max day, gaps
    * included) with event counts gap-filled to 0 and the day value
    * forward-filled from the last observed day — the
    * regularize-then-interpolate step of metric pipelines. The spine
    * is generated distributively (per-key `sequence` explode, no
    * driver-side calendar), and the forward fill is a running
    * `last(ignoreNulls)` frame — one pass per key, no self-join.
    */
  def resampleDaily(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("user_id"),
        to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(round(sum(col("value")), 4).as("day_value"),
        count(lit(1)).as("n_events"))
    val spine = daily.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("day_value"), ignoreNulls = true).over(w).as("filled_value"))
      .orderBy("user_id", "day")
  }

  /** Event-time rolling window: per-user 7-day trailing average and
    * count via a RANGE frame over epoch-microseconds — the
    * time-anchored (not row-anchored) rolling metric. One shuffle on
    * the key, one sort, then a streaming frame scan per partition.
    * The average aggregates cent-precision integers (exact, summation-
    * order-independent) and is emitted in integer micro-units
    * (truncating division; values are positive) — fully deterministic,
    * no float rounding anywhere: sliding-frame evaluation strategies
    * and round-ties can't drift.
    */
  def windowRolling7d(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-604800000000L, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("_cents"), col("ts"))
      .withColumn("n_7d", count(lit(1)).over(w))
      .withColumn("_sum_c", sum(col("_cents")).over(w))
      .withColumn("avg_7d_micro", expr("(_sum_c * 10000) div n_7d"))
      .select("event_id", "user_id", "avg_7d_micro", "n_7d")
      .orderBy("event_id")
  }

  /** Distribution window functions (ntile / percent_rank / cume_dist)
    * per market segment: quartile bucketing and empirical CDF position
    * of each customer's balance. Partitioned windows (no global
    * single-partition sort); the rank ratios are exact small-integer
    * divisions, identical across engines.
    */
  def windowDistribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .orderBy("c_custkey")
  }

  /** Wide→long unpivot of a per-flag metrics table (the inverse of
    * `pivot_event_types`). Metrics are exact integer cents so the
    * unpivoted value column is engine-portable BIGINT.
    */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
        count(lit(1)).as("n_rows"))
    agg.unpivot(
        Array(col("l_returnflag")),
        Array(col("qty_cents"), col("price_cents"), col("n_rows")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")
  }

  /** Statistical aggregates (correlation, sample stddev/covariance)
    * computed from EXACT integer-cent power sums — the sums shuffle as
    * decimal partials (order-independent, no FP drift), and the only
    * floating-point work is the final closed-form formula on exact
    * inputs, identical on any engine. This is how second-moment stats
    * stay deterministic on a 1000-executor cluster where summation
    * order is nondeterministic.
    */
  def statsNumeric(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val x = round(col("l_quantity") * 100).cast(dec)       // qty cents
    val y = round(col("l_extendedprice") * 100).cast(dec)  // price cents
    val agg = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), x.as("_x"), y.as("_y"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast(dec).as("_n"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_y") * col("_y")).as("_syy"),
        sum(col("_x") * col("_y")).as("_sxy"))
    val n = col("_n"); val num = (n * col("_sxy") - col("_sx") * col("_sy"))
    val dx = (n * col("_sxx") - col("_sx") * col("_sx"))
    val dy = (n * col("_syy") - col("_sy") * col("_sy"))
    agg.select(
        col("l_returnflag"),
        col("_n").cast("long").as("n_rows"),
        round(num.cast("double") /
          (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))), 6)
          .as("corr_qty_price"),
        round(sqrt(dx.cast("double") /
          (n * (n - lit(1))).cast("double")) / 100.0, 6).as("stddev_qty"),
        round(num.cast("double") / (n * (n - lit(1))).cast("double") / 10000.0, 6)
          .as("covar_qty_price"))
      .orderBy("l_returnflag")
  }

  /** The ONE SCD2 interval build (lag change-detect + lead interval
    * end over one (key, ts) sort) — shared by [[scd2History]] and
    * [[temporalJoin]] so the change-detection semantics cannot drift
    * between the history query and the dimension it joins.
    * Output: (user_id, event_id, state, valid_from, valid_to).
    */
  private def scd2Intervals(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("_prev", lag(col("event_type"), 1).over(w))
      .filter(col("_prev").isNull || col("_prev") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"),
        col("event_type").as("state"), col("ts").as("valid_from"),
        col("valid_to"))
  }

  /** SCD Type-2 dimension history: collapse each user's event stream
    * to state-change rows and emit validity intervals
    * (valid_from/valid_to, open-ended current row) — the
    * slowly-changing-dimension build every warehouse pipeline runs.
    * Two window passes over ONE (key, ts) sort/shuffle (lag to detect
    * changes, lead for the interval end).
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame =
    scd2Intervals(Tables.events(spark, dir))
      .withColumn("is_current",
        when(col("valid_to").isNull, lit(1L)).otherwise(lit(0L)))
      .orderBy("user_id", "valid_from", "event_id")

  /** Point-in-time (temporal) join: each purchase is enriched with the
    * SCD2 state the user was in WHEN the purchase happened — the
    * warehouse op behind "price as of order date" / "segment as of
    * event". The dimension is the [[scd2History]] interval form built
    * from non-purchase events; probes join on the equi key (user) and
    * the interval containment `valid_from <= ts < valid_to` resolves
    * within each user's handful of intervals — an equi-shuffle plus a
    * per-key filter, never an unkeyed interval cross join. Intervals
    * partition each user's timeline, so exactly one version matches
    * per probe (the as-of guarantee, here with explicit validity).
    */
  def temporalJoin(spark: SparkSession, dir: String): DataFrame = {
    val scd = scd2Intervals(Tables.events(spark, dir)
        .filter(col("event_type") =!= "purchase"))
      .select(col("user_id").as("d_user"), col("state"),
        col("valid_from"), col("valid_to"))
    val probes = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        round(col("value") * 100).cast("long").as("cents"))
    probes.join(scd, col("user_id") === col("d_user") &&
        col("p_ts") >= col("valid_from") &&
        (col("valid_to").isNull || col("p_ts") < col("valid_to")))
      .groupBy(col("state"))
      .agg(count(lit(1)).as("n_purchases"),
        count_distinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("purchase_cents"))
      .orderBy("state")
  }

  /** Sketch set algebra: the HLL register tables of two user sets
    * (clickers, viewers) merged by per-bucket `max` give the UNION
    * sketch — the mergeability that lets 100 TB distinct counts
    * combine across partitions, days and tables without rescanning —
    * and inclusion–exclusion on the three estimates yields the
    * intersection. Registers are built once (one shuffle of ≤ m rows
    * per set), estimates are exact-integer folds ([[graft.ext.Hll]]),
    * and the oracle replays every register and the IEEE estimate chain
    * bit-for-bit; exact distinct counts ride along to show the error.
    */
  def sketchHllSetops(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type").as("s"), col("user_id"))
    // registers are ≤ 2×256 rows — recomputing them for the union
    // branch is cheaper than leaking a cache entry into the session
    val regs = graft.ext.Hll.registers(ev, Seq("s"), "user_id")
    val perSet = graft.ext.Hll.estimate(regs, Seq("s"), "est")
    val union = graft.ext.Hll.estimate(
      regs.groupBy(col("_b")).agg(max(col("_m")).as("_m"))
        .withColumn("u", lit(1)),
      Seq("u"), "est_union").drop("u")
    // one user-grain exchange with membership flags instead of three
    // count_distincts (which Expand-replicate every event row 3× + 1
    // before partial aggregation) — distinct-ness over the SAME column
    // folds from the flags (30× A/B 1.67 → 1.25 s,
    // graft.Bench `sketch_hll_setops`)
    val perUser = ev.groupBy(col("user_id"))
      .agg(max(when(col("s") === "click", 1).otherwise(0)).as("_c"),
        max(when(col("s") === "view", 1).otherwise(0)).as("_v"))
    val nn = col("user_id").isNotNull
    val exact = perUser.agg(
      count(when(col("_c") === 1 && nn, 1)).as("exact_click"),
      count(when(col("_v") === 1 && nn, 1)).as("exact_view"),
      count(when(nn, 1)).as("exact_union"))
    val a = perSet.filter(col("s") === "click")
      .select(col("est").as("est_click"))
    val b = perSet.filter(col("s") === "view")
      .select(col("est").as("est_view"))
    a.crossJoin(b).crossJoin(union).crossJoin(exact)
      .select(col("est_click"), col("est_view"), col("est_union"),
        (col("est_click") + col("est_view") - col("est_union"))
          .as("est_intersect"),
        col("exact_click"), col("exact_view"), col("exact_union"))
  }

  /** Equi-depth (quantile) binning: each group's values split into 4
    * equal-population bins via `percent_rank` — the feature-bucketing
    * / histogram-equalization op. One (group, value) sort/shuffle; the
    * bin id is exact rational arithmetic ((rank−1)/(n−1), identical
    * IEEE ops both engines), outputs are count + min/max + exact
    * integer-cent mass per bin (no order-dependent float sums).
    */
  def binningEquidepth(spark: SparkSession, dir: String): DataFrame = {
    // r18 shape: no row ever shuffles. The r16 sharded-rank form
    // still exchanged EVERY (group, value, cents) row to rank it; but
    // the bin of a row is a pure function of its value — rank() ties
    // collapse, so bin boundaries are three per-group ORDER
    // STATISTICS, selected exactly by Quantiles.groupedOrderStats
    // (the percentiles machinery: two light two-column passes — the
    // former (min,max) range pass fell to IEEE-754 bit slicing, r18).
    // Bin assignment is then a map-side comparison against the
    // broadcast thresholds and the only exchange left carries
    // (group, bin)-grain partial aggregates — 20 rows. Measured 30×
    // alternating A/B (graft.Bench `binning_equidepth`, round 18). The oracle SQL keeps the
    // window form.
    equidepthBins(Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        round(col("value") * 100).cast("long").as("cents")))
  }

  /** [[binningEquidepth]]'s selection core over any (event_type,
    * value, cents) frame. Replicates the percent_rank window's exact
    * semantics, ties and nulls included, without ranking any row:
    * with n = |group| (nulls included), a non-null value v has
    * rank−1 = nNull + c(v) where c(v) = #{non-null v' < v} (nulls
    * sort first and all tie at rank 1; value ties collapse to the
    * first rank), so bin(v) = Σ_{k=1..3} [c(v) ≥ m_k] with
    * m_k = ceil(k·(n−1)/4) − nNull, and c(v) ≥ m ⟺ v > s[m−1]
    * (s = the group's non-null ascending values) — three order
    * statistics per group. A negative-position threshold (many
    * nulls) is crossed by every non-null value and folds into the
    * group's base bin; null values and single-row/all-null groups
    * bin 0, exactly like percent_rank. Thresholds reach tasks as a
    * broadcast row per group, null-safe on the group key, so NULL
    * and separator-bearing group values bin exactly. The integer
    * threshold arithmetic equals the window form's IEEE
    * floor(percent_rank·4) for any group under ~10¹⁶ rows (the
    * division is correctly rounded and the k/4 boundaries are
    * representable).
    */
  private[graft] def equidepthBins(evIn: DataFrame): DataFrame = {
    val spark = evIn.sparkSession
    import spark.implicits._
    def binPositions(nTotal: Long, nVals: Long): Seq[Long] =
      if (nTotal <= 1 || nVals == 0) Nil
      else {
        val nNull = nTotal - nVals
        (1L to 3L).map(k => (k * (nTotal - 1) + 3) / 4 - nNull - 1)
          .filter(_ >= 0)
      }
    val stats = graft.ext.Quantiles.groupedOrderStats(evIn,
      "event_type", "value", binPositions)
    val bRows: Seq[(String, Int, Option[Double], Option[Double],
        Option[Double])] =
      stats.map { case (g, nTotal, nVals, at) =>
        if (nTotal <= 1 || nVals == 0) (g, 0, None, None, None)
        else {
          val nNull = nTotal - nVals
          val ps = (1L to 3L)
            .map(k => (k * (nTotal - 1) + 3) / 4 - nNull - 1)
          val base = ps.count(_ < 0)
          val ts = ps.filter(_ >= 0).map(p => Some(at(p)))
            .padTo(3, None: Option[Double])
          (g, base, ts(0), ts(1), ts(2))
        }
      }
    val bounds = broadcast(bRows.toDF("_bg", "_base", "_t1", "_t2", "_t3"))
    evIn.join(bounds, col("event_type").cast("string") <=> col("_bg"))
      .withColumn("bin", when(col("value").isNull, lit(0L)).otherwise(
        (col("_base") +
          when(col("_t1").isNotNull && col("value") > col("_t1"), 1)
            .otherwise(0) +
          when(col("_t2").isNotNull && col("value") > col("_t2"), 1)
            .otherwise(0) +
          when(col("_t3").isNotNull && col("value") > col("_t3"), 1)
            .otherwise(0)).cast("long")))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("value")).as("lo"), max(col("value")).as("hi"),
        sum(col("cents")).as("bin_cents"))
      .orderBy("event_type", "bin")
  }

  /** Deterministic time-series decomposition (trend / weekly seasonal
    * / irregular) of the daily revenue series: trend is a centered
    * 7-day moving TOTAL kept as an exact (sum, count) pair and divided
    * integrally (positives only — no float summation anywhere),
    * residuals stay exact integer cents, and the per-weekday seasonal
    * index is one exact sum + a single IEEE floor-division. The series
    * windows run over DAY-level aggregates — calendar-sized regardless
    * of fact volume, so the unpartitioned time window costs nothing at
    * 100 TB (the heavy lifting happened in the keyed daily rollup).
    */
  def timeseriesDecompose(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("_s7", sum(col("cents")).over(w))
      .withColumn("_n7", count(lit(1)).over(w))
      .withColumn("trend_cents", expr("_s7 div _n7"))
      .withColumn("resid_cents", col("cents") - col("trend_cents"))
      .withColumn("wd", weekday(col("day")).cast("long"))
    val seasonal = trended.groupBy(col("wd"))
      .agg(sum(col("resid_cents")).as("_sr"), count(lit(1)).as("_cr"))
      .select(col("wd"),
        floor(col("_sr").cast("double") / col("_cr")).cast("long")
          .as("seasonal_cents"))
    trended.join(broadcast(seasonal), "wd")
      .select(col("day"), col("cents"), col("trend_cents"),
        col("resid_cents"), col("seasonal_cents"),
        (col("resid_cents") - col("seasonal_cents")).as("irregular_cents"))
      .orderBy("day")
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES),
    * derandomized: the per-row uniform comes from a cryptographic hash
    * of the row id instead of an RNG, so the "random" sample is exactly
    * reproducible on any engine and any partitioning — the property a
    * distributed training-data sampler actually needs (repeatable
    * splits, no seed-per-partition coupling). Rank key ln(u)/w is
    * order-isomorphic to the classical u^(1/w); top-10 per stratum via
    * one window over one (stratum, key) shuffle.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(concat(lit("s|"), col("event_id"))), 1, 15),
      16, 10).cast("double")
    val u = (h + 1.0) / lit(1.152921504606847e18) // (0, 1], 2^60 scale
    val w = col("value") + lit(1.0)
    val keyed = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("weight_cents"),
        (log(u) / w).as("_key"))
    val win = Window.partitionBy(col("event_type"))
      .orderBy(col("_key").desc, col("event_id"))
    keyed.withColumn("rn", row_number().over(win).cast("long"))
      .filter(col("rn") <= 10)
      .select(col("event_type"), col("rn"), col("event_id"),
        col("weight_cents"))
      .orderBy("event_type", "rn")
  }

  /** Dense global id assignment WITHOUT a global sort: ids ordered by
    * (day, event_id) are built from per-day row_numbers plus
    * broadcast cumulative day offsets — the two-phase pattern that
    * replaces the single-partition `row_number() OVER (ORDER BY ...)`
    * (a non-starter at 100 TB: all rows through one task). The
    * ordering key's leading component becomes the partition key, the
    * offset table is calendar-sized, and the result is bit-identical
    * to the serial numbering (the oracle IS the global window).
    */
  def assignDenseIds(spark: SparkSession, dir: String): DataFrame = {
    // rows without an event time have no position in a time-ordered
    // numbering: excluded on BOTH engines (their NULL sort position
    // differs cross-engine anyway)
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .select(to_date(col("ts")).as("day"), col("event_id"))
    val perDay = Window.partitionBy(col("day")).orderBy(col("event_id"))
    val numbered = ev.withColumn("_rn", row_number().over(perDay).cast("long"))
    // counts from a plain hash aggregate — max(_rn) would re-run the
    // per-day sort/window in the offsets branch
    val offsets = ev.groupBy(col("day")).agg(count(lit(1)).as("_n"))
      .withColumn("_offset",
        coalesce(sum(col("_n")).over(
          Window.orderBy(col("day")).rowsBetween(
            Window.unboundedPreceding, -1)), lit(0L)))
      .select("day", "_offset")
    numbered.join(broadcast(offsets), "day")
      .select(col("event_id"), (col("_offset") + col("_rn")).as("global_id"))
      .orderBy("global_id")
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic, exact: D =
    * max |F_a − F_b| is computed as max |cum_a·n_b − cum_b·n_a| over
    * the merged value sequence — pure BIGINT until one final division,
    * so the supremum is immune to float summation order (the
    * complement of [[graft.queries.OpsQueries.driftPsi]]'s binned
    * view: KS needs no binning and catches shape shifts PSI's 10 bins
    * smear). One (type, value) sort/shuffle for the running counts.
    */
  def driftKs(spark: SparkSession, dir: String): DataFrame = {
    // pre-aggregate per DISTINCT value: the running sums then walk a
    // tie-free total order, so the supremum is evaluated exactly at
    // the CDF step points (and never depends on row order inside a tie)
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        (to_date(col("ts")) <= "2024-01-15").as("is_a"))
      .groupBy(col("event_type"), col("value"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("b"))
    val win = Window.partitionBy(col("event_type"))
      .orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val counted = ev
      .withColumn("ca", sum(col("a")).over(win))
      .withColumn("cb", sum(col("b")).over(win))
    // totals come from the pre-window aggregate — deriving them as
    // max(cum) would execute the sort/window subtree a second time
    val sizes = ev.groupBy(col("event_type"))
      .agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    counted.join(broadcast(sizes), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        max(abs(col("ca") * col("nb") - col("cb") * col("na"))).as("_num"))
      .select(col("event_type"), col("na"), col("nb"),
        // an empty slice has no CDF: NULL, matching SQL's x/0 -> NULL
        when(col("na") > 0 && col("nb") > 0,
          round(col("_num").cast("double") /
            (col("na") * col("nb")).cast("double"), 6)).as("ks_d"))
      .orderBy("event_type")
  }

  /** Ordinary-least-squares trend of daily revenue: slope, intercept
    * and r² from EXACT integer power sums over (day index, cents) —
    * one aggregation with map-side partials, floats only in the final
    * closed form (the [[abWelch]] determinism discipline applied to
    * regression). The fit is over day-level aggregates: calendar-sized
    * input no matter the fact volume.
    */
  def regressionTrend(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    val indexed = daily
      .withColumn("x", (datediff(col("day"), to_date(lit("2024-01-01"))) + 1)
        .cast(dec))
      .withColumn("y", col("cents").cast(dec))
    val s = indexed.agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").cast("double").as("n"),
        col("sx").cast("double").as("sx"), col("sy").cast("double").as("sy"),
        col("sxx").cast("double").as("sxx"),
        col("sxy").cast("double").as("sxy"),
        col("syy").cast("double").as("syy"))
    val cov = s("n") * s("sxy") - s("sx") * s("sy")
    val varx = s("n") * s("sxx") - s("sx") * s("sx")
    val vary = s("n") * s("syy") - s("sy") * s("sy")
    s.select(col("n").cast("long").as("n_days"),
      round(cov / varx, 4).as("slope_cents_per_day"),
      round((col("sy") - cov / varx * col("sx")) / col("n"), 4)
        .as("intercept_cents"),
      round(cov * cov / (varx * vary), 6).as("r2"))
  }

  /** Market-basket co-purchase pairs: parts bought together in one
    * order, counted across orders. Baskets are tiny (a handful of
    * lines per order), so the pairs are generated ARRAY-SIDE: one
    * `collect_set` shuffle builds the distinct per-order basket, the
    * a < b pairs come from the codegen'd pair fan-out
    * [[graft.plans.SortedPairs]] over the sorted array (map-side,
    * O(basket²) each — the bounded-blocking shape; the HOF
    * formulation of the same expansion is CodegenFallback and its
    * interpreted lambda frames gave back the exchange savings), and
    * one partial-aggregating count shuffle produces the support.
    * The previous distinct + self-join form re-exchanged BOTH join
    * sides on l_orderkey after the distinct's (orderkey, partkey)
    * exchange — four shuffles of order-grain data vs two here, and
    * the curve showed its ratio flat (not amortizing) across 10×.
    * Top-20 by support via TakeOrderedAndProject.
    */
  def copurchasePairs(spark: SparkSession, dir: String): DataFrame = {
    val baskets = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
    // pairs ride as ONE packed bigint each (graft_sorted_pairs_packed:
    // a<<32|b — partkeys are catalog-bounded, enforced in the
    // expression): the explode emits a primitive array, the count-agg
    // groups on a single long (Spark's fixed-width hash-map fast path)
    // and the exchange ships 8 bytes/pair where the struct form paid
    // per-pair row allocation + a 16-byte struct key. UNSIGNED packed
    // order IS (part_a, part_b) lexicographic order — the sign-bit XOR
    // makes the signed sort compare unsigned, so the claim holds for
    // the packer's full 32-bit member domain (a >= 2^31 packs to a
    // negative long; a plain signed orderBy would sort those first) —
    // and the top-20 tie-break happens on that key inside
    // TakeOrderedAndProject, so only 20 rows are ever decoded.
    baskets.select(explode(
        column(SortedPairsPacked(expression(col("parts"))))).as("p"))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("p").bitwiseXOR(lit(Long.MinValue)))
      .limit(20)
      // decode matches the full unsigned 32-bit member domain the
      // ordering supports: a signed shiftright would sign-extend a
      // part_a in [2^31, 2^32) to a negative value
      .select(shiftrightunsigned(col("p"), 32).as("part_a"),
        col("p").bitwiseAND(lit(0xFFFFFFFFL)).as("part_b"),
        col("n_orders"))
  }

  /** The struct-pair form of [[copurchasePairs]] (pre-r14): same
    * sorted-basket stream, pairs materialized as struct rows and
    * aggregated on the two-column key. Kept as the packed rewrite's
    * equality twin (CopurchaseSpec pins packed == struct == joined).
    */
  private[graft] def copurchasePairsStruct(spark: SparkSession,
      dir: String): DataFrame = {
    val baskets = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
    baskets.select(explode(
        column(SortedPairs(expression(col("parts"))))).as("p"))
      .groupBy(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** The distinct + self-join form of [[copurchasePairs]] — the
    * derivation the DuckDB oracle replays, kept as the equality twin
    * for the array-side rewrite's spec and same-session A/B profile.
    */
  private[graft] def copurchasePairsJoined(spark: SparkSession,
      dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
    pairs.groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** Per-group top-k (k > 1): each customer's 3 largest orders. The
    * optimizer plans this as `WindowGroupLimit` — per-partition heaps
    * prune to k rows per group BEFORE the shuffle/sort, so the full
    * window is never materialized (plan-guarded in PlanSpec).
    */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  /** Fixed-point PageRank (5 iterations) over the customer→supplier
    * purchase graph — exact BIGINT arithmetic, so the distributed
    * result hash-matches the oracle's serial unrolled replay (see
    * [[graft.ext.Graph.pageRank]] for why fixed-point).
    */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    // orders is the dimension side here (2 pruned columns): broadcast
    // it into the lineitem scan so edge extraction is map-side and the
    // only edge-build shuffle is the distinct. Node ids stay BIGINT
    // through every iteration shuffle (2·custkey / 2·suppkey+1 — the
    // two key spaces interleaved); the "c:"/"s:" display form is a
    // 16k-row dimension projection applied once at the end. String
    // keys in an iterative shuffle are pure overhead at scale.
    val edges = broadcast(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey")))
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val nodes = Tables.customer(spark, dir)
      .select((col("c_custkey") * 2).as("node"),
        concat(lit("c:"), col("c_custkey")).as("label"),
        lit("customer").as("node_type"))
      .unionByName(Tables.supplier(spark, dir)
        .select((col("s_suppkey") * 2 + 1).as("node"),
          concat(lit("s:"), col("s_suppkey")).as("label"),
          lit("supplier").as("node_type")))
    graft.ext.Graph.pageRank(nodes.select("node"), edges, iters = 5)
      .join(nodes, "node")
      .select(col("label").as("node"), col("node_type"),
        col("pr").as("pagerank"))
      .orderBy("node")
  }

  /** Per-part triangle counts on the co-purchase graph (parts sharing
    * an order are adjacent) — [[graft.ext.Graph.triangleCounts]]'s
    * degree-orientation discipline; the edge build reuses the
    * per-order-bounded pair fan-out of `copurchase_pairs` (order
    * baskets are small, the PAIR explosion is capped per order; the
    * wedge explosion is capped by orientation).
    */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    // r22: the edge build rides the copurchase_pairs basket shape —
    // per-order sorted part sets fanned out as PACKED (u << 32 | v)
    // pair longs (partkeys are catalog-bounded, enforced in the
    // expression), deduped on the single fixed-width key. Two
    // exchanges (basket groupBy + packed distinct) where the
    // distinct + self-join form paid four (the (o,p) distinct, both
    // join sides re-exchanged on o, the (u,v) distinct) — same edge
    // set (GraphSpec pins equality with the joined twin; the oracle
    // replays the joined derivation).
    val e = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .select(explode(
        column(SortedPairsPacked(expression(col("parts"))))).as("uv"))
      .distinct()
      .select(shiftrightunsigned(col("uv"), 32).as("u"),
        col("uv").bitwiseAND(lit(0xFFFFFFFFL)).as("v"))
    graft.ext.Graph.triangleCounts(e)
      .select(col("vertex").as("part"), col("n_triangles"))
      .orderBy("part")
  }

  /** Exact equi-width histogram of `events.value` (20 buckets over the
    * global [min, max]). The bounds are a 1-row aggregate broadcast
    * back onto the scan (J3 pattern, no driver collect), bucketing is
    * map-side arithmetic, and the final count shuffles only 20 keyed
    * partials — two scans, one 20-row shuffle, regardless of input
    * size. IEEE double ops are written identically on both engines so
    * bucket edges hash-match.
    */
  def histogramValues(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("value"))
    val bounds = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    ev.crossJoin(broadcast(bounds))
      .select(
        // degenerate range (mn == mx) would divide by zero — pin to
        // bucket 0 (can't occur in the oracle data, so gate-neutral)
        when(col("mn") === col("mx"), lit(0L))
          .otherwise(least(floor((col("value") - col("mn")) /
            ((col("mx") - col("mn")) / lit(20.0))), lit(19.0))
            .cast("long")).as("bucket"),
        col("value"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
      .orderBy("bucket")
  }

  /** Exact median of a SORTED array in Spark's own `percentile`
    * arithmetic (`PercentileBase.getPercentile`, Spark 4.1): the key
    * itself when both middle keys are equal, else the convex form
    * `(hi − pos)·lower + (pos − lo)·higher`. The convex form never
    * overflows on a wide mixed-sign middle pair (`lower + (higher −
    * lower)·frac` does) and rounds like the aggregate, so array-side
    * medians are bit-identical to `percentile(x, 0.5)`.
    */
  private[graft] def medianOfSorted(arr: Column): Column = {
    val pos = (size(arr).cast("double") - lit(1.0)) * lit(0.5)
    val lo = floor(pos)
    val hi = ceil(pos)
    val vLo = element_at(arr, lo.cast("int") + 1)
    val vHi = element_at(arr, hi.cast("int") + 1)
    // all-null group ⇒ empty gather: yield NULL like the percentile
    // aggregate (the when-guard also keeps ANSI element_at off the
    // empty array)
    when(size(arr) === 0, lit(null).cast("double"))
      .when(vLo === vHi, vLo)
      .otherwise((hi - pos) * vLo + (pos - lo) * vHi)
  }

  /** Robust outlier detection: per-group median / MAD (median absolute
    * deviation) and the |x − med| > 3·MAD outlier rate, from one sorted
    * gather per group. The 3-pass percentile form the DuckDB oracle
    * replays is the test-scope equality twin
    * `graft.ref.AnalyticsQueriesRef.outlierMadJoined`.
    */
  def outlierMad(spark: SparkSession, dir: String): DataFrame = {
    // ONE scan, ONE shuffle (r22, VERDICT r21 #10): the 3-pass form
    // (median agg, broadcast-back deviation pass, MAD agg + final
    // pass) gathered each group's values per pass anyway — exact
    // grouped percentile ships the whole group through the exchange —
    // so gather ONCE and derive med, MAD and the outlier count from
    // the sorted array. The HOF lambdas run per GROUP row (|types|
    // rows), not per event, so CodegenFallback costs nothing here.
    // At 100 TB the exact gather is the declared non-scalable part
    // either way (see approx_quantile_hist for the mergeable shape).
    Tables.events(spark, dir).select(col("event_type"), col("value"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("value"))).as("_a"),
        count(lit(1)).as("n"))
      .withColumn("_med", medianOfSorted(col("_a")))
      .withColumn("_mad", medianOfSorted(
        array_sort(transform(col("_a"), x => abs(x - col("_med"))))))
      .select(col("event_type"),
        round(col("_med"), 4).as("med"),
        round(col("_mad"), 4).as("mad"),
        col("n"),
        size(filter(col("_a"),
          x => abs(x - col("_med")) > lit(3.0) * col("_mad")))
          .cast("long").as("n_outliers"))
      .withColumn("outlier_frac",
        col("n_outliers").cast("double") / col("n"))
      .orderBy("event_type")
  }

  /** Approximate quantiles from a 256-bucket histogram sketch — the
    * one-pass, fixed-memory, MERGEABLE alternative to exact
    * `percentile` (whose per-group gather is the non-scalable part):
    * bucket counts merge by addition across partitions/executors/days,
    * so this is the shape a 100 TB quantile computation takes. The
    * estimate interpolates linearly inside the bucket holding the
    * target rank; it is within one bucket width of the ceil(q·n)-th
    * order statistic (spec-bounded). Unlike t-digest/KLL
    * the sketch is deterministic, so a serial oracle replays it
    * exactly.
    */
  def approxQuantileHist(spark: SparkSession, dir: String): DataFrame = {
    val nb = 256.0
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val bounds = ev.groupBy(col("event_type")).agg(
      min(col("value")).as("mn"), max(col("value")).as("mx"),
      count(lit(1)).as("n"))
    val width = (col("mx") - col("mn")) / lit(nb)
    val hist = ev.join(broadcast(bounds), "event_type")
      .select(col("event_type"),
        // a single-valued group (mn == mx) would divide by zero — pin
        // to bucket 0 (estimate degenerates to the exact constant)
        when(col("mn") === col("mx"), lit(0L))
          .otherwise(least(floor((col("value") - col("mn")) / width), lit(nb - 1))
            .cast("long")).as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val cum = sum(col("c")).over(Window.partitionBy(col("event_type"))
      .orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, 0))
    val sketch = hist
      .select(col("event_type"), col("bucket"), col("c"), cum.as("cum"))
      .withColumn("cumb", col("cum") - col("c"))
      .join(broadcast(bounds), "event_type")
    def est(q: Double): Column = {
      val qn = lit(q) * col("n")
      max(when(col("cumb") < qn && col("cum") >= qn,
        col("mn") + (col("bucket") + (qn - col("cumb")) / col("c")) * width))
    }
    sketch.groupBy(col("event_type"))
      .agg(est(0.5).as("p50_est"), est(0.9).as("p90_est"),
        est(0.99).as("p99_est"), max(col("n")).as("n"))
      .orderBy("event_type")
  }

  /** Pruned interval-column bytes above which [[concurrencySweep]]
    * sub-slices each day by hour. The day window wins while the days
    * the data touches fill the task slots; the hour path wins once
    * slots outnumber days. On a 32-slot host over ~60-day corpora that
    * crossover fell between the 10× and 30× corpora, whose pruned
    * bytes straddle 8 MB.
    */
  private val SweepSliceBytes = 8L << 20

  /** Shared ts → [t, t + value minutes) interval mapping for the
    * interval operators — ONE definition on each side of the oracle
    * parity contract (see [[intervalOracleCte]] for the DuckDB twin).
    */
  private def eventIntervals(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        (unix_micros(col("ts")) +
          round(col("value") * 60000000L).cast("long")).as("tEnd"))

  /** DuckDB twin of [[eventIntervals]], shared by the interval oracles. */
  private val intervalOracleCte: String =
    """e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
      |    epoch_us(CAST(ts AS TIMESTAMP))
      |      + CAST(round(value * 60000000) AS BIGINT) AS tEnd
      |  FROM events)""".stripMargin

  /** Ordered funnel analysis (view → click → purchase, strictly
    * increasing event times per user): three chained running-min
    * windows over ONE (user, ts) sort/shuffle — each step's
    * first-reach time feeds the next step's predicate, so sequence
    * matching never materializes per-user event arrays or self-joins
    * the event log. Output is the corpus-level funnel with exact
    * conversion fractions.
    */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val stepped = ev
      .withColumn("s1",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("s2", min(when(
        col("event_type") === "click" && col("ts") > col("s1"),
        col("ts"))).over(w))
      .withColumn("s3", min(when(
        col("event_type") === "purchase" && col("ts") > col("s2"),
        col("ts"))).over(w))
    stepped.groupBy(col("user_id"))
      .agg(min(col("s1")).as("t1"), min(col("s2")).as("t2"),
        min(col("s3")).as("t3"))
      .agg(
        count(lit(1)).as("n_users"),
        count(col("t1")).as("n_viewed"),
        count(col("t2")).as("n_clicked"),
        count(col("t3")).as("n_purchased"))
      .select(col("n_users"), col("n_viewed"), col("n_clicked"),
        col("n_purchased"),
        (col("n_clicked").cast("double") / col("n_viewed")).as("view_to_click"),
        (col("n_purchased").cast("double") / col("n_clicked")).as("click_to_purchase"))
  }

  /** Sweep-line concurrency: each event opens an interval of `value`
    * minutes; +1/−1 boundary deltas sorted within each day give the
    * running number of open intervals and the per-day TRUE peak.
    * Sharding is by day with intervals SPLIT at day boundaries (an
    * interval spanning midnight contributes a clipped slice to each
    * day it touches), so an interval carried over from yesterday still
    * counts from today's first instant — this is how a sweep line
    * shards correctly by time range: clip at shard boundaries, never
    * just assign to the start shard. One map-side explode (fan-out =
    * days touched, bounded by interval length) + ONE (day, t)
    * sort/shuffle. Boundary convention: closes sort before opens at
    * the same instant, so touching intervals don't double-count;
    * zero-length slices (an interval ending exactly at midnight
    * produces an empty next-day slice) are dropped on both engines —
    * they could never raise the peak (their −1 sorts first) and
    * counting them in n_active would be a phantom activation.
    */
  def concurrencySweep(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = eventIntervals(spark, dir).select("t", "tEnd")
    val slices = ev
      .select(col("t"), col("tEnd"),
        explode(sequence(
          to_date(timestamp_micros(col("t"))),
          to_date(timestamp_micros(col("tEnd"))))).as("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        greatest(col("t"), unix_micros(col("day").cast("timestamp")))
          .as("open_t"),
        least(col("tEnd"),
          unix_micros(col("day").cast("timestamp")) + lit(dayUs))
          .as("close_t"))
      .filter(col("open_t") < col("close_t"))
    val deltas = slices.select(col("day"), col("open_t").as("t"), lit(1L).as("d"))
      .unionAll(slices.select(col("day"), col("close_t").as("t"), lit(-1L).as("d")))
    // Two shapes, picked at PLAN TIME from table statistics (a
    // metadata-only read of the scan's sizeInBytes — no sizing job):
    //
    //  - small boundary volume: ONE day-partitioned running-sum window
    //    (a single pass; at bench scale |days| ≈ local parallelism and
    //    the window is the whole cost).
    //  - past [[SweepSliceBytes]] of PRUNED interval-column bytes:
    //    two-level prefix sum (the
    //    [[graft.ext.Sampling.selectTokenBudget]] idea). A calendar
    //    day is a FIXED key set, so per-day delta volume grows
    //    linearly with corpus and the day window concentrates each day
    //    into one task — parallelism capped at |days| no matter how
    //    many executors the cluster has (measured ticking UP
    //    2.4×→3.4× across 10×→30× corpus before the fix). The
    //    sub-slice is the absolute HOUR of the boundary — a pure
    //    function of the row, unlike selectTokenBudget's
    //    spark_partition_id, so no localCheckpoint barrier and no
    //    materialization is needed: the offsets aggregation and the
    //    windowed pass recompute the same deltas and agree by
    //    determinism. Each (day, hour) slice's running sum is shifted
    //    by the driver-collected sum of the day's earlier hours (a
    //    ≤ |days|·24-row table regardless of corpus size); the global
    //    running sum at any row is offset + local sum, so the per-day
    //    max of the shifted sums IS the true peak. Window parallelism
    //    becomes |days|·24; denser corpora drop `sliceUs` to minutes.
    //
    // the oracle pins equality, graft.Bench `concurrency_sweep` the 30× A/B; the hour
    // shape costs one extra bounded-output aggregation job, which is
    // why it doesn't run unconditionally.
    val scanBytes = ev.queryExecution.optimizedPlan.stats.sizeInBytes
    val w =
      if (scanBytes <= SweepSliceBytes)
        Window.partitionBy(col("day")).orderBy(col("t"), col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      else
        Window.partitionBy(col("day"), col("_h"))
          .orderBy(col("t"), col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val opened =
      if (scanBytes <= SweepSliceBytes)
        deltas.withColumn("open", sum(col("d")).over(w))
      else {
        val sliceUs = 3600000000L
        val sliced = deltas.withColumn("_h", floor(col("t") / sliceUs))
        val totals = sliced.groupBy(col("day"), col("_h"))
          .agg(sum(col("d")).as("_sum")).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val offsets: Map[String, Long] = totals.groupBy(_._1).flatMap {
          case (day, rows) =>
            var acc = 0L
            rows.sortBy(_._2).map { case (_, h, s) =>
              val o = (s"$day|$h", acc); acc += s; o
            }
        }
        sliced.withColumn("open", sum(col("d")).over(w) +
          element_at(typedlit(offsets),
            concat_ws("|", col("day"), col("_h"))))
      }
    opened
      .groupBy(col("day"))
      .agg(sum(when(col("d") > 0, 1L).otherwise(0L)).as("n_active"),
        max(col("open")).as("peak_concurrency"))
      .orderBy("day")
  }

  /** Cohort retention matrix: users cohorted by first-seen week, then
    * for each (cohort, week offset) the distinct-active count and the
    * retention fraction vs the cohort's size. Two key-partitioned
    * shuffles (first-seen per user; distinct cohort cells) — the
    * per-user join is co-partitioned on user_id, cohort sizes come
    * back via a broadcast of the offset-0 row per cohort. No per-user
    * arrays, no cross joins; the cohort matrix is tiny regardless of
    * input size.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("first_d"))
    val cells = ev.join(first, "user_id")
      .select(
        date_format(date_trunc("week", col("first_d")), "yyyy-MM-dd")
          .as("cohort_week"),
        expr("CAST(datediff(d, first_d) div 7 AS BIGINT)").as("week_offset"),
        col("user_id"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      // materialized ONCE (r21): cells feeds both the week-0 sizes and
      // the final join, and the static plan embedded the full
      // scan→first-touch-join→distinct subtree under each (4 corpus
      // scans total; AQE stage reuse does not collapse them — same
      // finding as text_collocations). The cohort grid is
      // weeks²-bounded — the cheap side to pin. Cluster deployment:
      // lineage-truncating barrier — "Materialization barriers" in
      // COVERAGE.md at ff8d9ba.
      .localCheckpoint()
    val sizes = cells.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_active").as("cohort_size"))
    cells.join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size")).as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** A/B experiment analysis: Welch's t between two event groups,
    * computed entirely from exact integer-cent power sums (one
    * aggregation, order-independent partials — the same determinism
    * discipline as [[statsNumeric]]) with the t statistic and
    * Welch–Satterthwaite df as the only floating-point step.
    */
  def abWelch(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val x = round(col("value") * 100).cast(dec)
    // ONE conditional-aggregation scan (r21): the per-group-then-
    // cross-join form embedded the whole scan+aggregate subtree once
    // under each of the two group filters — the events table was
    // scanned and aggregated TWICE for a 1-row result (plan-verified:
    // 2 parquet scans + a BroadcastNestedLoopJoin). Both groups now
    // fold in one pass via when()-guarded aggregates over the SAME
    // exact decimal sums, so every derived double is bit-identical;
    // the n1>0 AND n2>0 guard reproduces the cross-join-of-groups
    // semantics (either group empty ⇒ empty result).
    val isT = col("event_type") === "click"
    val isC = col("event_type") === "view"
    val tc = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), x.as("_x"))
      .agg(
        count(when(isT, 1)).cast(dec).as("_n1"),
        sum(when(isT, col("_x"))).as("_s1"),
        sum(when(isT, col("_x") * col("_x"))).as("_ss1"),
        count(when(isC, 1)).cast(dec).as("_n2"),
        sum(when(isC, col("_x"))).as("_s2"),
        sum(when(isC, col("_x") * col("_x"))).as("_ss2"))
      .filter(col("_n1") > 0 && col("_n2") > 0)
      .select(
        col("_n1").cast("double").as("n1"), col("_s1").cast("double").as("s1"),
        col("_ss1").cast("double").as("ss1"),
        col("_n2").cast("double").as("n2"), col("_s2").cast("double").as("s2"),
        col("_ss2").cast("double").as("ss2"))
    // sample variance over cents: (ss - s^2/n) / (n-1); se^2 = v/n
    val v1 = (col("ss1") - col("s1") * col("s1") / col("n1")) / (col("n1") - 1)
    val v2 = (col("ss2") - col("s2") * col("s2") / col("n2")) / (col("n2") - 1)
    val se1 = v1 / col("n1")
    val se2 = v2 / col("n2")
    tc.select(
        col("n1").cast("long").as("n_treat"),
        col("n2").cast("long").as("n_ctrl"),
        round(col("s1") / col("n1") / 100.0, 4).as("mean_treat"),
        round(col("s2") / col("n2") / 100.0, 4).as("mean_ctrl"),
        round((col("s1") / col("n1") - col("s2") / col("n2")) /
          sqrt(se1 + se2), 4).as("t_stat"),
        round((se1 + se2) * (se1 + se2) /
          (se1 * se1 / (col("n1") - 1) + se2 * se2 / (col("n2") - 1)), 2)
          .as("welch_df"))
  }

  /** Gaps-and-islands: contiguous calendar-day activity streaks per
    * user (the calendar twin of timestamp-gap sessionization). The
    * island anchor `d − row_number` is constant within a run of
    * consecutive days, so streaks fall out of ONE (user, day)
    * sort/shuffle + a groupBy — no self-joins, no per-user arrays.
    */
  def gapsIslands(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val anchored = days.withColumn("anchor",
      date_sub(col("d"), row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("d")))))
    val islands = anchored.groupBy(col("user_id"), col("anchor"))
      .agg(count(lit(1)).as("len"), min(col("d")).as("streak_start"))
    islands.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest"),
        expr("min_by(streak_start, struct(-len, streak_start))")
          .as("longest_start"))
      .orderBy("user_id")
  }

  /** Running distinct count — the first-occurrence-flag trick: a
    * cumulative COUNT(DISTINCT) window is not directly computable, but
    * flagging each (user, event_type)'s first row (row_number = 1) and
    * running-summing the flags is — two keyed shuffles, no state
    * explosion, exact at any scale.
    */
  def windowFirstOccurrence(spark: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .withColumn("_first",
        when(row_number().over(byType) === 1, 1L).otherwise(0L))
      .withColumn("n_distinct_types", sum(col("_first")).over(byUser))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("n_distinct_types"))
      .orderBy("event_id")
  }

  /** Overlapping-interval coverage: merge each user's event intervals
    * (ts .. ts + value minutes) and report covered time and island
    * count. Islands form where an interval starts past the running max
    * of previous ends — ONE (user, t) sort/shuffle, exact integer
    * microsecond arithmetic, no interval self-joins.
    */
  def intervalCoverage(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventIntervals(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("tEnd"))
    val prevMax = max(col("tEnd"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = ev
      .withColumn("_new",
        when(prevMax.isNull || col("t") > prevMax, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("t")).as("_s"), max(col("tEnd")).as("_e"))
    islands.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("_e") - col("_s")).as("covered_us"))
      .orderBy("user_id")
  }

  val defs: Map[String, Q] = Map(
    "window_first_occurrence" -> (windowFirstOccurrence _),
    "interval_coverage" -> (intervalCoverage _),
    "ab_welch" -> (abWelch _),
    "gaps_islands" -> (gapsIslands _),
    "retention_cohorts" -> (retentionCohorts _),
    "funnel_steps" -> (funnelSteps _),
    "concurrency_sweep" -> (concurrencySweep _),
    "approx_quantile_hist" -> (approxQuantileHist _),
    "histogram_values" -> (histogramValues _),
    "outlier_mad" -> (outlierMad _),
    "graph_pagerank" -> (graphPagerank _),
    "graph_triangles" -> (graphTriangles _),
    "scd2_history" -> (scd2History _),
    "topk_per_group" -> (topkPerGroup _),
    "window_distribution" -> (windowDistribution _),
    "unpivot_metrics" -> (unpivotMetrics _),
    "stats_numeric" -> (statsNumeric _),
    "window_rolling_7d" -> (windowRolling7d _),
    "resample_daily" -> (resampleDaily _),
    "sample_stratified" -> (sampleStratified _),
    "array_agg_types" -> (arrayAgg _),
    "cube_customers" -> (cubeRevenue _),
    "window_running" -> (windowRunning _),
    "window_rank_lag" -> (windowRankLag _),
    "sessionize" -> (sessionize _),
    "sessionize_native" -> (sessionizeNative _),
    "asof_signup" -> (asofSignup _),
    "asof_native" -> (asofNative _),
    "range_join_events" -> (rangeJoinEvents _),
    "rollup_acctbal" -> (rollupAcctbal _),
    "pivot_event_types" -> (pivotEventTypes _),
    "topk_orders" -> (topkOrders _),
    "distinct_agg" -> (distinctAgg _),
    "approx_distinct" -> (approxDistinct _),
    "approx_hll_agg" -> (approxHllAgg _),
    "temporal_join" -> (temporalJoin _),
    "sketch_hll_setops" -> (sketchHllSetops _),
    "binning_equidepth" -> (binningEquidepth _),
    "timeseries_decompose" -> (timeseriesDecompose _),
    "sample_weighted" -> (sampleWeighted _),
    "assign_dense_ids" -> (assignDenseIds _),
    "drift_ks" -> (driftKs _),
    "regression_trend" -> (regressionTrend _),
    "copurchase_pairs" -> (copurchasePairs _),
    "sketch_countmin" -> (sketchCountMin _))

  /** Shared by `asof_signup` (composed) and `asof_native` (custom
    * physical operator) — both must reproduce exactly this window-form
    * reduction, including equal-ts tie resolution.
    */
  private val asofOracle: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      |comb AS (
      |  SELECT user_id, ts, event_id AS tb, 0 AS side,
      |         event_id AS sig_id, CAST(NULL AS BIGINT) AS p_id
      |  FROM ev WHERE event_type = 'signup'
      |  UNION ALL
      |  SELECT user_id, ts, event_id, 1, NULL, event_id
      |  FROM ev WHERE event_type = 'purchase'),
      |w AS (
      |  SELECT *, last_value(sig_id IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, side, tb
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_id
      |  FROM comb)
      |SELECT p_id AS event_id, user_id, last_signup_id
      |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin

  /** Serial unrolled replay of the 5 fixed-point PageRank rounds —
    * integer arithmetic only, so it must equal the distributed run
    * exactly (DuckDB `//` floor-div == Spark `div` on positive BIGINTs).
    */
  private val pagerankOracle: String = {
    def iter(k: Int): String = {
      val p = s"pr${k - 1}"
      s"""pr$k AS (
         |  SELECT n.node,
         |    CAST(CAST(15 AS BIGINT) * 1000000000 // (100 * nn.n)
         |      + (85 * (COALESCE(i.infl, 0) + dg.dm // nn.n)) // 100
         |      AS BIGINT) AS pr
         |  FROM nodes n
         |  CROSS JOIN nn
         |  CROSS JOIN (SELECT CAST(COALESCE(sum(p.pr), 0) AS BIGINT) AS dm
         |    FROM $p p LEFT JOIN deg d ON d.node = p.node
         |    WHERE d.node IS NULL) dg
         |  LEFT JOIN (SELECT e.dst AS node,
         |      CAST(sum(p.pr // d.outdeg) AS BIGINT) AS infl
         |    FROM edges e JOIN $p p ON p.node = e.src
         |    JOIN deg d ON d.node = e.src GROUP BY 1) i
         |    ON i.node = n.node)""".stripMargin
    }
    s"""WITH edges AS (
       |  SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS src,
       |    's:' || CAST(l.l_suppkey AS VARCHAR) AS dst
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |nodes AS (
       |  SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS node,
       |    'customer' AS node_type FROM customer
       |  UNION ALL
       |  SELECT 's:' || CAST(s_suppkey AS VARCHAR) AS node,
       |    'supplier' AS node_type FROM supplier),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY 1),
       |pr0 AS (SELECT node, CAST(1000000000 // nn.n AS BIGINT) AS pr
       |  FROM nodes CROSS JOIN nn),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT n.node, n.node_type, p.pr AS pagerank
       |FROM pr5 p JOIN nodes n ON n.node = p.node
       |ORDER BY n.node""".stripMargin
  }

  private val oraclesBase: Map[String, String] = Map(
    // Mirrors windowFirstOccurrence: first-occurrence flags + running sum.
    "window_first_occurrence" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |f AS (SELECT *, CASE WHEN row_number() OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
        |    THEN 1 ELSE 0 END AS fst FROM e)
        |SELECT event_id, user_id, event_type,
        |  CAST(sum(fst) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_distinct_types
        |FROM f ORDER BY event_id""".stripMargin,
    // Mirrors intervalCoverage: running-max-end island detection.
    "interval_coverage" -> s"""WITH $intervalOracleCte,
        |m AS (SELECT *, max(tEnd) OVER (PARTITION BY user_id ORDER BY t, tEnd
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM e),
        |n AS (SELECT *, CASE WHEN pm IS NULL OR t > pm THEN 1 ELSE 0 END
        |      AS nw FROM m),
        |i AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY t, tEnd
        |    ROWS UNBOUNDED PRECEDING) AS island FROM n),
        |g AS (SELECT user_id, island, min(t) AS s, max(tEnd) AS e
        |      FROM i GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(e - s) AS BIGINT) AS covered_us
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    // Mirrors abWelch: identical op-order closed form over exact sums.
    "ab_welch" ->
      """WITH g AS (SELECT event_type,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(round(value * 100) AS DECIMAL(38,0))) AS DOUBLE) AS s,
        |    CAST(sum(CAST(round(value * 100) AS DECIMAL(38,0))
        |      * CAST(round(value * 100) AS DECIMAL(38,0))) AS DOUBLE) AS ss
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
        |t AS (SELECT n AS n1, s AS s1, ss AS ss1 FROM g
        |      WHERE event_type = 'click'),
        |c AS (SELECT n AS n2, s AS s2, ss AS ss2 FROM g
        |      WHERE event_type = 'view'),
        |w AS (SELECT n1, n2, s1, s2,
        |    ((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1 AS se1,
        |    ((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2 AS se2
        |  FROM t, c)
        |SELECT CAST(n1 AS BIGINT) AS n_treat, CAST(n2 AS BIGINT) AS n_ctrl,
        |  round(s1 / n1 / 100.0, 4) AS mean_treat,
        |  round(s2 / n2 / 100.0, 4) AS mean_ctrl,
        |  round((s1 / n1 - s2 / n2) / sqrt(se1 + se2), 4) AS t_stat,
        |  round((se1 + se2) * (se1 + se2)
        |    / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 2) AS welch_df
        |FROM w""".stripMargin,
    // Mirrors gapsIslands: anchor = day − row_number is constant per
    // consecutive run.
    "gaps_islands" ->
      """WITH days AS (SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
        |a AS (SELECT user_id, d,
        |    d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
        |      AS INTEGER) AS anchor
        |  FROM days),
        |i AS (SELECT user_id, anchor, count(*) AS len, min(d) AS streak_start
        |      FROM a GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY len DESC, streak_start ASC) AS rn FROM i),
        |g AS (SELECT user_id, count(*) AS n_streaks, max(len) AS longest
        |      FROM i GROUP BY 1)
        |SELECT g.user_id, g.n_streaks, g.longest,
        |  r.streak_start AS longest_start
        |FROM g JOIN r ON g.user_id = r.user_id AND r.rn = 1
        |ORDER BY g.user_id""".stripMargin,
    // Mirrors retentionCohorts: ISO-Monday week cohorts, integer week
    // offsets, offset-0 row as the cohort size.
    "retention_cohorts" ->
      """WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |           FROM events),
        |f AS (SELECT user_id, min(d) AS first_d FROM e GROUP BY 1),
        |cells AS (SELECT strftime(date_trunc('week', first_d), '%Y-%m-%d')
        |      AS cohort_week,
        |    CAST(date_diff('day', first_d, d) // 7 AS BIGINT) AS week_offset,
        |    count(DISTINCT e.user_id) AS n_active
        |  FROM e JOIN f ON e.user_id = f.user_id GROUP BY 1, 2),
        |sz AS (SELECT cohort_week, n_active AS cohort_size FROM cells
        |       WHERE week_offset = 0)
        |SELECT c.cohort_week, c.week_offset, c.n_active, sz.cohort_size,
        |  CAST(c.n_active AS DOUBLE) / sz.cohort_size AS retention
        |FROM cells c JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,
    // Mirrors funnelSteps: the same three chained running-min windows.
    "funnel_steps" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    event_type FROM events),
        |a AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        |    OVER w AS s1 FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING)),
        |b AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > s1
        |    THEN ts END) OVER w AS s2 FROM a
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING)),
        |c AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > s2
        |    THEN ts END) OVER w AS s3 FROM b
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING)),
        |u AS (SELECT user_id, min(s1) AS t1, min(s2) AS t2, min(s3) AS t3
        |      FROM c GROUP BY 1)
        |SELECT count(*) AS n_users, count(t1) AS n_viewed,
        |  count(t2) AS n_clicked, count(t3) AS n_purchased,
        |  CAST(count(t2) AS DOUBLE) / count(t1) AS view_to_click,
        |  CAST(count(t3) AS DOUBLE) / count(t2) AS click_to_purchase
        |FROM u""".stripMargin,
    // Mirrors concurrencySweep: day-clipped interval slices, same
    // (t, d) order (closes before opens at equal t), zero-length
    // slices dropped.
    "concurrency_sweep" -> s"""WITH $intervalOracleCte,
        |s AS (SELECT t, tEnd, unnest(generate_series(
        |        CAST(make_timestamp(t) AS DATE),
        |        CAST(make_timestamp(tEnd) AS DATE),
        |        INTERVAL 1 DAY)) AS day
        |      FROM e),
        |c AS (SELECT CAST(day AS DATE) AS day,
        |        greatest(t, epoch_us(CAST(CAST(day AS DATE) AS TIMESTAMP)))
        |          AS open_t,
        |        least(tEnd, epoch_us(CAST(CAST(day AS DATE) AS TIMESTAMP))
        |          + 86400000000) AS close_t
        |      FROM s),
        |d AS (SELECT day, open_t AS t, CAST(1 AS BIGINT) AS d FROM c
        |        WHERE open_t < close_t
        |      UNION ALL
        |      SELECT day, close_t AS t, CAST(-1 AS BIGINT) AS d FROM c
        |        WHERE open_t < close_t),
        |o AS (SELECT day, d, sum(d) OVER (PARTITION BY day ORDER BY t, d
        |        ROWS UNBOUNDED PRECEDING) AS open
        |      FROM d)
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |  CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
        |  CAST(max(open) AS BIGINT) AS peak_concurrency
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,
    // Mirrors approxQuantileHist: identical bucket arithmetic and
    // in-bucket interpolation, replayed serially.
    "approx_quantile_hist" ->
      """WITH b AS (SELECT event_type, min(value) AS mn, max(value) AS mx,
        |    count(*) AS n FROM events GROUP BY 1),
        |h AS (SELECT e.event_type,
        |    CAST(least(floor((e.value - b.mn) / ((b.mx - b.mn) / 256.0)),
        |      255.0) AS BIGINT) AS bucket, count(*) AS c
        |  FROM events e JOIN b USING (event_type) GROUP BY 1, 2),
        |s AS (SELECT event_type, bucket, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM h),
        |sk AS (SELECT s.*, s.cum - s.c AS cumb, b.mn, b.mx, b.n
        |  FROM s JOIN b USING (event_type))
        |SELECT event_type,
        |  max(CASE WHEN cumb < CAST(0.5 AS DOUBLE) * n AND cum >= CAST(0.5 AS DOUBLE) * n THEN
        |    mn + (bucket + (CAST(0.5 AS DOUBLE) * n - cumb) / c) * ((mx - mn) / 256.0) END)
        |    AS p50_est,
        |  max(CASE WHEN cumb < CAST(0.9 AS DOUBLE) * n AND cum >= CAST(0.9 AS DOUBLE) * n THEN
        |    mn + (bucket + (CAST(0.9 AS DOUBLE) * n - cumb) / c) * ((mx - mn) / 256.0) END)
        |    AS p90_est,
        |  max(CASE WHEN cumb < CAST(0.99 AS DOUBLE) * n AND cum >= CAST(0.99 AS DOUBLE) * n THEN
        |    mn + (bucket + (CAST(0.99 AS DOUBLE) * n - cumb) / c) * ((mx - mn) / 256.0) END)
        |    AS p99_est,
        |  max(n) AS n
        |FROM sk GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Bucket arithmetic written with the exact same IEEE double ops as
    // the Spark side so edge cases land in the same bucket.
    "histogram_values" ->
      """WITH b AS (SELECT min(value) AS mn, max(value) AS mx FROM events)
        |SELECT CAST(least(floor((value - mn) / ((mx - mn) / 20.0)), 19.0)
        |         AS BIGINT) AS bucket,
        |  count(*) AS n, min(value) AS lo, max(value) AS hi
        |FROM events, b GROUP BY 1 ORDER BY 1""".stripMargin,
    "outlier_mad" ->
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |           FROM events GROUP BY 1),
        |d AS (SELECT e.event_type, e.value, m.med
        |      FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
        |       FROM d GROUP BY 1)
        |SELECT d.event_type, round(max(d.med), 4) AS med,
        |  round(max(md.mad), 4) AS mad, count(*) AS n,
        |  CAST(sum(CASE WHEN abs(d.value - d.med) > 3.0 * md.mad
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(sum(CASE WHEN abs(d.value - d.med) > 3.0 * md.mad
        |                THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS outlier_frac
        |FROM d JOIN md USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    "graph_pagerank" -> pagerankOracle,
    // Replays the degree-orientation triangle enumeration: every
    // triangle found once from its lowest-(degree, id) vertex, closed
    // by the oriented edge between the other two; per-vertex counts
    // via a 3-way unnest.
    "graph_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
        |und AS (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e),
        |deg AS (SELECT x, count(*) AS d FROM und GROUP BY x),
        |o AS (SELECT
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.u < e.v)
        |      THEN e.u ELSE e.v END AS s,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.u < e.v)
        |      THEN e.v ELSE e.u END AS t,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.u < e.v)
        |      THEN db.d ELSE da.d END AS dt
        |  FROM e JOIN deg da ON da.x = e.u JOIN deg db ON db.x = e.v),
        |w AS (SELECT o1.s AS a, o1.t AS b, o1.dt AS db_, o2.t AS c, o2.dt AS dc
        |  FROM o o1 JOIN o o2 ON o1.s = o2.s AND o1.t < o2.t),
        |tri AS (SELECT w.a, w.b, w.c FROM w JOIN o cl
        |  ON cl.s = CASE WHEN w.db_ < w.dc OR (w.db_ = w.dc AND w.b < w.c)
        |      THEN w.b ELSE w.c END
        |  AND cl.t = CASE WHEN w.db_ < w.dc OR (w.db_ = w.dc AND w.b < w.c)
        |      THEN w.c ELSE w.b END),
        |pv AS (SELECT unnest([a, b, c]) AS part FROM tri)
        |SELECT part, count(*) AS n_triangles
        |FROM pv GROUP BY part ORDER BY part""".stripMargin,
    "scd2_history" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |ch AS (
        |  SELECT * FROM (
        |    SELECT user_id, event_id, event_type, ts,
        |      lag(event_type) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS prev
        |    FROM e)
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_id, event_type AS state, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS valid_to,
        |  CASE WHEN lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) IS NULL
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_current
        |FROM ch ORDER BY user_id, valid_from, event_id""".stripMargin,
    "topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "window_distribution" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "unpivot_metrics" ->
      """WITH a AS (SELECT l_returnflag,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_cents,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents,
        |  count(*) AS n_rows
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, metric, value
        |FROM (UNPIVOT a ON qty_cents, price_cents, n_rows
        |      INTO NAME metric VALUE value)
        |ORDER BY l_returnflag, metric""".stripMargin,
    // Mirrors statsNumeric: exact HUGEINT power sums, closed-form
    // double formula only at the end.
    "stats_numeric" ->
      """WITH s AS (SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS HUGEINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS HUGEINT) AS y
        |  FROM lineitem),
        |a AS (SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        |  FROM s GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  round((n * sxy - sx * sy)::DOUBLE /
        |    (sqrt((n * sxx - sx * sx)::DOUBLE)
        |      * sqrt((n * syy - sy * sy)::DOUBLE)), 6) AS corr_qty_price,
        |  round(sqrt((n * sxx - sx * sx)::DOUBLE
        |    / (n * (n - 1))::DOUBLE) / 100.0, 6) AS stddev_qty,
        |  round((n * sxy - sx * sy)::DOUBLE / (n * (n - 1))::DOUBLE
        |    / 10000.0, 6) AS covar_qty_price
        |FROM a ORDER BY l_returnflag""".stripMargin,
    // Mirrors graft.ext.CountMin: salted md5 row-hashes, 256 buckets,
    // exact BIGINT counters, min over the d=4 rows.
    "sketch_countmin" ->
      """WITH hashed AS (
        |  SELECT i, md5(CAST(i AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)) AS h
        |  FROM (SELECT unnest(generate_series(0, 3)) AS i, user_id
        |        FROM events WHERE user_id IS NOT NULL)
        |), sk AS (
        |  SELECT i,
        |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS b,
        |    count(*) AS cnt
        |  FROM hashed GROUP BY 1, 2
        |), pe AS (
        |  SELECT user_id, i,
        |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS b
        |  FROM (SELECT user_id, i,
        |      md5(CAST(i AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)) AS h
        |    FROM (SELECT unnest(generate_series(0, 3)) AS i, user_id
        |          FROM (SELECT DISTINCT user_id FROM events
        |                WHERE user_id IS NOT NULL)))
        |), est AS (
        |  SELECT user_id, min(COALESCE(cnt, CAST(0 AS BIGINT))) AS cm_estimate
        |  FROM pe LEFT JOIN sk ON pe.i = sk.i AND pe.b = sk.b GROUP BY 1
        |)
        |SELECT est.user_id, cm_estimate, exact_n
        |FROM est JOIN (SELECT user_id, count(*) AS exact_n
        |               FROM events GROUP BY 1) e ON est.user_id = e.user_id
        |ORDER BY est.user_id""".stripMargin,
    // Mirrors graft.ext.Hll exactly: same md5-hex bucketing, exact
    // BIGINT harmonic sum, same literal association in the estimate so
    // the double arithmetic is bit-equal.
    // Mirrors driftKs: distinct-value step points, BIGINT numerator.
    "drift_ks" ->
      """WITH e AS (SELECT event_type, value,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) <= DATE '2024-01-15'
        |      AS is_a
        |  FROM events),
        |g AS (SELECT event_type, value,
        |    CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT event_type,
        |    sum(a) OVER w AS ca, sum(b) OVER w AS cb
        |  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY value
        |    ROWS UNBOUNDED PRECEDING)),
        |t AS (SELECT event_type, CAST(sum(a) AS BIGINT) AS na,
        |      CAST(sum(b) AS BIGINT) AS nb FROM g GROUP BY 1)
        |SELECT c.event_type, CAST(max(na) AS BIGINT) AS na,
        |  CAST(max(nb) AS BIGINT) AS nb,
        |  CASE WHEN max(na) > 0 AND max(nb) > 0 THEN
        |    round(CAST(max(abs(ca * nb - cb * na)) AS DOUBLE)
        |      / CAST(max(na) * max(nb) AS DOUBLE), 6) END AS ks_d
        |FROM c JOIN t USING (event_type)
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    // Mirrors regressionTrend: identical exact power sums and closed
    // form (same literal association).
    "regression_trend" ->
      """WITH d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY 1),
        |i AS (SELECT CAST(day - DATE '2024-01-01' AS BIGINT) + 1 AS x,
        |    cents AS y FROM d),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy,
        |    CAST(sum(y * y) AS DOUBLE) AS syy
        |  FROM i)
        |SELECT CAST(n AS BIGINT) AS n_days,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
        |    AS slope_cents_per_day,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
        |    AS intercept_cents,
        |  round((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM s""".stripMargin,
    // Mirrors copurchasePairs: same canonical pair ordering and
    // deterministic top-20 tie-break.
    "copurchase_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  count(*) AS n_orders
        |FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin,
    // Mirrors sampleWeighted: the same hash-derived uniform and
    // ln(u)/w rank key, replayed with the 15-hex left fold.
    "sample_weighted" ->
      """WITH h AS (SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS weight_cents, value,
        |    substr(md5(concat('s|', CAST(event_id AS VARCHAR))), 1, 15)
        |      AS hs
        |  FROM events),
        |k AS (SELECT event_type, event_id, weight_cents,
        |    ln((CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(generate_series(1, 15), i ->
        |          CAST(strpos('0123456789abcdef', substr(hs, i, 1)) - 1
        |            AS BIGINT))), (a, x) -> a * 16 + x) AS DOUBLE) + 1.0)
        |      / 1.152921504606847e18) / (value + 1.0) AS key
        |  FROM h),
        |r AS (SELECT event_type, event_id, weight_cents,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY key DESC, event_id) AS rn
        |  FROM k)
        |SELECT event_type, rn, event_id, weight_cents
        |FROM r WHERE rn <= 10 ORDER BY event_type, rn""".stripMargin,
    // The two-phase id assignment must be bit-identical to the serial
    // global numbering.
    "assign_dense_ids" ->
      """SELECT event_id,
        |  row_number() OVER (ORDER BY CAST(CAST(ts AS TIMESTAMP) AS DATE),
        |    event_id) AS global_id
        |FROM events WHERE ts IS NOT NULL ORDER BY global_id""".stripMargin,
    // Mirrors timeseriesDecompose: same exact integer trend/residual
    // arithmetic, same weekday convention (0 = Monday), same single
    // IEEE floor-division for the seasonal index.
    "timeseries_decompose" ->
      """WITH d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY 1),
        |t AS (SELECT day, cents,
        |    CAST(sum(cents) OVER w AS BIGINT) AS s7,
        |    count(*) OVER w AS n7,
        |    isodow(day) - 1 AS wd
        |  FROM d WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |r AS (SELECT day, cents, s7 // n7 AS trend_cents,
        |    cents - s7 // n7 AS resid_cents, wd
        |  FROM t),
        |s AS (SELECT wd, CAST(floor(CAST(sum(resid_cents) AS DOUBLE)
        |      / count(*)) AS BIGINT) AS seasonal_cents
        |  FROM r GROUP BY 1)
        |SELECT day, cents, trend_cents, resid_cents, seasonal_cents,
        |  resid_cents - seasonal_cents AS irregular_cents
        |FROM r JOIN s USING (wd) ORDER BY day""".stripMargin,
    // Mirrors binningEquidepth: same percent_rank bin arithmetic.
    "binning_equidepth" ->
      """WITH b AS (SELECT event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(least(floor(percent_rank() OVER (PARTITION BY event_type
        |      ORDER BY value) * 4), 3.0) AS BIGINT) AS bin
        |  FROM events)
        |SELECT event_type, bin, count(*) AS n_rows,
        |  min(value) AS lo, max(value) AS hi,
        |  CAST(sum(cents) AS BIGINT) AS bin_cents
        |FROM b GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin,
    // Mirrors temporalJoin: same change-detection SCD2 intervals over
    // non-purchase events, same containment predicate.
    "temporal_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type <> 'purchase'),
        |m AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev FROM e),
        |c AS (SELECT user_id, event_id, event_type, ts FROM m
        |      WHERE prev IS NULL OR prev <> event_type),
        |s AS (SELECT user_id AS d_user, event_type AS state,
        |    ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS valid_to
        |  FROM c),
        |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase')
        |SELECT state, count(*) AS n_purchases,
        |  count(DISTINCT p.user_id) AS n_users,
        |  CAST(sum(cents) AS BIGINT) AS purchase_cents
        |FROM p JOIN s ON p.user_id = s.d_user
        |  AND p.p_ts >= s.valid_from
        |  AND (s.valid_to IS NULL OR p.p_ts < s.valid_to)
        |GROUP BY state ORDER BY state""".stripMargin,
    // Mirrors sketchHllSetops: the same register build as
    // approx_distinct, a per-bucket max merge for the union sketch,
    // and the identical IEEE estimate chain for all three.
    "sketch_hll_setops" ->
      """WITH raw AS (
        |  SELECT event_type AS s, md5(CAST(user_id AS VARCHAR)) AS h
        |  FROM events WHERE event_type IN ('click', 'view')
        |), pre AS (
        |  SELECT s, h, regexp_replace(substr(h, 3, 10), '^0+', '') AS st
        |  FROM raw
        |), reg AS (
        |  SELECT s,
        |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS b,
        |    CASE WHEN length(st) = 0 THEN 41
        |         ELSE 4 * (10 - length(st))
        |           + CASE WHEN substr(st, 1, 1) = '1' THEN 3
        |                  WHEN substr(st, 1, 1) IN ('2', '3') THEN 2
        |                  WHEN substr(st, 1, 1) IN ('4', '5', '6', '7') THEN 1
        |                  ELSE 0 END + 1 END AS r
        |  FROM pre
        |), regs AS (
        |  SELECT s, b, max(r) AS m FROM reg GROUP BY 1, 2
        |), regu AS (
        |  SELECT b, max(m) AS m FROM regs GROUP BY 1
        |), f1 AS (
        |  SELECT s, sum(CAST(1 AS BIGINT) << (41 - m)) AS sh,
        |    count(*) AS nb
        |  FROM regs GROUP BY 1
        |), e1 AS (
        |  SELECT s, CAST(floor(CASE WHEN e <= 640.0 AND v > 0.0
        |      THEN 256.0 * ln(256.0 / v) ELSE e END) AS BIGINT) AS estl
        |  FROM (SELECT s,
        |      CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
        |        + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
        |        * CAST(65536.0 AS DOUBLE)
        |        * CAST(2199023255552.0 AS DOUBLE)
        |        / (sh + (CAST(256 AS BIGINT) - nb) * CAST(2199023255552 AS BIGINT)) AS e,
        |      CAST(256 - nb AS DOUBLE) AS v
        |    FROM f1)
        |), fu AS (
        |  SELECT sum(CAST(1 AS BIGINT) << (41 - m)) AS sh, count(*) AS nb
        |  FROM regu
        |), eu AS (
        |  SELECT CAST(floor(CASE WHEN e <= 640.0 AND v > 0.0
        |      THEN 256.0 * ln(256.0 / v) ELSE e END) AS BIGINT) AS est_union
        |  FROM (SELECT
        |      CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
        |        + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
        |        * CAST(65536.0 AS DOUBLE)
        |        * CAST(2199023255552.0 AS DOUBLE)
        |        / (sh + (CAST(256 AS BIGINT) - nb) * CAST(2199023255552 AS BIGINT)) AS e,
        |      CAST(256 - nb AS DOUBLE) AS v
        |    FROM fu)
        |), ex AS (
        |  SELECT
        |    count(DISTINCT CASE WHEN s = 'click' THEN user_id END)
        |      AS exact_click,
        |    count(DISTINCT CASE WHEN s = 'view' THEN user_id END)
        |      AS exact_view,
        |    count(DISTINCT user_id) AS exact_union
        |  FROM (SELECT event_type AS s, user_id FROM events
        |        WHERE event_type IN ('click', 'view'))
        |), ec AS (SELECT estl AS est_click FROM e1 WHERE s = 'click'),
        |ev2 AS (SELECT estl AS est_view FROM e1 WHERE s = 'view')
        |SELECT est_click, est_view, est_union,
        |  est_click + est_view - est_union AS est_intersect,
        |  exact_click, exact_view, exact_union
        |FROM ec, ev2, eu, ex""".stripMargin,
    "approx_distinct" ->
      """WITH raw AS (
        |  SELECT l_returnflag, 0 AS ci, md5(CAST(l_partkey AS VARCHAR)) AS h FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 1 AS ci, md5(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem
        |), pre AS (
        |  SELECT l_returnflag, ci, h,
        |    regexp_replace(substr(h, 3, 10), '^0+', '') AS s
        |  FROM raw
        |), reg AS (
        |  SELECT l_returnflag, ci,
        |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS b,
        |    CASE WHEN length(s) = 0 THEN 41
        |         ELSE 4 * (10 - length(s))
        |           + CASE WHEN substr(s, 1, 1) = '1' THEN 3
        |                  WHEN substr(s, 1, 1) IN ('2', '3') THEN 2
        |                  WHEN substr(s, 1, 1) IN ('4', '5', '6', '7') THEN 1
        |                  ELSE 0 END + 1 END AS r
        |  FROM pre
        |), regs AS (
        |  SELECT l_returnflag, ci, b, max(r) AS m FROM reg GROUP BY 1, 2, 3
        |), folded AS (
        |  SELECT l_returnflag, ci,
        |    sum(CAST(1 AS BIGINT) << (41 - m)) AS sh, count(*) AS nb
        |  FROM regs GROUP BY 1, 2
        |), est AS (
        |  SELECT l_returnflag, ci,
        |    CAST(floor(CASE WHEN e <= 640.0 AND v > 0.0
        |      THEN 256.0 * ln(256.0 / v) ELSE e END) AS BIGINT) AS estl
        |  FROM (SELECT l_returnflag, ci,
        |      CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
        |        + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
        |        * CAST(65536.0 AS DOUBLE)
        |        * CAST(2199023255552.0 AS DOUBLE)
        |        / (sh + (CAST(256 AS BIGINT) - nb) * CAST(2199023255552 AS BIGINT)) AS e,
        |      CAST(256 - nb AS DOUBLE) AS v
        |    FROM folded)
        |)
        |SELECT l_returnflag,
        |  max(CASE WHEN ci = 0 THEN estl END) AS approx_parts,
        |  max(CASE WHEN ci = 1 THEN estl END) AS approx_orders
        |FROM est GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "window_rolling_7d" ->
      """SELECT event_id, user_id,
        |  CAST((sum(CAST(round(value * 100) AS BIGINT)) OVER w * 10000)
        |    // count(*) OVER w AS BIGINT) AS avg_7d_micro,
        |  count(*) OVER w AS n_7d
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "resample_daily" ->
      """WITH d AS (SELECT user_id,
        |  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |  round(sum(value), 4) AS day_value, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT user_id,
        |  unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE
        |    AS day
        |  FROM d GROUP BY user_id)
        |SELECT sp.user_id, sp.day,
        |  COALESCE(d.n_events, 0) AS n_events,
        |  last_value(d.day_value IGNORE NULLS) OVER (
        |    PARTITION BY sp.user_id ORDER BY sp.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM sp LEFT JOIN d ON sp.user_id = d.user_id AND sp.day = d.day
        |ORDER BY sp.user_id, sp.day""".stripMargin,
    "sample_stratified" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 2) <=
        |  CASE event_type WHEN 'purchase' THEN 'ff'
        |                  WHEN 'click' THEN '19'
        |                  ELSE '7f' END
        |ORDER BY event_id""".stripMargin,
    "array_agg_types" ->
      """SELECT user_id,
        |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
        |  min(event_id) AS first_id,
        |  max(event_id) AS last_id,
        |  count(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "cube_customers" ->
      """SELECT r_name, c_mktsegment, count(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, c_mktsegment)
        |ORDER BY r_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin,
    "window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_quantity,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,
    "window_rank_lag" ->
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS order_seq,
        |  date_diff('day', CAST(lag(o_orderdate, 1) OVER w AS DATE),
        |            CAST(o_orderdate AS DATE)) AS gap_days
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // session_window semantics: break at gap > timeout (merge at the
    // exact boundary — SessionWindowSpec), session_end = last ts +
    // timeout.
    "sessionize_native" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events, min(event_id) AS first_event_id,
        |  max(event_id) AS last_event_id, round(sum(value), 2) AS session_value
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  min(event_id) AS first_event_id, max(event_id) AS last_event_id,
        |  round(sum(value), 2) AS session_value
        |FROM sessions GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "asof_signup" -> asofOracle,
    "asof_native" -> asofOracle,
    "range_join_events" ->
      """SELECT e.event_id, e.user_id,
        |  CAST(count(c.event_id) AS BIGINT) AS n_nearby_clicks
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'error') e
        |LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'click') c
        |  ON e.user_id = c.user_id
        |  AND abs(epoch_us(e.ts) - epoch_us(c.ts)) <= 300000000
        |GROUP BY e.event_id, e.user_id ORDER BY e.event_id""".stripMargin,
    "rollup_acctbal" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  round(sum(c_acctbal), 2) AS acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "pivot_event_types" ->
      """SELECT user_id,
        |  CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |  CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        |  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        |  CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        |  CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** `approx_hll_agg` (custom TypedImperativeAggregate) is gated by
    * the SAME oracle as `approx_distinct` (declarative registers): the
    * two plans must produce bit-identical estimates.
    */
  val oracles: Map[String, String] =
    oraclesBase + ("approx_hll_agg" -> oraclesBase("approx_distinct"))
}
