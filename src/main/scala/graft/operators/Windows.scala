package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function surface (SURVEY.md §2.B5). Every window is partitioned
  * (by user/customer/priority) so state stays bounded per key at any scale —
  * no global unpartitioned windows except the explicitly-bounded ntile demo.
  * All orderings carry a unique tie-break column (event_id / orderkey): the
  * testdata has duplicate `value`s per user, and an un-tie-broken window is
  * nondeterministic across engines.
  */
object Windows {

  /** HOURLY OHLC BARS per event type — the downsampling every time-series
    * store ships (candlesticks, sensor rollups): open/close are the
    * first/last value by (ts, event_id) within the bar, high/low the
    * extremes, volume the row count. ONE map-combinable hash aggregate:
    * open/close ride struct min/max (the min_by/max_by shape — the tie
    * order is the struct's field order, mirrored in the oracle's
    * row_number), so no window pass and no per-bar sort anywhere; cents
    * stay exact integers. At 100 TB this is the motivating case for
    * map-side combine: a year of per-hour bars is 8 760 cells per type
    * regardless of event volume.
    */
  def ohlcBars(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts div 3600000000000").as("hour"),
        col("ts"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("event_type", "hour")
      .agg(
        min(struct(col("ts"), col("event_id"), col("cents"))).as("o"),
        max(struct(col("ts"), col("event_id"), col("cents"))).as("c"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        count(lit(1)).as("volume"))
      .select(col("event_type"), col("hour"),
        col("o.cents").as("open_cents"), col("high_cents"), col("low_cents"),
        col("c.cents").as("close_cents"), col("volume"))
      .orderBy("event_type", "hour")

  /** LAG-FEATURE ENGINEERING: the per-entity temporal feature frame a
    * training pipeline materializes before model fitting — for each
    * (user, active day): today's spend, lag-1 and lag-7 spend (NULL where
    * history is short — imputation is the MODEL'S choice, not the
    * feature store's), the trailing-7-day spend sum and active-day count.
    * All exact integers; every column rides ONE user-clustered window
    * pass (the range frame reuses the row frame's sort). At 100 TB this
    * frame is the thing feature stores snapshot daily — the day-
    * partitioned append pattern of the DAU artifact applies verbatim.
    */
  def lagFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), expr("ts div 86400000000000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val byDay = Window.partitionBy("user_id").orderBy("day")
    val trail7 = Window.partitionBy("user_id").orderBy("day")
      .rangeBetween(-6, 0) // calendar days, not row offsets: gaps matter
    daily
      .withColumn("lag1_cents", lag(col("cents"), 1).over(byDay))
      .withColumn("lag7_cents", lag(col("cents"), 7).over(byDay))
      .withColumn("trail7_cents", sum(col("cents")).over(trail7))
      .withColumn("trail7_days", count(lit(1)).over(trail7))
      .orderBy("user_id", "day")
  }

  /** MAXIMUM DRAWDOWN per user cohort — the peak-to-trough risk statistic
    * (largest drop of a cumulative NET-FLOW series from its running peak),
    * with the day it bottomed. The series is daily purchases MINUS errors
    * (the deterministic refund/chargeback stand-in), per user-parity×2
    * cohort — a genuinely OSCILLATING walk, unlike gross revenue, whose
    * all-positive daily sums make every drawdown identically zero and the
    * statistic vacuous (review r11: the first cut grouped gross revenue
    * by type and verified nothing). Pure integer window algebra over the
    * (cohort × day) domain frame: signed daily cents (map-combinable),
    * running cumulative sum, running peak (INCLUSIVE of the current day,
    * so day one's drawdown is 0 by construction), dd = peak − cum, argmax
    * struct with earliest-day ties (the q_cusum discipline), and the true
    * final cumulative via a max-by on day. No float anywhere.
    */
  def maxDrawdown(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "error"))
      .groupBy((col("user_id") % 4).as("cohort"),
        expr("ts div 86400000000000").as("day"))
      .agg(sum(when(col("event_type") === "purchase",
          expr("CAST(round(value * 100) AS BIGINT)"))
        .otherwise(expr("-CAST(round(value * 100) AS BIGINT)"))).as("cents"))
    val byDay = Window.partitionBy("cohort").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("cum", sum(col("cents")).over(byDay))
      .withColumn("peak", max(col("cum")).over(byDay))
      .withColumn("dd", col("peak") - col("cum"))
      .groupBy("cohort")
      .agg(count(lit(1)).as("n_days"),
        max(struct(col("day"), col("cum"))).as("fin"), // max-by day: TRUE final
        max(struct(col("dd").as("dd"), (-col("day")).as("nd"))).as("top"))
      .select(col("cohort"), col("n_days"),
        col("fin.cum").as("final_cum_cents"),
        col("top.dd").as("max_drawdown_cents"),
        (-col("top.nd")).as("trough_day"))
      .orderBy("cohort")
  }

  /** SLA COMPLIANCE: the share of lineitems shipped within 5 BUSINESS
    * days of their order, per priority — the thresholded readout on
    * [[businessDays]]' signed closed form (negative lags — pre-order
    * ship dates in this synthetic data — fail the SLA like any other
    * out-of-window value; a real deployment would quarantine them
    * upstream via q_expectations). Exact integer share in ppm; one
    * co-keyed join + map-combinable conditional count.
    */
  def slaCompliance(spark: SparkSession, sfDir: String): DataFrame = {
    def h(c: String) = s"(5L * (($c + 3L) div 7L) + least(($c + 3L) % 7L + 1L, 5L) - 3L)"
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"),
      col("o_orderpriority"), datediff(col("o_orderdate"), lit("1970-01-01")).as("od"))
    val l = Tables.lineitem(spark, sfDir).select(col("l_orderkey"),
      datediff(col("l_shipdate"), lit("1970-01-01")).as("sd"))
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"), expr(s"${h("sd")} - ${h("od")}").as("bd"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("bd").between(0, 5), 1L).otherwise(0L)).as("n_within_sla"))
      .withColumn("sla_ppm", expr("n_within_sla * 1000000L div n_items"))
      .orderBy("o_orderpriority")
  }

  /** BUSINESS-DAY fulfillment lag: weekdays between order and ship date
    * per priority — calendar arithmetic every ops dashboard needs, done
    * in CLOSED-FORM integers (no calendar table, no per-day loop):
    * with y = epoch_day + 3 (shifting so y ≡ 0 mod 7 is a Monday),
    * H(d) = 5·(y div 7) + least(y mod 7 + 1, 5) − 3 counts weekdays in
    * [0..d], and busdays in (order..ship] = H(ship) − H(order). SIGNED:
    * a ship date before its order date counts negative (this synthetic
    * data has them — a data-quality signal worth surfacing, not clamping
    * away; WindowsSpec pins the signed day-by-day reference). Same
    * formula token-for-token in the oracle; epoch days are positive so
    * div/mod agree across engines. One co-keyed join + map-combinable
    * agg; the average is one rounded division over exact integer sums.
    */
  def businessDays(spark: SparkSession, sfDir: String): DataFrame = {
    // `div`, not `/`: Column./ is IEEE division; the closed form needs
    // integer division (positive domain, so Spark div == DuckDB //)
    def h(c: String) = s"(5L * (($c + 3L) div 7L) + least(($c + 3L) % 7L + 1L, 5L) - 3L)"
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"),
      col("o_orderpriority"), datediff(col("o_orderdate"), lit("1970-01-01")).as("od"))
    val l = Tables.lineitem(spark, sfDir).select(col("l_orderkey"),
      datediff(col("l_shipdate"), lit("1970-01-01")).as("sd"))
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"), expr(s"${h("sd")} - ${h("od")}").as("bd"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("bd")).as("sum_busdays"),
        round(sum(col("bd")).cast("double") / count(lit(1)), 6).as("avg_busdays"))
      .orderBy("o_orderpriority")
  }

  /** TOP-K WITH TIES: each user's three most-active days, keeping every
    * day tied with the third — `rank()`, where [[topKPerUser]]'s
    * row_number would break ties arbitrarily (non-deterministic under
    * re-partitioning; rank is the reproducible form whenever the measure
    * can tie, and daily counts tie constantly). Same bounded-per-key
    * window contract; day ascending inside a rank group pins the output
    * order.
    */
  def topKDaysWithTies(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .groupBy("user_id", "day").agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("user_id").orderBy(col("n_events").desc)
    daily.withColumn("rnk", rank().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy("user_id", "rnk", "day")
  }

  /** Ranking: top-3 events by value per user via row_number. */
  def topKPerUser(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(desc("value"), asc("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("user_id"), col("rn"), col("event_id"), col("value"))
      .orderBy("user_id", "rn")
  }

  /** Per-user top-k through the custom GroupTopK plan node (graft.plans):
    * logical node + strategy + bounded-heap physical operator instead of the
    * full-sort window. Same output and oracle as topKPerUser; state is
    * O(groups*k) rather than a whole-partition sort.
    */
  def topKPerUserCustom(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Descending, SortOrder}
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.plans.GroupTopK
    val ev = Tables.events(spark, sfDir).select(col("user_id"), col("event_id"), col("value"))
    val analyzed = ev.queryExecution.analyzed
    val Seq(u, e, v) = analyzed.output
    val rank = AttributeReference("rn", org.apache.spark.sql.types.LongType, nullable = false)()
    val plan = GroupTopK(Seq(u), Seq(SortOrder(v, Descending), SortOrder(e, Ascending)), k, rank, analyzed)
    ColumnShim.ofRows(spark, plan)
      .select(col("user_id"), col("rn"), col("event_id"), col("value"))
      .orderBy("user_id", "rn")
  }

  /** Analytic lag: delta to the previous event's value per user. */
  def lagDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts")
    Tables.events(spark, sfDir)
      .withColumn("prev", lag(col("value"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_id"), (col("value") - col("prev")).as("delta"))
      .orderBy("event_id")
  }

  /** Running (cumulative) order total per customer — ROWS frame, so the
    * accumulation order is pinned and the double sum is engine-identical.
    */
  def runningTotal(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .withColumn("cum_total", round(sum(col("o_totalprice")).over(w), 6))
      .select(col("o_orderkey"), col("o_custkey"), col("cum_total"))
      .orderBy("o_orderkey")
  }

  /** RANGE frame: trailing-1h sum of event value per user, keyed on epoch
    * seconds. Engines may use sliding-subtract vs recompute — round(4).
    */
  def trailing1h(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_sec").rangeBetween(-3600, 0)
    Tables.events(spark, sfDir)
      .withColumn("sum_1h", round(sum(col("value")).over(w), 4))
      .select(col("event_id"), col("sum_1h"))
      .orderBy("event_id")
  }

  /** Distribution functions over order totals within each priority class. */
  def percentRank(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy("o_orderkey")
  }

  /** Navigation functions over the full partition frame: each event sees
    * its user's first, third and last event value under the µs-total
    * order (ties broken by event_id — navigation is only deterministic
    * under a total order, same discipline as ntile). One shuffle on
    * user_id; the unbounded frame is a single pass per partition.
    */
  def navFunctions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("us"), col("value"))
      .select(col("event_id"), col("user_id"),
        round(first("value").over(w), 6).as("first_v"),
        round(nth_value(col("value"), 3).over(w), 6).as("third_v"),
        round(last("value").over(w), 6).as("last_v"))
      .orderBy("event_id")
  }

  /** ntile quartiles over customer balance (total order incl. unique key —
    * ntile is only deterministic under a total order). DEMO FORM: the
    * unpartitioned window funnels every row through one task — fine here,
    * wrong at scale; [[ntileBalanceDist]] is the scale-honest twin with the
    * same oracle.
    */
  def ntileBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.orderBy("c_acctbal", "c_custkey")
    Tables.customer(spark, sfDir)
      .select(col("c_custkey"), ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("c_custkey")
  }

  /** EXACT ntile without the single-task global window: range-repartition on
    * the ordering key (parallel sampled range exchange), sort within each
    * partition, then assign each row its GLOBAL rank via per-partition
    * offsets — `zipWithIndex`'s one metadata-sized count job (a handful of
    * longs to the driver, the same trick Spark itself uses) — and map rank →
    * bucket with the standard ntile formula (first n%k buckets get one extra
    * row). Every stage is partition-parallel; no task ever sees more than
    * its range slice. Same output and oracle as [[ntileBalance]]. This is
    * the RDD-zone exception the brief carves out: assigning cross-partition
    * contiguous ranks is genuinely per-partition imperative logic.
    */
  def ntileBalanceDist(spark: SparkSession, sfDir: String, n: Int = 4): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey").cast("long").as("c_custkey"), col("c_acctbal"))
    val total = cust.count()
    val ranked = cust
      .repartitionByRange(col("c_acctbal"), col("c_custkey"))
      .sortWithinPartitions("c_acctbal", "c_custkey")
      .select("c_custkey").rdd.map(_.getLong(0))
      .zipWithIndex() // range partitions are emitted in ascending range order
    val base = total / n
    val rem = total % n
    val quartiled = ranked.map { case (key, idx) =>
      val q = if (idx < (base + 1) * rem) idx / (base + 1)
              else rem + (idx - (base + 1) * rem) / base
      (key, q + 1)
    }
    quartiled.toDF("c_custkey", "quartile").orderBy("c_custkey")
  }

  /** PERIOD-OVER-PERIOD: the daily revenue series per event type with
    * day-over-day delta and growth percent — the standard BI reporting
    * shape (this-period vs last-period on an AGGREGATED series, unlike
    * q_window_lag's per-row delta). Daily cents are exact long sums, the
    * delta stays integer, and the growth percent is one fixed-order
    * double division ((delta/prev)·100) rounded at emit; the first day
    * per type has no predecessor and emits NULLs, mirrored in the oracle.
    * Scale: the lag window rides the (type × day-domain) frame — the
    * gap-fill stance.
    */
  def periodOverPeriod(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("d"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val w = Window.partitionBy("event_type").orderBy("d")
    daily
      .withColumn("prev", lag(col("cents"), 1).over(w))
      .select(col("event_type"), (col("d") * 86400).as("day_sec"), col("cents"),
        (col("cents") - col("prev")).as("delta_cents"),
        // prev = 0 must yield NULL in BOTH engines (Spark's non-ANSI
        // double divide returns NULL on a zero divisor, DuckDB returns
        // inf — so the guard is the portability fix, not just hygiene)
        round(when(col("prev") =!= 0,
          (col("cents") - col("prev")).cast("double")
            / col("prev").cast("double") * 100), 6).as("growth_pct"))
      .orderBy("event_type", "day_sec")
  }

  /** GINI COEFFICIENT per group — the inequality measure of the order-value
    * distribution (0 = equal, →1 = concentrated), from the rank-weighted
    * closed form G = 2·Σᵢ i·yᵢ / (n·Σy) − (n+1)/n over ascending values.
    * Both Σ terms accumulate as exact DECIMAL(38,0) (rank × cents products
    * formed in decimal), so the emitted double is two fixed-order IEEE
    * divisions over exact integers — bit-deterministic cross-engine. Equal
    * values make the rank weighting invariant under tie order, but the
    * window still tie-breaks on o_orderkey so BOTH engines rank
    * identically row-for-row.
    *
    * 100 TB shape: one per-group ranking window (bounded per key) feeding
    * one hash-agg that reuses its clustering — the fact shuffles once,
    * same contract as q_twap.
    */
  def giniRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.partitionBy("o_orderpriority").orderBy(asc("y"), asc("o_orderkey"))
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("y"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("y").cast(dec)).as("s1"),
        sum(col("i").cast(dec) * col("y").cast(dec)).as("s2"))
      .select(col("o_orderpriority"), col("n"),
        // all-zero revenue (s1 = 0) leaves inequality undefined — NULL
        // in both engines (the q_ols_trend zero-denominator discipline)
        round(when(col("s1") =!= 0,
          d(col("s2") * 2) / d(col("s1") * col("n"))
            - d(col("n") + 1) / d(col("n"))), 6).as("gini"))
      .orderBy("o_orderpriority")
  }

  /** TIME-WEIGHTED AVERAGE (TWAP): per user, the mean event value weighted
    * by how long each observation was "in force" (until the next event) —
    * the standard irregular-sampling average for prices and telemetry
    * gauges, where a plain mean over-counts bursts. dt comes from one
    * `lead` over the per-user window (exact ns longs); the weighted sum
    * Σ(value_cents·dt) accumulates as DECIMAL(38,0) (a cents×ns product
    * reaches ~10¹⁸ per interval — long arithmetic would wrap silently at
    * real scale, decimal overflow surfaces as NULL), and the average is
    * ONE decimal→double division, so the emitted doubles are
    * bit-deterministic cross-engine. The last event per user spans no
    * interval and drops out (the standard observed-span TWAP); one-event
    * users disappear with it. Zero-length intervals (equal-ts ties,
    * event_id-broken identically in both engines) contribute zero weight.
    *
    * 100 TB shape: one per-user window (bounded state, streaming lead) and
    * one user-keyed hash-agg that reuses the window's clustering — the
    * fact shuffles once.
    */
  def twapPerUser(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("y"))
      .withColumn("dt", lead(col("ts"), 1).over(w) - col("ts"))
      .filter(col("dt").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("y").cast(dec) * col("dt").cast(dec)).as("num"),
        sum(col("dt").cast(dec)).as("den"))
      .filter(col("den") > 0)
      .select(col("user_id"), col("n_intervals"),
        round(col("num").cast("double") / col("den").cast("double"), 6)
          .as("twap_cents"))
      .orderBy("user_id")
  }

  /** PARETO / ABC CLASSIFICATION: rank parts by revenue, classify by
    * cumulative revenue share — A up to 80%, B up to 95%, C the tail (the
    * warehouse inventory-analysis classic). The share thresholds are
    * EXACT INTEGER comparisons (100·cum ≤ 80·total) — a 0.8 float literal
    * would be DOUBLE in Spark but DECIMAL in DuckDB and diverge on
    * boundary rows (the r10 assoc-rules lesson), while integer products
    * of exact cent sums compare identically everywhere.
    *
    * 100 TB shape: revenue aggregates the fact down to the parts DIMENSION
    * (sublinear side of the star schema) before anything global happens;
    * the cumulative window then rides that dimension-sized frame. If the
    * dimension itself outgrew one task, the exact two-phase trick
    * q_ntile_dist demonstrates (range exchange + per-partition offsets)
    * applies unchanged — same frame, same ordering key.
    */
  def paretoAbc(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .groupBy("l_partkey")
      .agg(sum(col("cents").cast("decimal(38,0)")).as("revenue"))
    val cum = Window.orderBy(desc("revenue"), asc("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, 0)
    rev
      .withColumn("c", sum(col("revenue")).over(cum))
      .withColumn("t", sum(col("revenue")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("l_partkey"), col("revenue").cast("long").as("revenue_cents"),
        when(col("c") * 100 <= col("t") * 80, "A")
          .when(col("c") * 100 <= col("t") * 95, "B")
          .otherwise("C").as("abc_class"))
      .orderBy("l_partkey")
  }

  /** Time-series RESAMPLE + GAP-FILL: per event type, the hourly average
    * value on a dense hour grid, missing hours linearly interpolated
    * between their present neighbours (the `time_bucket GAPFILL` /
    * `interpolate` operator of time-series engines, composed from
    * built-ins: one hash-agg, a per-type `sequence` grid, and two
    * IGNORE-NULLS window sweeps for the bracketing present hours).
    *
    * Exactness: the hourly average is one decimal-sum/long-count double
    * division; the interpolation `ap + (an−ap)·((h−hp)/(hn−hp))` is a
    * fixed IEEE op order over exact inputs, mirrored token-for-token in
    * the oracle, then rounded once at emit. The grid spans each type's
    * [min, max] present hour, so every interior gap has both neighbours
    * (no edge extrapolation by construction).
    *
    * 100 TB shape: raw rows are touched ONLY by the map-side-combinable
    * hash-agg; everything downstream (grid, join, windows) rides the
    * (type × hour-domain) frame — time-bounded (10 years ≈ 88k hours per
    * type), independent of corpus row count. The per-type window is a
    * single partition of that domain frame, same stance as the skyline
    * price-domain sweep.
    */
  def gapfillHourly(spark: SparkSession, sfDir: String): DataFrame =
    gapfillOf(Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("ts_sec div 3600").as("h"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("s"), count(lit(1)).as("c"))
      .select(col("event_type"), col("h"),
        (col("s").cast("double") / col("c").cast("double")).as("a")))
      .orderBy("event_type", "hour_sec")

  /** The grid + interpolation core on any (event_type, h, a) series frame —
    * factored out so PropertySpec can drive it over generated sparse
    * series against a linear-interpolation reference. */
  private[graft] def gapfillOf(hourly: DataFrame): DataFrame = {
    val grid = hourly.groupBy("event_type")
      .agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("h"))
    val wPrev = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(0, Window.unboundedFollowing)
    grid.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("ap", last(col("a"), ignoreNulls = true).over(wPrev))
      .withColumn("hp", last(when(col("a").isNotNull, col("h")), ignoreNulls = true).over(wPrev))
      .withColumn("an", first(col("a"), ignoreNulls = true).over(wNext))
      .withColumn("hn", first(when(col("a").isNotNull, col("h")), ignoreNulls = true).over(wNext))
      .select(
        col("event_type"), (col("h") * 3600).as("hour_sec"),
        col("a").isNull.as("interpolated"),
        round(coalesce(col("a"),
          col("ap") + (col("an") - col("ap")) *
            ((col("h") - col("hp")).cast("double") / (col("hn") - col("hp")).cast("double"))),
          6).as("avg_value"))
  }

  /** RFM CUSTOMER SEGMENTATION (r11): the classical marketing-analytics
    * quartile grid — per customer, Recency (latest order day), Frequency
    * (order count) and Monetary (lifetime cents) each ntile(4)-scored,
    * concatenated into the 'rfm' segment label ('111' = best quartile on
    * all three). The per-customer rollup is one fact-side hash-agg; the
    * three quartile scores ride ONE customer-dimension-sized global sort
    * (ntile windows share the frame; same dimension-sized-window stance
    * as paretoAbc — the windowed frame is customers, orders of magnitude
    * under the fact). Ties pin on o_custkey in both engines, and ntile's
    * equal-fill semantics (remainder to the leading buckets) are SQL
    * standard in Spark and DuckDB alike, so scores hash-match exactly.
    */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(
        max(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
          .as("last_day"),
        count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
    val r = ntile(4).over(Window.orderBy(desc("last_day"), asc("o_custkey")))
    val f = ntile(4).over(Window.orderBy(desc("n_orders"), asc("o_custkey")))
    val m = ntile(4).over(Window.orderBy(desc("cents"), asc("o_custkey")))
    cust
      .withColumn("r_score", r.cast("long"))
      .withColumn("f_score", f.cast("long"))
      .withColumn("m_score", m.cast("long"))
      .withColumn("segment", concat(col("r_score"), col("f_score"), col("m_score")))
      .select("o_custkey", "last_day", "n_orders", "cents",
        "r_score", "f_score", "m_score", "segment")
      .orderBy("o_custkey")
  }

  /** Per-user exponentially-weighted moving average (α = 1/2) of event
    * values in (ts, event_id) order — the smoothing primitive behind
    * monitoring/forecast readouts (Holt's level term; Hunter 1986 EWMA
    * control charts), reported as each user's final smoothed level.
    *
    * Cross-engine exactness without rounding: the recursion
    * s₁ = x₁, sₜ = 0.5·xₜ + 0.5·sₜ₋₁ is evaluated as a left fold in
    * EXACTLY the same IEEE op sequence on both sides (Spark `aggregate`
    * HOF seeded with the first element / DuckDB `list_reduce`, which
    * seeds the same way): each step is two exact power-of-two scalings
    * plus ONE rounded add, and the (ts, event_id) sort is total (ids
    * unique) — so the doubles are bit-identical with no round() anywhere.
    *
    * Scale shape: one user_id exchange; per-group state is the user's own
    * event sequence (the sessionization/funnel stance — bounded by
    * per-user activity, never corpus-sized). An ordered fold is
    * inherently sequential per key; cross-key parallelism is the
    * distribution axis, same as every windowed operator here.
    */
  /** Seasonal-naive forecast backtest (the standard forecasting baseline
    * — Hyndman & Athanasopoulos' snaive): predict each (event_type, day)
    * cents total as the SAME WEEKDAY's total one week earlier, and score
    * the prediction per type as MAE and mean bias over every day with a
    * lag-7 ancestor. The readout a pipeline checks before shipping
    * anything fancier than the baseline.
    *
    * Exactness: daily totals are exact integer cents; a day forecasts
    * from an equi-join on (type, day−7) — a missing ancestor day drops
    * the row on both sides (inner join), never imputes; MAE/bias are one
    * rounded division each over exact integer sums.
    *
    * Scale shape: one (type, day) map-combined hash-agg over the corpus;
    * everything after rides the value-domain-bounded daily frame (fenced
    * — it is both the actual and the shifted ancestor side).
    */
  def seasonalNaive(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Dedup.fence(
      Tables.events(spark, sfDir)
        .groupBy(col("event_type"), to_date(col("ts_us")).as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents")),
      "event_type")
    val actual = daily.select(col("event_type"), col("day"), col("cents"))
    val lagged = daily.select(col("event_type"),
      date_add(col("day"), 7).as("day"), col("cents").as("fc"))
    actual.join(lagged, Seq("event_type", "day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("cents") - col("fc"))).as("sae"),
        sum(col("cents") - col("fc")).as("se"))
      .select(col("event_type"), col("n_days"),
        round(col("sae").cast("double") / col("n_days"), 6).as("mae_cents"),
        round(col("se").cast("double") / col("n_days"), 6).as("bias_cents"))
      .orderBy("event_type")
  }

  def ewmaPerUser(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(array_sort(collect_list(
        struct(col("ts"), col("event_id"), col("value")))).as("seq"))
      .select(col("user_id"),
        size(col("seq")).cast("long").as("n_events"),
        expr("""aggregate(
                  slice(transform(seq, s -> s.value), 2, size(seq) - 1),
                  seq[0].value,
                  (acc, x) -> 0.5D * x + 0.5D * acc)""").as("ewma"))
      .orderBy("user_id")

  /** [[ewmaPerUser]] at its 100 TB shape (VERDICT r11 ask #1): identical
    * semantics — SAME oracle — without materializing any per-user value
    * list. The collect_list form holds a user's ENTIRE history in one
    * aggregation buffer, so a hot key (a bot with 10⁸ events) OOMs the
    * executor; here events hash-partition by user and sort WITHIN
    * partitions by (user_id, ts, event_id) — the exact total order the
    * list form's array_sort and the oracle's `list(... ORDER BY ts,
    * event_id)` use — then one mapPartitions pass streams each user's run
    * through a TWO-double state machine (count, running ewma) and emits
    * one row per user at the boundary. This is the funnelFold pattern
    * ([[Funnels.funnelFold]]) applied to a sequential per-key fold:
    * constant memory per user regardless of history length, one hash
    * exchange (same shuffle volume as the list form), no global sort.
    *
    * Bit-identical doubles: the fold performs the same IEEE ops in the
    * same order as the HOF form — seed acc = first value, then
    * `0.5*x + 0.5*acc` per subsequent event — over the same
    * (ts, event_id)-sorted sequence (event_id is unique, so the order is
    * total and the extra `value` tie-key in the list form's struct sort
    * never decides).
    */
  def ewmaFold(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "ts", "event_id")
      .as[(Long, Long, Long, Double)]
      .mapPartitions(ewmaFoldPartition)
      .toDF("user_id", "n_events", "ewma")
      .orderBy("user_id")
  }

  /** One partition's EWMA fold: rows arrive grouped by user (hash
    * partitioning) and sorted by (user_id, ts, event_id); per user the
    * state is (count, running ewma) — two scalars, flushed at each user
    * boundary. Package-visible so WindowsSpec can drive it on a
    * synthetic hot-user fixture.
    */
  private[graft] def ewmaFoldPartition(
      it: Iterator[(Long, Long, Long, Double)]): Iterator[(Long, Long, Double)] =
    new Iterator[(Long, Long, Double)] {
      private var pending: Option[(Long, Long, Double)] = None
      private var nextUp: Option[(Long, Long, Double)] = None
      private def emit(): Unit = {
        // consume rows until a user boundary (or exhaustion) flushes
        // one output row; state is two scalars + the current key
        while (nextUp.isEmpty && (pending.nonEmpty || it.hasNext)) {
          var (cur, n, acc) = pending.getOrElse {
            val (u, _, _, v) = it.next(); (u, 1L, v)
          }
          pending = None
          var boundary = false
          while (!boundary && it.hasNext) {
            val (u, _, _, v) = it.next()
            if (u == cur) { n += 1; acc = 0.5d * v + 0.5d * acc }
            else { pending = Some((u, 1L, v)); boundary = true }
          }
          nextUp = Some((cur, n, acc))
        }
      }
      override def hasNext: Boolean = { emit(); nextUp.nonEmpty }
      override def next(): (Long, Long, Double) = {
        emit(); val r = nextUp.get; nextUp = None; r
      }
    }
}

/** Sort / limit / set-operation surface (SURVEY.md §2.B6). */
object SetOps {

  /** Global top-k: planner collapses orderBy+limit into
    * TakeOrderedAndProject — each partition keeps k rows, no global sort.
    */
  def topOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .limit(20)

  /** UNION ALL (bag semantics) of two heterogeneous-source projections. */
  def unionAll(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).filter(col("c_mktsegment") === "BUILDING")
      .select(lit("cust").as("kind"), col("c_name").as("name"), col("c_acctbal").as("bal"))
    val s = Tables.supplier(spark, sfDir).filter(col("s_acctbal") > 0)
      .select(lit("supp").as("kind"), col("s_name").as("name"), col("s_acctbal").as("bal"))
    c.unionByName(s).orderBy("kind", "name")
  }

  /** Schema-evolution union: unionByName with allowMissingColumns — the
    * shape a pipeline needs when a newer batch adds a column older data
    * lacks. Missing columns null-fill; output coalesces them to sentinels
    * so the oracle comparison stays deterministic.
    */
  def unionByNameEvolved(spark: SparkSession, sfDir: String): DataFrame = {
    val old = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val neu = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey").as("id"), col("s_name").as("name"),
        col("s_acctbal").as("bal"))
    old.unionByName(neu, allowMissingColumns = true)
      .select(col("id"), col("name"), coalesce(col("bal"), lit(-1.0)).as("bal"))
      .orderBy("name", "id")
  }

  /** INTERSECT (set semantics): nations present on both customer and
    * supplier side.
    */
  def intersectNations(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(col("c_nationkey").cast("long").as("nationkey"))
      .intersect(
        Tables.supplier(spark, sfDir).select(col("s_nationkey").cast("long").as("nationkey")))
      .orderBy("nationkey")

  /** EXCEPT (set semantics): nations with customers but no suppliers. */
  def exceptNations(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(col("c_nationkey").cast("long").as("nationkey"))
      .except(
        Tables.supplier(spark, sfDir).select(col("s_nationkey").cast("long").as("nationkey")))
      .orderBy("nationkey")

  /** DISTINCT projection (dropDuplicates over a 2-column key). */
  def distinctPairs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")
}
