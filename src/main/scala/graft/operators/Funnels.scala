package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Behavioral analytics over the `events` table: ordered-funnel conversion
  * and cohort retention — the two queries every event-warehouse engine ships
  * (cf. ClickHouse `windowFunnel`, BigQuery cohort templates), expressed as
  * plain Spark aggregations.
  */
object Funnels {

  /** Sentinel "stage not reached" timestamp (larger than any real ns ts).
    * Shared with the streaming funnel state machine. */
  private[graft] val Unreached = Long.MaxValue

  /** One event through the three-stage machine, against the PRE-event
    * state — the single step shared by [[funnel]]'s HOF fold semantics,
    * [[funnelFold]]'s partition fold, and the streaming funnel
    * (graft.streaming.StreamingOps.funnelStates). Events must be applied
    * in (ts, event_type) order.
    */
  private[graft] def stepEvent(v: Long, c: Long, p: Long,
                               ts: Long, et: String): (Long, Long, Long) =
    if (v == Unreached && et == "view") (ts, c, p)
    else if (v != Unreached && c == Unreached && et == "click" && ts > v) (v, ts, p)
    else if (c != Unreached && p == Unreached && et == "purchase" && ts > c) (v, c, ts)
    else (v, c, p)

  /** Ordered funnel view → click → purchase with strict temporal order:
    * stage N+1 counts a user only if their earliest qualifying event is
    * STRICTLY after the timestamp that satisfied stage N. Emits one row per
    * stage: (stage, stage_ord, n_users).
    *
    * Scale shape: ONE shuffle — events group to their user, each user's
    * (bounded) event list is sorted in-group, and a codegen'd `aggregate`
    * HOF folds it into the three stage timestamps; the stage counts are a
    * map-side-partial global aggregate over one row per user. No self-joins
    * (the naive 3-way `events ⋈ events ⋈ events` repeats the fact scan and
    * shuffles it three times). Per-user lists are the same boundedness
    * assumption sessionization makes; [[funnelFold]] is the same query
    * with that assumption removed (sort-within-partitions + mapPartitions
    * fold, O(1) per-user state), sharing this oracle.
    */
  /** The per-user three-stage fold — one row per user with the stage
    * timestamps struct `f(v, c, p)` — factored out so [[funnel]] (stage
    * counts) and [[funnelLatency]] (time-to-convert) provably run the
    * SAME earliest-qualifying semantics (the spirit of [[stepEvent]],
    * which factors the scalar step for the streaming twin). */
  private[graft] def foldStages(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .groupBy("user_id")
      .agg(aggregate(
        sort_array(collect_list(struct(col("ts"), col("event_type")))),
        struct(lit(Unreached).as("v"), lit(Unreached).as("c"),
          lit(Unreached).as("p")),
        (acc, e) => {
          val ts = e.getField("ts")
          val et = e.getField("event_type")
          struct(
            when(acc.getField("v") === Unreached && et === "view", ts)
              .otherwise(acc.getField("v")).as("v"),
            when(acc.getField("v") =!= Unreached &&
              acc.getField("c") === Unreached &&
              et === "click" && ts > acc.getField("v"), ts)
              .otherwise(acc.getField("c")).as("c"),
            when(acc.getField("c") =!= Unreached &&
              acc.getField("p") === Unreached &&
              et === "purchase" && ts > acc.getField("c"), ts)
              .otherwise(acc.getField("p")).as("p"))
        }).as("f"))

  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val folded = foldStages(spark, sfDir)
    folded
      .agg(
        sum(when(col("f.v") =!= Unreached, 1L).otherwise(0L)).as("nv"),
        sum(when(col("f.c") =!= Unreached, 1L).otherwise(0L)).as("nc"),
        sum(when(col("f.p") =!= Unreached, 1L).otherwise(0L)).as("np"))
      .selectExpr("stack(3, 'view', 1, nv, 'click', 2, nc, 'purchase', 3, np)" +
        " AS (stage, stage_ord, n_users)")
      .orderBy("stage_ord")
  }

  /** The funnel at its 100 TB shape: identical semantics to [[funnel]] —
    * same oracle — computed WITHOUT materializing any per-user event list.
    * Events hash-partition by user and sort WITHIN partitions by
    * (user_id, ts, event_type) — the same (ts, event_type) order the
    * fold's sort_array uses, partition-local, never a global sort — then
    * one mapPartitions pass streams each user's run of rows through the
    * three-stage state machine holding THREE longs of state, and emits one
    * partial (nv, nc, np) row per partition. A user with millions of
    * events costs millions of streamed rows and constant memory, where
    * [[funnel]]'s collect_list would blow its aggregation buffer — this is
    * the "sort-within-partitions + mapPartitions fold" alternative that
    * funnel's scaladoc names, promoted to a registered, oracle-checked
    * query. Shuffle volume matches funnel's (one hash exchange of the
    * fact); the final aggregate reads partitions-many rows.
    *
    * FunnelsSpec additionally pins the hot-user case: a synthetic user
    * with a long event stream folds in O(1) state and agrees with the
    * list-based reference.
    */
  def funnelFold(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val partials = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "ts", "event_type")
      .as[(Long, Long, String)]
      .mapPartitions(it => Iterator.single(foldPartition(it)))
      .toDF("nv", "nc", "np")
    partials
      .agg(sum("nv").as("nv"), sum("nc").as("nc"), sum("np").as("np"))
      .selectExpr("stack(3, 'view', 1, nv, 'click', 2, nc, 'purchase', 3, np)" +
        " AS (stage, stage_ord, n_users)")
      .orderBy("stage_ord")
  }

  /** One partition's funnel fold: rows arrive grouped by user (hash
    * partitioning) and sorted by (user_id, ts, event_type); per user the
    * state is three stage timestamps, flushed into the partition's three
    * counters at each user boundary. Exactly [[funnel]]'s per-event update
    * — each event's type fires at most one transition, tested against the
    * PRE-event state.
    */
  private[graft] def foldPartition(it: Iterator[(Long, Long, String)]): (Long, Long, Long) = {
    var nv = 0L; var nc = 0L; var np = 0L
    var cur = 0L
    var any = false
    var v = Unreached; var c = Unreached; var p = Unreached
    def flush(): Unit = {
      if (v != Unreached) nv += 1
      if (c != Unreached) nc += 1
      if (p != Unreached) np += 1
    }
    while (it.hasNext) {
      val (u, ts, et) = it.next()
      if (!any || u != cur) {
        if (any) flush()
        cur = u; any = true
        v = Unreached; c = Unreached; p = Unreached
      }
      val s = stepEvent(v, c, p, ts, et)
      v = s._1; c = s._2; p = s._3
    }
    if (any) flush()
    (nv, nc, np)
  }

  /** Markov transition matrix over the event stream: counts of consecutive
    * (prev_type → next_type) pairs per user timeline — the table behind
    * "what do users do after X" and the input to any sequence model over
    * behavioral data.
    *
    * Scale shape: one shuffle (the per-user window); `lag` streams over
    * each sorted partition with O(1) state — no per-user list
    * materialization, so unbounded user timelines are fine (unlike the
    * funnel fold's bounded-list assumption). The output matrix is
    * |types|² — constant at any corpus size. Ordering ties broken by
    * event_id on BOTH engines so pair composition is deterministic at
    * equal timestamps.
    */
  def transitions(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("prev_type", "next_type")
  }

  private val NsPerDay = 86400000000000L

  /** Z-score outlier detection: events whose `value` sits ≥ 2 standard
    * deviations from their event_type's mean — the simplest anomaly
    * monitor an event warehouse runs continuously.
    *
    * Scale shape: the per-type statistics are ONE map-side-partial
    * aggregate producing a types-sized frame (single digits of rows at any
    * corpus size), broadcast back onto the fact scan — the fact never
    * shuffles. Float discipline: mean and variance derive from exact
    * DECIMAL sums of value and value² (each product is one deterministic
    * IEEE multiply, rounded once into a decimal), so the scalar math that
    * follows sees bit-identical inputs in Spark and the DuckDB oracle; the
    * z-score is rounded to 4 dp BEFORE the ≥2 threshold so the filter
    * decision is made on identical values in both engines.
    */
  def anomalyZscore(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val stats = ev.groupBy(col("event_type").as("t"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("s1"),
        sum((col("value") * col("value")).cast("decimal(28,12)")).as("s2"))
    ev.join(broadcast(stats), col("event_type") === col("t"))
      .withColumn("mean", col("s1").cast("double") / col("n"))
      .withColumn("variance",
        (col("s2").cast("double") - col("n") * col("mean") * col("mean"))
          / (col("n") - 1))
      .withColumn("z", round((col("value") - col("mean")) / sqrt(col("variance")), 4))
      .filter(abs(col("z")) >= 2.0)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy("event_id")
  }

  /** A/B experiment readout: Welch's unequal-variance t statistic per
    * event type, comparing mean event value between the two assignment
    * arms (variant = user_id parity — the deterministic hash-assignment
    * every experimentation platform uses). ONE two-phase hash aggregate
    * computes both arms' exact sufficient statistics via conditional
    * sums (n, Σy, Σy² per arm, y = value cents as DECIMAL(38,0) — the
    * q_ols_trend discipline: products formed in decimal, overflow
    * surfaces as NULL, never a wrong answer); the Welch formula then
    * runs in a fixed IEEE op order on one decimal→double cast per term,
    * so t is bit-deterministic cross-engine. The significance verdict is
    * made on the 4-dp-ROUNDED t (the anomalyZscore pattern) so both
    * engines decide the boolean on identical values.
    *
    * Scale shape: identical to q1_agg — the fact scan partial-aggregates
    * map-side to |event_types| × 7 cells per task; no join, no second
    * pass. FunnelsSpec cross-checks an independent driver-side Welch.
    */
  def abtestWelch(spark: SparkSession, sfDir: String): DataFrame =
    welchOf(Tables.events(spark, sfDir).select(
      col("event_type"),
      (col("user_id") % 2 === 0).as("va"),
      expr("CAST(round(value * 100) AS BIGINT)").cast("decimal(38,0)").as("y")))

  /** The Welch readout on any (event_type, va, y) observation frame —
    * factored out so FunnelsSpec can plant degenerate arms (empty,
    * single-sample, zero-variance) and assert the NULL guards directly. */
  private[graft] def welchOf(ev: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val zero = lit(0).cast(dec)
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    val s = ev.groupBy("event_type").agg(
      sum(when(col("va"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("va"), 1L).otherwise(0L)).as("n_b"),
      sum(when(col("va"), col("y")).otherwise(zero)).as("s_a"),
      sum(when(!col("va"), col("y")).otherwise(zero)).as("s_b"),
      sum(when(col("va"), col("y") * col("y")).otherwise(zero)).as("ss_a"),
      sum(when(!col("va"), col("y") * col("y")).otherwise(zero)).as("ss_b"))
    // every division sits INSIDE a lazily-evaluated `when` branch: a
    // degenerate arm (empty, single-sample, zero pooled variance) must
    // yield NULL without the division ever running — under Spark's
    // default ANSI mode a zero divisor THROWS (non-ANSI NULLs it, DuckDB
    // emits NaN/inf; the guard is identical in the oracle so all modes
    // agree on NULL). `significant` inherits NULL from t.
    s.select(col("event_type"), col("n_a"), col("n_b"),
        when(col("n_a") > 0, d(col("s_a")) / d(col("n_a"))).as("m_a"),
        when(col("n_b") > 0, d(col("s_b")) / d(col("n_b"))).as("m_b"),
        when(col("n_a") > 1,
          (d(col("ss_a")) - d(col("s_a")) * d(col("s_a")) / d(col("n_a")))
            / d(col("n_a") - 1)).as("v_a"),
        when(col("n_b") > 1,
          (d(col("ss_b")) - d(col("s_b")) * d(col("s_b")) / d(col("n_b")))
            / d(col("n_b") - 1)).as("v_b"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("m_a"), 4).as("mean_a_cents"),
        round(col("m_b"), 4).as("mean_b_cents"),
        round(when(col("n_a") > 1 && col("n_b") > 1
            && (col("v_a") / d(col("n_a")) + col("v_b") / d(col("n_b"))) > 0,
          (col("m_a") - col("m_b"))
            / sqrt(col("v_a") / d(col("n_a")) + col("v_b") / d(col("n_b")))), 4)
          .as("t_welch"))
      .withColumn("significant", abs(col("t_welch")) >= 1.96)
      .orderBy("event_type")
  }

  /** Two-sample KOLMOGOROV–SMIRNOV test per event type between the same
    * user-parity arms as [[abtestWelch]] — the distribution-shape
    * companion to the mean test (an arm can shift shape without moving
    * the mean; KS catches it). The statistic is computed EXACTLY in
    * integers: on the per-(type, cents) value histogram with per-arm
    * conditional counts, the ECDF gap at value v is
    * |cumA·nB − cumB·nA| / (nA·nB) — numerator and denominator are exact
    * DECIMAL(38,0) products, the max is taken over the integer
    * numerators, and ONE decimal→double division emits the statistic.
    * The α=0.05 verdict compares the 6-dp-rounded statistic against the
    * 6-dp-rounded large-sample critical value 1.36·√((nA+nB)/(nA·nB)) so
    * both engines decide the boolean on identical values.
    *
    * 100 TB shape: the raw scan collapses map-side to the
    * (type × distinct-cents) histogram; the cumulative window and max
    * ride that value-domain frame — the median-hist stance.
    */
  def ksTest(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val hist = Tables.events(spark, sfDir)
      .select(col("event_type"),
        (col("user_id") % 2 === 0).as("va"),
        expr("CAST(round(value * 100) AS BIGINT)").as("y"))
      .groupBy("event_type", "y")
      .agg(sum(when(col("va"), 1L).otherwise(0L)).cast(dec).as("ca"),
        sum(when(!col("va"), 1L).otherwise(0L)).cast(dec).as("cb"))
    val cumW = Window.partitionBy("event_type").orderBy("y")
      .rowsBetween(Window.unboundedPreceding, 0)
    val totW = Window.partitionBy("event_type")
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    hist
      .withColumn("cum_a", sum(col("ca")).over(cumW))
      .withColumn("cum_b", sum(col("cb")).over(cumW))
      .withColumn("na", sum(col("ca")).over(totW))
      .withColumn("nb", sum(col("cb")).over(totW))
      .groupBy("event_type")
      .agg(max(col("na")).as("n_a"), // constant per type
        max(col("nb")).as("n_b"),
        max(abs(col("cum_a") * col("nb") - col("cum_b") * col("na"))).as("dmax"))
      .select(col("event_type"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        // an empty arm makes the statistic undefined — NULL in both
        // engines (the abtestWelch degenerate-arm discipline)
        round(when(col("n_a") > 0 && col("n_b") > 0,
          d(col("dmax")) / (d(col("n_a")) * d(col("n_b")))), 6).as("ks"),
        round(when(col("n_a") > 0 && col("n_b") > 0,
          lit(1.36) * sqrt((d(col("n_a")) + d(col("n_b")))
            / (d(col("n_a")) * d(col("n_b"))))), 6).as("crit_05"))
      .withColumn("significant", col("ks") > col("crit_05"))
      .orderBy("event_type")
  }

  /** MULTI-TOUCH ATTRIBUTION: credit each purchase ("conversion") to the
    * user's touchpoint events in the 7-day lookback window, under the
    * three standard models at once — first-touch, last-touch, and linear.
    * Linear credit is kept EXACT as integer parts-per-million
    * (1 000 000 div k for a k-touch conversion — the remainder is dropped
    * identically in both engines, never a float 1/k whose sum is
    * order-dependent), so every output cell is integer arithmetic.
    * Ties inside a conversion's touch list break on (ts, event_id),
    * mirrored in the oracle.
    *
    * Scale shape: conversions and touchpoints co-partition on user_id, so
    * the lookback join is a hash equi-join with a range residual; fan-out
    * per user is (conversions × events in window) — lookback-bounded per
    * conversion, and a hot user's history splits across the banded
    * range-join pattern (q_range_join_banded) if ever needed. The final
    * aggregate is |touch types| × 3 models.
    */
  def attribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"), col("ts").as("conv_ts"))
    val touches = ev.join(conv, "user_id")
      .filter(col("ts") >= col("conv_ts") - lit(7 * NsPerDay)
        && col("ts") < col("conv_ts"))
    val perConv = touches.groupBy("conv_id")
      .agg(count(lit(1)).as("k"),
        min(struct(col("ts"), col("event_id"), col("event_type"))).as("first"),
        max(struct(col("ts"), col("event_id"), col("event_type"))).as("last"))
    val linear = touches.join(perConv.select("conv_id", "k"), "conv_id")
      .groupBy(col("event_type").as("touch_type"))
      .agg(sum(expr("1000000 div k")).as("linear_ppm"),
        count(lit(1)).as("n_touches"))
    val firsts = perConv.groupBy(col("first.event_type").as("touch_type"))
      .agg(count(lit(1)).as("first_touch"))
    val lasts = perConv.groupBy(col("last.event_type").as("touch_type"))
      .agg(count(lit(1)).as("last_touch"))
    linear
      .join(firsts, Seq("touch_type"), "left")
      .join(lasts, Seq("touch_type"), "left")
      .select(col("touch_type"), col("n_touches"), col("linear_ppm"),
        coalesce(col("first_touch"), lit(0L)).as("first_touch"),
        coalesce(col("last_touch"), lit(0L)).as("last_touch"))
      .orderBy("touch_type")
  }

  /** CUSUM CHANGEPOINT: per event type, the hour where the cumulative sum
    * of hourly value departs furthest from the constant-mean line — the
    * classic single-changepoint locator (Page 1954) every metrics monitor
    * runs. The deviation at prefix k of n points with prefix sum Pₖ and
    * total T is usually written Pₖ − k·T/n; scaled by n it becomes
    * n·Pₖ − k·T — EXACT INTEGER arithmetic over DECIMAL(38,0), so the
    * argmax (earliest hour on ties, via a struct max on (dev, −h)) is
    * bit-deterministic cross-engine with no float anywhere. The emitted
    * magnitude is that scaled deviation in cents·hours (fits a long
    * comfortably here; a 100 TB deployment would emit it as decimal or
    * normalize to mean-shift units).
    *
    * 100 TB shape: the raw scan collapses map-side to the (type × hour)
    * frame (time-bounded, the q_gapfill stance); windows and argmax ride
    * that domain frame only.
    */
  def cusumChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val hourly = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts_sec div 3600").as("h"),
        expr("CAST(round(value * 100) AS BIGINT)").as("y"))
      .groupBy("event_type", "h")
      .agg(sum(col("y").cast(dec)).as("x"))
    val ord = Window.partitionBy("event_type").orderBy("h")
    val cum = ord.rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy("event_type")
    hourly
      .withColumn("k", row_number().over(ord).cast("long").cast(dec))
      .withColumn("p", sum(col("x")).over(cum))
      .withColumn("n", count(lit(1)).over(tot).cast(dec))
      .withColumn("t", sum(col("x")).over(tot))
      .withColumn("dev", abs(col("n") * col("p") - col("k") * col("t")))
      .groupBy("event_type")
      .agg(max(col("n").cast("long")).as("n_hours"), // constant per type
        max(struct(col("dev").as("d"), (-col("h")).as("nh"))).as("top"))
      .select(col("event_type"), col("n_hours"),
        (-col("top.nh") * 3600).as("cp_hour_sec"),
        col("top.d").cast("long").as("dev_cents_hours"))
      .orderBy("event_type")
  }

  /** NEW vs RETURNING users per day — the daily product-health split
    * ([[retention]]'s companion: that grid follows cohorts forward, this
    * classifies each active day's users by whether it is their first).
    * Same scale shape as retention: first-day aggregate and activity
    * join both key on user_id (one logical fact shuffle), final frame is
    * day-domain sized, all counts exact integers.
    */
  def newVsReturning(spark: SparkSession, sfDir: String): DataFrame = {
    val active = Tables.events(spark, sfDir)
      .select(col("user_id"), expr(s"ts div $NsPerDay").as("day"))
      .distinct()
    val first = active.groupBy("user_id").agg(min("day").as("d0"))
    active.join(first, "user_id")
      .groupBy("day")
      .agg(sum(when(col("day") === col("d0"), 1L).otherwise(0L)).as("new_users"),
        sum(when(col("day") =!= col("d0"), 1L).otherwise(0L)).as("returning_users"))
      .orderBy("day")
  }

  /** Classic cohort-retention grid: cohort = the epoch-day of a user's first
    * event; one row per (cohort_day, day_offset) with the count of distinct
    * cohort users active that day.
    *
    * Scale shape: both the first-event aggregate and the activity join key
    * on user_id, so the join reuses the groupBy's hash partitioning (one
    * logical shuffle of the fact, AQE-coalesced); the final grid aggregate
    * is over (days × offsets) — tiny. The distinct-user count is exact with
    * a plain count() because activity is pre-deduplicated to one row per
    * (user, day) — that distinct partial-aggregates map-side, unlike a
    * countDistinct pushed into the grid aggregate.
    */
  def retention(spark: SparkSession, sfDir: String): DataFrame = {
    val active = Tables.events(spark, sfDir)
      .select(col("user_id"), expr(s"ts div $NsPerDay").as("day"))
      .distinct()
    val cohorts = active.groupBy("user_id").agg(min("day").as("cohort_day"))
    active.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** FUNNEL LATENCY: the time-to-convert distribution for users completing
    * the full view→click→purchase machine — the stage counts say HOW MANY
    * convert, this says HOW FAST (the number a growth team actually acts
    * on). Converters and their stage timestamps come from the SAME fold
    * as [[funnel]] (earliest-qualifying semantics, proven equal to the
    * min-chain by q_funnel's oracle); whole-second latencies then collapse
    * to a value histogram and the exact integer rank rules read the
    * quantiles off it — the medianHist stance: a pile-up of converters at
    * one latency costs its histogram cell, never a sorted value list.
    * Median emits as lo+hi (integer-exact), p95 by nearest rank
    * (smallest v with 100·cum ≥ 95·n).
    */
  def funnelLatency(spark: SparkSession, sfDir: String): DataFrame = {
    // the histogram is distinct-latency-sized (domain-bounded); the
    // shared rank readout runs on it under a constant key
    val hist = foldStages(spark, sfDir).filter(col("f.p") =!= Unreached)
      .select(expr("(f.p - f.v) div 1000000000").as("v")) // integer div: no float
      .groupBy("v").agg(count(lit(1)).as("c"))
    Aggregates.histRankStatsGlobal(hist)
      .select(col("n").as("n_converted"), col("med_x2").as("med_x2_sec"),
        col("p95").as("p95_sec"), col("max_v").as("max_sec"))
  }

  /** SURVIVAL CURVE (discrete Kaplan–Meier life table): time from first
    * view to the first BIG purchase (value > 90 — the q_wilson_ci
    * conversion event) in whole days, WITH censoring — the analysis
    * funnelLatency cannot do, because latency quantiles see only
    * converters while the survival table counts everyone who entered:
    * per day-offset k, the number still at risk (neither converted nor
    * censored before k), the conversions at k, and the censorings at k
    * (non-converters leave the study at the last observed day). The
    * big-purchase event matters: EVERY entrant in this dense synthetic
    * data completes a plain purchase, which would make the censoring
    * column identically zero and the life table a latency histogram in
    * disguise (the drawdown lesson: a statistic whose distinguishing
    * branch never fires verifies nothing — FunnelsSpec asserts both
    * branches occur). At-risk is the suffix sum over the offset
    * histogram — a DESCENDING cumulative window on the day-domain frame,
    * exact integers throughout; the KM product estimator Π(1 − dₖ/nₖ)
    * is the caller's one float fold, deliberately not emitted
    * (cross-engine product-chain hazard for zero information). Plan:
    * entry and conversion are two user-co-partitioned aggregates (the
    * event filter rides the entry join), then one domain-frame window.
    */
  def survivalCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val entry = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("v"))
    val conv = ev.filter(col("event_type") === "purchase" && col("value") > 90.0)
      .join(entry, "user_id")
      .filter(col("ts") > col("v"))
      .groupBy("user_id").agg(min(col("ts")).as("p"))
    val horizon = ev.agg(max(expr("ts div 86400000000000")).as("max_day"))
    val obs = entry.join(conv, Seq("user_id"), "left")
      .crossJoin(broadcast(horizon)) // scalar horizon
      .select(
        when(col("p").isNotNull, expr("(p - v) div 86400000000000")).as("conv_k"),
        when(col("p").isNull,
          col("max_day") - expr("v div 86400000000000")).as("cens_k"))
    val hist = obs
      .select(coalesce(col("conv_k"), col("cens_k")).as("k"),
        when(col("conv_k").isNotNull, 1L).otherwise(0L).as("d"),
        when(col("conv_k").isNull, 1L).otherwise(0L).as("c"))
      .groupBy("k").agg(sum(col("d")).as("n_converted"),
        sum(col("c")).as("n_censored"))
    // at-risk at k = everyone whose event or censoring lands at ≥ k:
    // a descending suffix sum over the (tiny) offset-domain frame
    val suffix = Window.orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    hist
      .withColumn("n_at_risk",
        sum(col("n_converted") + col("n_censored")).over(suffix))
      .select("k", "n_at_risk", "n_converted", "n_censored")
      .orderBy("k")
  }

  /** LTV COHORT CURVE: cumulative purchase revenue per acquisition cohort
    * over days-since-first-seen — the lifetime-value readout every growth
    * model calibrates against ([[retention]] counts who comes back, this
    * prices what they spend). Cohort = first ACTIVITY day (any event
    * type, retention's definition); revenue = purchase-event cents summed
    * exactly as integers. One user_id exchange produces both the cohort
    * map and the per-(user, day) revenue; the (cohort × offset) frame is
    * calendar²-bounded, so the running sum rides a domain-sized window.
    */
  def ltvCohort(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr(s"ts div $NsPerDay").as("day"),
        col("event_type"), col("value"))
    val cohorts = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    val revenue = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "day")
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    import org.apache.spark.sql.expressions.Window
    val cumW = Window.partitionBy("cohort_day").orderBy("day_offset")
      .rowsBetween(Window.unboundedPreceding, 0)
    revenue.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_user_days"),
        sum(col("cents")).as("cents"))
      .withColumn("cum_cents", sum(col("cents")).over(cumW))
      .orderBy("cohort_day", "day_offset")
  }

  /** Session gap for [[sessionPaths]] — 10 minutes in ns, the same gap the
    * q_sessions_10m family sessionizes on. */
  val SessionGapNs = 600000000000L

  /** SESSION PATH ANALYSIS (r11): the top-20 user-journey shapes — each
    * 10-minute-gap session rendered as its ordered `event_type` chain
    * (`view>click>purchase`), counted across all sessions. The product
    * question behind funnel design: which journeys actually happen, at
    * what volume. Completes the behavioral family: q_funnel fixes a path
    * and counts survivors; this discovers the paths.
    *
    * Scale shape: sessionize with the lag/running-sum algebra (clusters
    * on user_id — shares the one exchange with both windows), fold each
    * session to its path with a sorted `collect_list` (state bounded per
    * SESSION, the 10-minute gap bounds it the way watermarks bound the
    * streaming twin), then a path-keyed count whose key domain is the
    * observed journey vocabulary — a Heaps-style frame, far below the
    * session count. `TakeOrderedAndProject` serves the top-20. Ordering
    * ties are pinned by (ts, event_id) in BOTH engines, so the path
    * strings are deterministic.
    */
  def sessionPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val runSum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val newsess = when(lag(col("ts"), 1).over(byUser).isNull
      || col("ts") - lag(col("ts"), 1).over(byUser) >= SessionGapNs, 1L).otherwise(0L)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("sid", sum(newsess).over(runSum))
      .groupBy("user_id", "sid")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          x => x("event_type")), ">").as("path"),
        count(lit(1)).as("len"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"), sum(col("len")).as("n_events"))
      .orderBy(desc("n_sessions"), asc("path"))
      .limit(20)
  }

  /** SESSION STATISTICS: the duration/depth distribution of 10-minute-gap
    * sessions — [[sessionPaths]] discovers the journey SHAPES, this sizes
    * the journeys (the p50/p95 a capacity planner and a UX team both
    * read). Sessionization rides the same single user_id exchange
    * (lag + running-sum), each session folds to (duration_sec, depth) in
    * the same pass, and BOTH quantile readouts come off value histograms
    * with the exact integer rank rules — a million same-length sessions
    * cost two histogram cells, never a sorted list. One row out: depth
    * and duration p50 (lo+hi) / p95 / max, plus the session count.
    */
  def sessionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val runSum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val newsess = when(lag(col("ts"), 1).over(byUser).isNull
      || col("ts") - lag(col("ts"), 1).over(byUser) >= SessionGapNs, 1L).otherwise(0L)
    val sessions = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("sid", sum(newsess).over(runSum))
      .groupBy("user_id", "sid")
      .agg(expr("(max(ts) - min(ts)) div 1000000000").as("dur_sec"),
        count(lit(1)).as("depth"))
    def rankStats(vals: DataFrame, v: String): DataFrame =
      Aggregates.histRankStatsGlobal(
          vals.groupBy(col(v).as("v")).agg(count(lit(1)).as("c")))
        .select(col("n"), col("med_x2").as(s"med_x2_$v"),
          col("p95").as(s"p95_$v"), col("max_v").as(s"max_$v"))
    val dur = rankStats(sessions.select("dur_sec"), "dur_sec")
      .withColumnRenamed("n", "n_sessions")
    val dep = rankStats(sessions.select("depth"), "depth").drop("n")
    dur.crossJoin(dep) // two single-row frames
  }

  /** Rolling DAU / trailing-7-day WAU / stickiness per day — the
    * engagement readout every product dashboard serves. Distinct-over-a-
    * sliding-window does NOT map-side combine (distinct sets are not
    * additive), so the scale shape is the standard shifted-expansion: the
    * (day, user) DISTINCT frame (value-domain-bounded: days × active
    * users, far under raw events) expands each row to the 7 target days
    * it supports — a map-side `sequence`+`explode`, fan-out exactly 7 —
    * pruned to observed days by a broadcast of the day domain, then one
    * exact distinct per target day. DAU rides the same fenced frame.
    * Stickiness = one fixed-order rounded division. At 100 TB the
    * (day, user) frame is the artifact to maintain incrementally (one
    * partition per day, appends never rewrite history) and the 7× fan-out
    * is unchanged.
    */
  def rollingDau(spark: SparkSession, sfDir: String): DataFrame =
    dauOf(dayUserFrame(spark, sfDir))

  /** The (day, user_id) distinct activity frame [[rollingDau]] rides —
    * factored out so the stored-artifact variant folds the same frame. */
  private[graft] def dayUserFrame(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(expr("ts div 86400000000000").as("day"), col("user_id"))
      .distinct()

  /** Exact trailing-7-day distinct users per observed day — the shifted
    * expansion on any FENCED distinct (day, user_id) frame. Factored out
    * so [[dauOf]]'s readout and [[rollingDauHll]]'s exact companion are
    * the same code (a window-length change cannot desynchronize them). */
  private def trailingWau(ud: DataFrame): DataFrame = {
    val days = ud.select("day").distinct()
    ud.select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("day"))
      .join(broadcast(days), "day")
      .groupBy("day").agg(countDistinct("user_id").as("wau"))
  }

  /** The DAU/WAU/stickiness readout on any (day, user_id) DISTINCT frame
    * (callers must pre-distinct — the fence here only repartitions and
    * persists) — shared by the scan-time build and the stored-artifact
    * serve. */
  private[graft] def dauOf(ud0: DataFrame): DataFrame = {
    val ud = Dedup.fence(ud0, "day")
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    dau.join(trailingWau(ud), "day")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
      .orderBy("day")
  }

  /** Session-scoped STORED (day, user_id) activity artifact: the distinct
    * frame for every day before the last observed UTC day is written once,
    * PARTITIONED BY day, then the final day's batch is APPENDED — two
    * physically separate writes into disjoint day partitions, exactly how
    * a nightly job maintains the artifact (appends never rewrite history).
    * The cutoff scalar is one bounded single-row-aggregate collect,
    * memoized.
    */
  private val dayUserStoreMemo = new SessionMemo[String, String]

  private[graft] def dayUserStore(spark: SparkSession, sfDir: String): String =
    dayUserStoreMemo.dir(spark, sfDir, "graft-dau-frame") { dir =>
      // fenced: the max-day collect and the two writes are three separate
      // JOBS — unfenced they would each rescan events and redo the
      // distinct (exchange reuse never applies across jobs; review r11).
      // Unpersisted after: the build frame is never read again.
      val ud = Dedup.fence(dayUserFrame(spark, sfDir), "day")
      try {
        val maxDay = ud.agg(max("day")).head.getLong(0)
        ud.filter(col("day") < maxDay)
          .write.partitionBy("day").mode("overwrite").parquet(dir)
        ud.filter(col("day") === maxDay)
          .write.partitionBy("day").mode("append").parquet(dir)
      } finally ud.unpersist()
    }

  /** INCREMENTAL rolling DAU (the maintenance shape [[rollingDau]]'s
    * scaladoc promises): serve DAU/WAU/stickiness purely from the stored
    * day-partitioned artifact after appending the last day's batch —
    * hash-checked against the full-rebuild oracle (q_rolling_dau's SQL),
    * so the appended artifact provably holds the whole history. At 100 TB
    * the nightly append touches one day's events; the serve never rescans
    * the fact table. Partition-column note: `day` comes back from the
    * partitioned read as its directory value — cast to long to keep the
    * frame's schema identical to the scan-time build's.
    */
  def rollingDauIncremental(spark: SparkSession, sfDir: String): DataFrame =
    dauOf(Tables.cachedScan(spark, dayUserStore(spark, sfDir))
      .select(col("day").cast("long").as("day"), col("user_id")))

  /** SKETCHED rolling WAU — the mergeable-summary answer to the fact that
    * exact distinct-over-a-sliding-window cannot map-side combine: per-day
    * Datasketches HLL sketches of the user set DO partial-aggregate
    * map-side (sketches are additive; [[rollingDau]]'s distinct sets are
    * not), and the trailing-7-day union then fans out |days| SKETCH ROWS
    * ×7 — a few KB each — instead of the (day, user) frame. At 100 TB the
    * exact form shuffles the active-user frame 7×; this shape shuffles
    * ~210 sketch rows total, the difference between a reporting query and
    * a recurring cluster job. BRACKET ORACLE like q_hll_cube: the exact
    * WAU companion and the day-window grain are portable; the estimate is
    * asserted within 10% (lgConfigK=12 → rsd ≈ 1.6%, a ≥6σ envelope).
    */
  def rollingDauHll(spark: SparkSession, sfDir: String): DataFrame = {
    val est = rollingWauSketch(spark, sfDir)
    val exact = trailingWau(Dedup.fence(dayUserFrame(spark, sfDir), "day"))
      .withColumnRenamed("wau", "exact_wau")
    est.join(exact, "day")
      .select(col("day"), col("days_in_window"), col("exact_wau"),
        (abs(col("est") - col("exact_wau")).cast("double")
          <= col("exact_wau").cast("double") * 0.10).as("sketch_within_10pct"))
      .orderBy("day")
  }

  /** The SERVING path of the sketched WAU alone — per-day sketches
    * straight off the raw events (no (day, user) distinct frame anywhere:
    * hll partials combine map-side to ≤&#8203;|days| cells per task), then
    * the 7-day shift over SKETCH ROWS. Factored out so ScaleCurve can
    * price exactly this path against the exact form's user-frame
    * expansion. */
  private[graft] def rollingWauSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val daySketch = Dedup.fence(
      Tables.events(spark, sfDir)
        .select(expr("ts div 86400000000000").as("day"), col("user_id"))
        .groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sketch")),
      "day")
    val days = daySketch.select("day")
    daySketch
      .select(explode(sequence(col("day"), col("day") + 6)).as("day"), col("sketch"))
      .join(broadcast(days), "day")
      .groupBy("day")
      .agg(count(lit(1)).as("days_in_window"),
        hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est"))
  }

  /** Conversion-rate experiment readout with WILSON score intervals and
    * the pooled two-proportion z test — the proportions sibling of
    * [[abtestWelch]] (means) and [[ksTest]] (shapes). Converted = the user
    * produced at least one purchase event with value > 90 (a "big
    * purchase"); arms are the same deterministic user-parity assignment.
    * Wilson beats the naive ±1.96·√(p(1−p)/n) Wald interval near 0/1 and
    * never leaves [0,1] (Wilson 1927; Brown–Cai–DasGupta 2001 recommend
    * it outright). One row carries both arms: per-user conversion flags
    * fold in ONE user_id exchange (max-of-flag per user), then a single
    * map-side-partial global aggregate emits both arms' (n, x) via
    * conditional sums; every derived double follows a fixed IEEE op order
    * mirrored token-for-token in the oracle, rounded to 6 dp, and the
    * significance verdict compares the 4-dp-rounded z (the house
    * discipline: both engines decide booleans on identical values).
    */
  def wilsonCi(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .select(col("user_id"),
        (col("event_type") === "purchase" && col("value") > 90.0).as("conv"))
      .groupBy("user_id")
      .agg(max(col("conv")).as("converted"))
      .withColumn("va", col("user_id") % 2 === 0)
    val counts = perUser.agg(
      sum(when(col("va"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("va"), 1L).otherwise(0L)).as("n_b"),
      sum(when(col("va") && col("converted"), 1L).otherwise(0L)).as("x_a"),
      sum(when(!col("va") && col("converted"), 1L).otherwise(0L)).as("x_b"))
    val z = lit(1.96)
    def wilson(x: org.apache.spark.sql.Column, n0: org.apache.spark.sql.Column) = {
      val n = n0.cast("double")
      val p = x.cast("double") / n
      val denom = lit(1.0) + z * z / n
      val center = (p + z * z / (lit(2.0) * n)) / denom
      val half = z * sqrt(p * (lit(1.0) - p) / n + z * z / (lit(4.0) * n * n)) / denom
      (round(p, 6), round(center - half, 6), round(center + half, 6))
    }
    val (pa, loA, hiA) = wilson(col("x_a"), col("n_a"))
    val (pb, loB, hiB) = wilson(col("x_b"), col("n_b"))
    val pPool = (col("x_a") + col("x_b")).cast("double") / (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pPool * (lit(1.0) - pPool)
      * (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    val zStat = round((col("x_a").cast("double") / col("n_a").cast("double")
      - col("x_b").cast("double") / col("n_b").cast("double")) / se, 4)
    counts.select(col("n_a"), col("x_a"), pa.as("p_a"),
        loA.as("wilson_lo_a"), hiA.as("wilson_hi_a"),
        col("n_b"), col("x_b"), pb.as("p_b"),
        loB.as("wilson_lo_b"), hiB.as("wilson_hi_b"),
        zStat.as("z_pooled"))
      .withColumn("significant", abs(col("z_pooled")) >= 1.96)
  }

  /** CUMULATIVE REACH curve: distinct users ever seen up to each day —
    * the acquisition companion to [[rollingDau]]'s engagement readout.
    * Where a SLIDING distinct needs the 7× shifted expansion, the
    * CUMULATIVE distinct collapses exactly: a user contributes to every
    * day from their first appearance onward, so min-day per user (ONE
    * map-side-combinable user_id exchange) plus a running sum over the
    * tiny day domain IS the curve — no expansion, no per-day distinct.
    * pct_of_total = one fixed-order rounded division against the final
    * reach (a window max over the same day frame).
    */
  def reachCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val firstDay = Tables.events(spark, sfDir)
      .select(expr("ts div 86400000000000").as("day"), col("user_id"))
      .groupBy("user_id").agg(min(col("day")).as("day"))
    // the remaining frames are day-domain-sized (~30 rows): single-
    // partition windows over the calendar span are the intended shape
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy()
    firstDay.groupBy("day").agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .withColumn("pct_of_total",
        round(col("cum_users").cast("double") / max(col("cum_users")).over(all), 6))
      .orderBy("day")
  }

  /** MANN–WHITNEY U test per event type between the user-parity arms —
    * the NONPARAMETRIC companion to [[abtestWelch]] (no normality
    * assumption; detects stochastic dominance the t test misses under
    * heavy tails). Computed EXACTLY on the (type × distinct-cents)
    * histogram with conditional per-arm counts: value v spans total
    * ranks (cumT_prev, cumT_prev + cnt], so its tie MIDRANK ×2 is the
    * integer 2·cumT_prev + cnt + 1, and twice arm A's rank sum is
    * R2 = Σ ca(v)·(2·cumT_prev + cnt + 1) — a DECIMAL(38,0) sum of
    * integer products, never a float rank. Then 2U = R2 − nA(nA+1), and
    * the large-sample z (no tie correction; documented) takes ONE fixed
    * IEEE op chain per term, rounded to 4 dp before the verdict — the
    * Welch/KS discipline. Scale shape: the ksTest stance — raw rows
    * collapse map-side to the value histogram; ranks ride the
    * value-domain frame only.
    */
  def mannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val hist = Tables.events(spark, sfDir)
      .select(col("event_type"),
        (col("user_id") % 2 === 0).as("va"),
        expr("CAST(round(value * 100) AS BIGINT)").as("y"))
      .groupBy("event_type", "y")
      .agg(sum(when(col("va"), 1L).otherwise(0L)).cast(dec).as("ca"),
        sum(when(!col("va"), 1L).otherwise(0L)).cast(dec).as("cb"))
    val cumW = Window.partitionBy("event_type").orderBy("y")
      .rowsBetween(Window.unboundedPreceding, 0)
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    val cnt = col("ca") + col("cb")
    val withRanks = hist
      .withColumn("cum_t", sum(cnt).over(cumW))
      // midrank x2 of this value's tie block: 2*cumT_prev + cnt + 1
      .withColumn("mr2", lit(2).cast(dec) * (col("cum_t") - cnt) + cnt + lit(1).cast(dec))
    val s = withRanks.groupBy("event_type")
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        sum(col("ca") * col("mr2")).as("r2"))
    s.select(col("event_type"),
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        // 2U = R2 - nA(nA+1); halves are exact in a double
        ((d(col("r2")) - d(col("na")) * (d(col("na")) + lit(1.0))) / lit(2.0)).as("u_a"),
        round(
          (d(col("r2")) - d(col("na")) * (d(col("na")) + lit(1.0))
            - d(col("na")) * d(col("nb")))
            / lit(2.0)
            / sqrt(d(col("na")) * d(col("nb"))
              * (d(col("na")) + d(col("nb")) + lit(1.0)) / lit(12.0)), 4)
          .as("z_mw"))
      .withColumn("significant", abs(col("z_mw")) >= 1.96)
      .orderBy("event_type")
  }

  /** Pearson χ² test of independence between event_type and time-of-day
    * (hour div 6 → four day-quarters) — the categorical sibling of the
    * Welch (means) and KS (distributions) tests: per contingency cell,
    * the observed count, the independence-expected count R·C/N, and the
    * cell's χ² contribution (O−E)²/E. The caller sums contributions
    * against χ²_{(r−1)(c−1)} — per-cell rows keep every float a fixed
    * single-rounding op chain (int64→double conversions exact, one
    * division for E, one for the contribution), so the hash needs no
    * tolerance; a TOTAL would add a cross-engine summation-order hazard
    * for zero extra information.
    *
    * Scale shape: one (type, bucket) map-combined hash-agg over the
    * corpus; marginals are value-domain-bounded re-aggregates of the
    * cell frame (the drift-audit stance) joined back broadcast.
    */
  def chi2Independence(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Dedup.fence(
      Tables.events(spark, sfDir)
        .select(col("event_type"), expr("hour(ts_us) div 6").as("h_bucket"))
        .groupBy("event_type", "h_bucket").agg(count(lit(1)).as("o")),
      "event_type")
    val rows = cells.groupBy("event_type").agg(sum("o").as("r_tot"))
    val cols = cells.groupBy("h_bucket").agg(sum("o").as("c_tot"))
    val n = cells.agg(sum("o").as("n_tot"))
    cells.join(broadcast(rows), "event_type")
      .join(broadcast(cols), "h_bucket")
      .crossJoin(broadcast(n))
      .withColumn("e_raw",
        (col("r_tot") * col("c_tot")).cast("double") / col("n_tot").cast("double"))
      .select(col("event_type"), col("h_bucket").cast("long").as("h_bucket"), col("o"),
        round(col("e_raw"), 6).as("expected"),
        round((col("o").cast("double") - col("e_raw"))
          * (col("o").cast("double") - col("e_raw")) / col("e_raw"), 6).as("contrib"))
      .orderBy("event_type", "h_bucket")
  }
}
