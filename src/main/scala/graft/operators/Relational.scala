package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational operator surface (SURVEY.md §2.B2–B3): projections, filters,
  * predicates, and the full join family over the TPC-H-ish star schema.
  *
  * Scale notes baked into every query:
  *   - filters are written directly over the scan so Catalyst pushes them
  *     into the parquet reader (PushedFilters) and prunes columns;
  *   - dimension sides of joins (region/nation/supplier) are explicitly
  *     `broadcast()` — at 100 TB the fact side never shuffles for them;
  *   - fact⋈fact joins (lineitem⋈orders) shuffle on the join key once and
  *     rely on AQE for skew handling — no driver-side materialization.
  */
object Relational {

  /** Exact-sum helper: double → DECIMAL(18,6) before summing, final cast back
    * to double. Decimal addition is exact and order-independent, so the
    * result is bitwise identical no matter how partitions merge — the only
    * way a float aggregate can hash-match a different engine (DuckDB oracle)
    * at any scale. (Rounding a raw double sum to 6 decimals would flake: at
    * sum≈1e9 the cross-engine summation-order error is the same magnitude as
    * the rounding grid.)
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Exact mean: exact decimal sum / count, both deterministic doubles. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  // ---------------------------------------------------------------- B2

  /** Projection + derived column + pushed-down conjunctive predicate. */
  def filterProject(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz")
        && col("l_discount").between(0.05, 0.07)
        && col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))
      .orderBy("l_orderkey", "l_linenumber")

  /** IN / LIKE / BETWEEN predicate mix (explicit parens mirror the oracle). */
  def inLikeBetween(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .filter(col("p_type").like("PROMO%")
        || (col("p_brand").isin("Brand#1", "Brand#2") && col("p_size").between(5, 15)))
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_size").cast("long").as("p_size"))
      .orderBy("p_partkey")

  /** NULL-handling scalars: nullif / coalesce / nvl2-style branching.
    * Testdata has no nulls, so nullif manufactures them.
    */
  def nullHandling(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .select(col("c_custkey"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("(masked)")).as("seg"),
        when(nullif(col("c_mktsegment"), lit("BUILDING")).isNull, lit(1L))
          .otherwise(lit(0L)).as("was_building"))
      .orderBy("c_custkey")

  // ---------------------------------------------------------------- B3

  /** Fact⋈fact equi-join (sort-merge / shuffled-hash territory): revenue per
    * order priority. Shuffles both sides on the order key once.
    */
  def joinFactFact(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  /** Salted fact⋈fact join: the explicit skew-mitigation form of
    * [[joinFactFact]] for when one join key dominates (AQE's skew split
    * handles sort-merge skew automatically; salting is the portable
    * technique when a single key exceeds what one task can hold). The fact
    * side gets a deterministic row-level salt, the other side is replicated
    * across all S salts, and the join key becomes (key, salt) — the hot
    * key's rows spread over S tasks. Same oracle as q_join_factfact.
    */
  def joinFactFactSalted(spark: SparkSession, sfDir: String, salts: Int = 8): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .withColumn("salt", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(salts)))
    // r16: project the replicated side to the two columns the join needs
    // BEFORE the ×S explode (guide §2.3 — the explode multiplies whatever
    // width flows into it), and pin the SHUFFLED hash join with a hint:
    // at bench scale Catalyst's size estimate put the exploded side under
    // the broadcast threshold and planned a 1.2M-row BroadcastHashJoin —
    // slow here (the broadcast build was the whole 1.8 s cost) and
    // contrary to what salting demonstrates (spreading a hot key across
    // REDUCERS; a broadcast join has no reduce side at all). At 100 TB
    // both sides exceed any broadcast threshold, so the hint changes
    // nothing there — it pins the demo's intended shape at every scale.
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
      .hint("shuffle_hash")
    l.join(o, l("l_orderkey") === o("o_orderkey") && l("salt") === o("salt"))
      .groupBy("o_orderpriority")
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q5-style 5-table star join: revenue by nation within one region
    * and one order-date year. Dim tables are broadcast — the lineitem scan
    * is the only large input and it shuffles exactly once (for the l⋈o join).
    */
  def starJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz")
        && col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir).filter(col("r_name") === "ASIA")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("n_name")
  }

  /** Explicit broadcast-hash join: lineitem⋈supplier⋈nation, revenue per
    * supplier nation. Both dims fit in a broadcast at any scale factor.
    */
  def broadcastJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    l.join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("gross"))
      .orderBy("n_name")
  }

  /** Left outer join with an empty-side group: orders ⟕ heavy lineitems
    * (l_quantity > 45); orders with none keep n_heavy = 0.
    */
  def leftOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val l = Tables.lineitem(spark, sfDir).filter(col("l_quantity") > 45)
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left")
      .groupBy("o_orderkey")
      .agg(count(col("l_orderkey")).as("n_heavy"))
      .orderBy("o_orderkey")
  }

  /** Full outer join over two aggregated sides keyed by nation. */
  def fullOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).filter(col("c_acctbal") > 9000)
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_rich_cust"))
    val s = Tables.supplier(spark, sfDir).filter(col("s_acctbal") > 5000)
      .groupBy("s_nationkey").agg(count(lit(1)).as("n_rich_supp"))
    c.join(s, c("c_nationkey") === s("s_nationkey"), "full")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).cast("long").as("nationkey"),
        coalesce(col("n_rich_cust"), lit(0L)).as("n_rich_cust"),
        coalesce(col("n_rich_supp"), lit(0L)).as("n_rich_supp"))
      .orderBy("nationkey")
  }

  /** Left-semi join (EXISTS): customers having ≥1 urgent order. */
  def semiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left-anti join (NOT EXISTS): customers with no urgent order. */
  def antiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Non-equi theta join (BroadcastNestedLoopJoin with the small side
    * broadcast): parts cheaper than a supplier-specific bound. The broadcast
    * side grows O(sf), so since r9 this form is UNREGISTERED — a didactic
    * baseline only, pinned row-for-row equal to [[thetaJoinBanded]] (the
    * registered plan for BOTH q_theta_join names) in RelationalSpec.
    */
  def thetaJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.supplier(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    p.join(broadcast(s), p("p_retailprice") < s("s_acctbal") / 10.0)
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_cheaper_parts"))
      .orderBy("s_suppkey")
  }

  /** Band width for [[thetaJoinBanded]]: the price/threshold domain is
    * value-bounded by the generator (prices ~[900, 2100], thresholds
    * s_acctbal/10 ~[-100, 1100]), NOT sf-bounded, so the bucket count is a
    * constant ~22 at any scale.
    */
  private val ThetaBandWidth = 100.0

  /** Scale-safe theta join: the `p_retailprice < s_acctbal/10` predicate is
    * banded on coarse price buckets. Each supplier row is replicated onto
    * every bucket at or below its threshold bucket (a constant ≤ domain/W
    * replication, independent of sf), the join is a plain equi hash join on
    * the bucket, and only the boundary bucket re-checks the residual
    * predicate — pairs in strictly lower buckets match unconditionally.
    * Same oracle as [[thetaJoin]]; neither side is ever broadcast or
    * nested-loop'd, so the plan survives 100x growth of BOTH sides.
    */
  def thetaJoinBanded(spark: SparkSession, sfDir: String): DataFrame = {
    val maxBucket = 25L // prices < 2600 by generator bound; clamp replication
    // Clamp the part bucket too: an out-of-bound price (>= 2600) must land
    // in the boundary bucket where the residual predicate re-checks it —
    // unclamped it would exceed every supplier's clamped threshold bucket
    // and its pairs would be silently dropped.
    val p = Tables.part(spark, sfDir)
      .select(col("p_retailprice"),
        least(floor(col("p_retailprice") / ThetaBandWidth), lit(maxBucket)).as("pb"))
    val s = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), (col("s_acctbal") / 10.0).as("thr"))
      .withColumn("tb", least(floor(col("thr") / ThetaBandWidth), lit(maxBucket)))
      .filter(col("tb") >= 0) // negative-threshold suppliers match no parts
      .withColumn("pb", explode(sequence(lit(0L), col("tb"))))
    p.join(s, "pb")
      .filter(col("pb") < col("tb") || col("p_retailprice") < col("thr"))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_cheaper_parts"))
      .orderBy("s_suppkey")
  }

  /** Correlated scalar subquery: parts priced above their own brand's
    * average. Catalyst decorrelates this (RewriteCorrelatedScalarSubquery)
    * into an aggregate + join — the subquery never executes per row, so the
    * plan is two scans and one broadcast-able join at any scale.
    */
  def scalarSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.part(spark, sfDir).createOrReplaceTempView("part_sq")
    spark.sql(
      """SELECT p_partkey, p_brand, p_retailprice
        |FROM part_sq p
        |WHERE p_retailprice > (SELECT CAST(sum(CAST(p2.p_retailprice AS DECIMAL(18,6))) AS DOUBLE)
        |                              / count(*)
        |                       FROM part_sq p2 WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin)
  }

  /** Range (interval) join: per-user count of event pairs within one hour.
    * Equi-key on user_id keeps it a hash/SMJ join with a residual range
    * filter — the at-scale-safe shape (never a pure cross product). ns
    * arithmetic stays in exact int64.
    */
  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // µs, not ns: DuckDB truncates parquet TIMESTAMP(NANOS) to µs on read, so
    // the oracle can only see µs — border pairs must be decided identically.
    val a = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("a_us"))
    val b = Tables.events(spark, sfDir)
      .select(col("user_id").as("b_user"), expr("ts div 1000").as("b_us"))
    a.join(b, a("user_id") === b("b_user")
        && b("b_us") > a("a_us")
        && b("b_us") <= a("a_us") + lit(3600000000L))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs_1h"))
      .orderBy("user_id")
  }

  /** SKEW-SAFE sibling of [[rangeJoin]] (VERDICT r8 ask #6): identical
    * semantics and oracle, but the join key is (user_id, 1-hour time band)
    * instead of user_id alone. The plain per-user self-join puts a hot
    * user's ENTIRE history into one join partition — O(m²) residual work
    * on one task. Banding splits that key by time: the left (earlier)
    * event replicates onto its own band and the next (each candidate
    * partner within +1 h lives in one of those two), the right side keys
    * on its single band, the exact inequality filters the candidates.
    * Each qualifying pair meets in EXACTLY one band (the right event's),
    * so no distinct step is needed. Per (user, band) work is bounded by
    * events-per-user-per-2h — the irreducible output density — not by the
    * user's total history; replication is a constant 2×. RelationalSpec
    * pins banded == naive on a planted 50k-event hot-user fixture and
    * asserts the plan stays a hash equi join under that skew.
    */
  def rangeJoinBanded(spark: SparkSession, sfDir: String): DataFrame =
    rangeJoinBandedFrom(Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("us")))

  /** [[rangeJoinBanded]] over an arbitrary (user_id, us) event frame —
    * package-private so the spec can drive the hot-user fixture through
    * the same plan. */
  private[graft] def rangeJoinBandedFrom(ev: DataFrame): DataFrame = {
    val W = 3600000000L // 1-hour band in µs = the range width, so ≤ 2 bands/pair
    val a = ev.select(col("user_id"), col("us").as("a_us"))
      .withColumn("band", explode(array(expr(s"a_us div $W"), expr(s"a_us div $W + 1"))))
    val b = ev.select(col("user_id").as("b_user"), col("us").as("b_us"))
      .withColumn("band", expr(s"b_us div $W"))
    a.join(b, a("user_id") === b("b_user") && a("band") === b("band")
        && b("b_us") > a("a_us")
        && b("b_us") <= a("a_us") + lit(W))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs_1h"))
      .orderBy("user_id")
  }

  /** Interval-OVERLAP join: per-user daily activity intervals
    * [first event, last event] joined to a global grid of 5-hour windows
    * wherever the two intervals overlap — the general interval⋈interval
    * shape ([[rangeJoin]] is the point-in-interval special case). Output:
    * one row per (user-day interval × overlapping window) with the overlap
    * length in seconds.
    *
    * Scale shape: a naive formulation is a cross join with an inequality
    * filter — quadratic. Here both sides explode into the fixed-width
    * BANDS they span (band = sec div 4h; an interval of length L covers
    * ≤ L/4h + 1 bands, a 5-h window exactly 2-3), the join is an equi-join
    * on the 8-byte band id, and the exact overlap predicate filters the
    * banded candidates — O(intervals × bands-spanned), never O(n²). A pair
    * overlapping in several shared bands would duplicate, so the projected
    * result is `distinct` (all output columns are functionally determined
    * by the pair, making distinct exact). Band width is a tuning knob:
    * ~max(window, typical-interval) width keeps the candidate multiplier
    * at 1-2. The window grid derives from a one-row global min/max
    * aggregate — a broadcast, constant-size at any corpus scale.
    */
  def intervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val W = 18000L   // 5-hour windows
    val B = 14400L   // 4-hour bands — deliberately ≠ W so windows span 2-3
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000000000").as("sec"),
        expr("ts div 86400000000000").as("day"))
    val iv = ev.groupBy("user_id", "day").agg(min("sec").as("s"), max("sec").as("e"))
    val wins = ev.agg(min("sec").as("tmin"), max("sec").as("tmax"))
      .select(explode(sequence(expr("(tmin div 86400) * 86400"), col("tmax"),
        lit(W))).as("w_start"))
    val ivb = iv.withColumn("band",
      explode(sequence(expr(s"s div $B"), expr(s"e div $B"))))
    val wb = wins.withColumn("band",
      explode(sequence(expr(s"w_start div $B"), expr(s"(w_start + ${W - 1}) div $B"))))
    ivb.join(wb, "band")
      .filter(col("s") <= col("w_start") + lit(W - 1) && col("w_start") <= col("e"))
      .select(col("user_id"), col("day"), col("w_start"),
        (least(col("e"), col("w_start") + lit(W - 1))
          - greatest(col("s"), col("w_start")) + lit(1L)).as("overlap_sec"))
      .distinct()
      .orderBy("user_id", "day", "w_start")
  }

  /** As-of join through the NATIVE sort-merge operator
    * (graft.plans.AsOfJoin): purchases as the left stream, clicks as the
    * right, merged per user in one forward pass with O(1) state. Same
    * semantics and oracle as [[asOfJoin]].
    */
  def asOfJoinCustom(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.plans.AsOfJoin
    val p = Tables.events(spark, sfDir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("p_us"))
    val c = Tables.events(spark, sfDir).filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), expr("ts div 1000").as("c_us"))
    val pa = p.queryExecution.analyzed
    val ca = c.queryExecution.analyzed
    val Seq(eid, uid, pus) = pa.output
    val Seq(cuser, cus) = ca.output
    val attr = AttributeReference("prev_click_us", org.apache.spark.sql.types.LongType,
      nullable = false)()
    ColumnShim.ofRows(spark, AsOfJoin(pa, ca, uid, cuser, pus, cus, attr))
      .select(col("event_id"), col("user_id"), col("prev_click_us"))
      .orderBy("event_id")
  }

  /** As-of join with a max-gap TOLERANCE through the native operator: the
    * latest click at most 30 minutes before each purchase — the
    * pandas-`merge_asof(tolerance=...)` surface. Same merge loop as
    * [[asOfJoinCustom]] plus one gap comparison; stale matches outside the
    * gap fall back to the -1 sentinel.
    */
  def asOfJoinTolerance(spark: SparkSession, sfDir: String,
                        tolUs: Long = 1800000000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.plans.AsOfJoin
    val p = Tables.events(spark, sfDir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("p_us"))
    val c = Tables.events(spark, sfDir).filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), expr("ts div 1000").as("c_us"))
    val pa = p.queryExecution.analyzed
    val ca = c.queryExecution.analyzed
    val Seq(eid, uid, pus) = pa.output
    val Seq(cuser, cus) = ca.output
    val attr = AttributeReference("prev_click_us", org.apache.spark.sql.types.LongType,
      nullable = false)()
    ColumnShim.ofRows(spark,
        AsOfJoin(pa, ca, uid, cuser, pus, cus, attr, forward = false, tolerance = tolUs))
      .select(col("event_id"), col("user_id"), col("prev_click_us"))
      .orderBy("event_id")
  }

  /** FORWARD as-of join through the native operator: the first click at or
    * after each purchase per user (`merge_asof(direction='forward')`) —
    * the same one-pass merge with the frontier row peeked, never consumed.
    */
  def asOfJoinForward(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.plans.AsOfJoin
    val p = Tables.events(spark, sfDir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("p_us"))
    val c = Tables.events(spark, sfDir).filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), expr("ts div 1000").as("c_us"))
    val pa = p.queryExecution.analyzed
    val ca = c.queryExecution.analyzed
    val Seq(eid, uid, pus) = pa.output
    val Seq(cuser, cus) = ca.output
    val attr = AttributeReference("next_click_us", org.apache.spark.sql.types.LongType,
      nullable = false)()
    ColumnShim.ofRows(spark,
        AsOfJoin(pa, ca, uid, cuser, pus, cus, attr, forward = true))
      .select(col("event_id"), col("user_id"), col("next_click_us"))
      .orderBy("event_id")
  }

  /** As-of join EMITTING THE MATCHED ROW'S PAYLOAD — the full merge_asof
    * surface: each purchase gets the time, event_id and value of its latest
    * preceding click (sentinels when none). Same one-pass merge; the right
    * row rides along instead of just its timestamp.
    */
  def asOfJoinPayload(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.plans.AsOfJoin
    val p = Tables.events(spark, sfDir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("p_us"))
    val c = Tables.events(spark, sfDir).filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), expr("ts div 1000").as("c_us_r"),
        col("event_id").as("c_event_r"), col("value").as("c_value_r"))
    val pa = p.queryExecution.analyzed
    val ca = c.queryExecution.analyzed
    val Seq(eid, uid, pus) = pa.output
    val Seq(cuser, cusr, _, _) = ca.output
    val attr = AttributeReference("m_us", org.apache.spark.sql.types.LongType,
      nullable = false)()
    ColumnShim.ofRows(spark,
        AsOfJoin(pa, ca, uid, cuser, pus, cusr, attr, emitRight = true))
      .select(col("event_id"), col("user_id"),
        coalesce(col("c_us_r"), lit(-1L)).as("c_us"),
        coalesce(col("c_event_r"), lit(-1L)).as("c_event"),
        coalesce(col("c_value_r"), lit(-1.0)).as("c_value"))
      .orderBy("event_id")
  }

  /** As-of join composed from built-ins: for
    * each purchase event, the latest click at-or-before it per user —
    * expressed as a running `max(click_ts)` window over the interleaved
    * event stream, which is shuffle-equivalent to a sort-merge as-of and
    * never materializes candidate pairs (the at-scale-safe formulation).
    */
  def asOfJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, sfDir)
    // RANGE frame over the µs-truncated time: exactly the native operator's
    // `click_us <= purchase_us` semantics, INCLUDING clicks that share the
    // purchase's microsecond (a ns-ordered ROWS frame would make same-µs
    // membership depend on ns tie order — a latent oracle divergence; the
    // DuckDB oracle uses the same epoch_us RANGE frame)
    val w = Window.partitionBy("user_id").orderBy(expr("ts div 1000"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("prev_click_us",
        max(when(col("event_type") === "click", expr("ts div 1000"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        coalesce(col("prev_click_us"), lit(-1L)).as("prev_click_us"))
      .orderBy("event_id")
  }

  /** NEAREST-direction as-of join (`merge_asof(direction='nearest')`, the
    * remaining mode after backward/forward/tolerance): each purchase takes
    * whichever click is closer in time, before or after, ties to the
    * backward match (pandas' rule). Two RANGE-framed window passes over the
    * SAME µs ordering as [[asOfJoin]] — one partition-parallel shuffle on
    * user_id, no join; the -1 sentinel marks users with no clicks at all.
    * All-integer µs arithmetic, same peer semantics in both engines.
    */
  def asOfJoinNearest(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, sfDir)
    val us = expr("ts div 1000")
    val wPrev = Window.partitionBy("user_id").orderBy(us)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("user_id").orderBy(us)
      .rangeBetween(Window.currentRow, Window.unboundedFollowing)
    val click = when(col("event_type") === "click", expr("ts div 1000"))
    e.withColumn("prev_us", max(click).over(wPrev))
      .withColumn("next_us", min(click).over(wNext))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        when(col("prev_us").isNull && col("next_us").isNull, lit(-1L))
          .when(col("prev_us").isNull, col("next_us"))
          .when(col("next_us").isNull, col("prev_us"))
          .when(expr("ts div 1000") - col("prev_us") <= col("next_us") - expr("ts div 1000"),
            col("prev_us"))
          .otherwise(col("next_us")).as("nearest_click_us"))
      .orderBy("event_id")
  }

  /** UNPIVOT (wide → long): the four lineitem measures melted into
    * (measure, value) rows, then aggregated per measure. The melt is a
    * zero-shuffle Expand (each input row fans to 4 output rows map-side);
    * the only exchange is the 4-group aggregate. Oracle states the same
    * melt as a portable UNION ALL.
    */
  def unpivotMeasures(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem_up")
    spark.sql(
      """SELECT measure, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  round(min(value), 6) AS vmin, round(max(value), 6) AS vmax
        |FROM lineitem_up
        |  UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax))
        |GROUP BY measure ORDER BY measure""".stripMargin)
  }

  /** Correlated LATERAL subquery: top-3 customers by balance per nation —
    * the SQL-standard form of the per-group top-k (the DataFrame window
    * form is q_window_topk; the custom plan node is q_window_topk_custom).
    * Catalyst decorrelates the lateral limit into a ranked window under
    * the hood, so the plan stays a single shuffle on the correlation key.
    */
  def lateralTopCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.nation(spark, sfDir).createOrReplaceTempView("nation_lat")
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer_lat")
    spark.sql(
      """SELECT n.n_name, t.c_name, round(t.c_acctbal, 6) AS bal
        |FROM nation_lat n,
        |  LATERAL (SELECT c_name, c_acctbal FROM customer_lat c
        |           WHERE c.c_nationkey = n.n_nationkey
        |           ORDER BY c_acctbal DESC, c_name LIMIT 3) t
        |ORDER BY n_name, bal DESC, c_name""".stripMargin)
  }

  /** NOT EXISTS correlated subquery with an extra correlated predicate —
    * the SQL surface of the anti join (q_anti_join is the DataFrame form;
    * Catalyst decorrelates both to LeftAnti): customers who never placed
    * an URGENT order.
    */
  def notExistsCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer_ne")
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_ne")
    spark.sql(
      """SELECT c_custkey, c_name FROM customer_ne c
        |WHERE NOT EXISTS (SELECT 1 FROM orders_ne o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)
  }

  /** RECURSIVE CTE (new in Spark 4.x): walk each doc_id's implicit binary
    * ancestor chain (anc → anc div 2 until 0) and aggregate per doc —
    * recursion depth is log2(doc_id), so the iteration count is bounded
    * by the KEY WIDTH, not the corpus size, and each recursive step is one
    * narrow self-union the engine unions breadth-first. The oracle runs
    * the identical recursion in DuckDB.
    */
  def recursiveAncestors(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir).createOrReplaceTempView("documents_rc")
    spark.sql(
      """WITH RECURSIVE anc(doc_id, node, depth) AS (
        |  SELECT doc_id, doc_id, 0 FROM documents_rc
        |  UNION ALL
        |  SELECT doc_id, node div 2, depth + 1 FROM anc WHERE node > 0
        |)
        |SELECT doc_id, CAST(max(depth) AS BIGINT) AS chain_len,
        |  count(*) AS n_nodes, CAST(sum(node) AS BIGINT) AS node_sum
        |FROM anc GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** SKYLINE / Pareto frontier (Börzsönyi et al., ICDE 2001): parts not
    * dominated on (maximize p_retailprice, minimize p_size) — the
    * multi-criteria shortlist operator ("best trade-offs") classical OLAP
    * engines ship as SKYLINE OF. A part is dominated iff some other part
    * is ≥ on price and ≤ on size with at least one strict.
    *
    * Plan: the dominance test collapses to per-DISTINCT-price group
    * minima — row r is dominated iff min(size) over strictly-higher
    * price groups ≤ r.size, or its own price group's min < r.size. So:
    * one vocabulary-style aggregate to (price, gmin) (output bounded by
    * DISTINCT prices, not rows), one running-min window over that
    * grouped frame, one join back. No pairwise comparison anywhere —
    * the naive NOT EXISTS self-join (the oracle's formulation) is
    * O(n²); this is O(n) + a distinct-value-sized sort. At 100 TB the
    * windowed frame is the price domain (Heaps-bounded like every
    * vocab aggregate here), and the join back is an equi-join on price.
    *
    * MEASURED adversarial boundary (SCALE.md, r11): on the
    * anti-correlated fixture every price is distinct, so the grouped
    * frame is n rows and the unpartitioned running-min window is a
    * single-task sort (shuffle 5n measured: 100k→1.0M at 20k→200k
    * input). Same wall as the native node's all-candidate gather there
    * — when the frontier ~ the input, the output is ~the input and no
    * skyline formulation avoids a global O(f) stage.
    */
  def skylineParts(spark: SparkSession, sfDir: String): DataFrame =
    skylineOf(Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size")))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size").cast("long").as("p_size"))
      .orderBy("p_partkey")

  /** The same frontier through the native Skyline plan node (graft.plans):
    * per-partition dominance pruning BEFORE the exchange — the wire
    * carries local frontiers, never rows — then one final pass over the
    * gathered candidates. Same output and oracle as [[skylineParts]];
    * RelationalSpec pins the two equal and asserts the partial→final
    * shape with a single gather exchange.
    */
  def skylinePartsCustom(spark: SparkSession, sfDir: String): DataFrame =
    skylineNativeOf(spark, Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size")))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size").cast("long").as("p_size"))
      .orderBy("p_partkey")

  /** The native Skyline node on any (p_partkey, p_retailprice, p_size)
    * frame — factored out so PropertySpec can drive the custom operator
    * itself over generated frames against brute-force dominance. */
  private[graft] def skylineNativeOf(spark: SparkSession, parts: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.plans.Skyline
    val analyzed = parts.queryExecution.analyzed
    val Seq(_, price, size) = analyzed.output
    // both criteria explicitly cast: the exec contract is Double/Long
    // (a decimal price column would otherwise CCE inside the node)
    ColumnShim.ofRows(spark,
      Skyline(Cast(price, org.apache.spark.sql.types.DoubleType),
        Cast(size, org.apache.spark.sql.types.LongType), analyzed))
  }

  /** The linear skyline plan on any (p_partkey, p_retailprice, p_size)
    * frame — factored out so PropertySpec can drive it over generated
    * frames against brute-force dominance. */
  private[graft] def skylineOf(parts: DataFrame): DataFrame = {
    val groups = parts.groupBy("p_retailprice")
      .agg(min(col("p_size")).as("gmin"))
    val sweep = Window.orderBy(desc("p_retailprice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val mins = groups.withColumn("rmin", min(col("gmin")).over(sweep))
    parts.join(mins, "p_retailprice")
      .filter((col("rmin").isNull || col("rmin") > col("p_size"))
        && col("gmin") >= col("p_size"))
  }

  /** SCD TYPE 2 dimension build (Kimball slowly-changing-dimension): the
    * events stream is the change feed and `event_type` the tracked
    * attribute — consecutive equal values per user collapse into one
    * versioned validity interval [valid_from, valid_to), the last version
    * open-ended (`is_current`). Change points come from a null-safe
    * lag-compare (`<=>`), versions from a running sum over the same
    * ordering, run stats from a group-by on (user, version), the closing
    * edge from `lead` over versions.
    *
    * Scale shape: ONE shuffle. Every stage — both windows and the
    * aggregation — clusters on `user_id` or a superset of it, and
    * HashPartitioning(user_id) satisfies ClusteredDistribution(user_id,
    * ver), so Catalyst plans the lag-window, running-sum, hash-agg, and
    * lead-window over a single exchange (RelationalSpec asserts exactly
    * one). Window state is bounded per user; at 100 TB this is the
    * standard warehouse nightly-dimension build and shuffles each change
    * row once.
    */
  def scd2Build(spark: SparkSession, sfDir: String): DataFrame =
    scd2Fold(Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"), col("ts_sec")))
      .orderBy("user_id", "version")

  /** AS-OF instant for [[scd2AsOf]]: 2024-01-15T12:00:00Z, mid-corpus —
    * interpolated into the DuckDB oracle so both engines ask the same
    * question. */
  private[graft] val TimeTravelCutoffSec = 1705320000L

  /** Temporal AS OF (time travel) over the SCD2 dimension — the
    * `FOR SYSTEM_TIME AS OF` / lakehouse `VERSION AS OF` read, answered
    * from interval algebra instead of a commit log: each user's state at
    * the cutoff instant is the unique version row whose
    * [valid_from, valid_to) interval contains it. Reuses [[scd2Fold]]
    * verbatim, so the history this travels IS the hash-checked q_scd2
    * history; a user whose first event lands after the cutoff has no
    * state and correctly emits nothing.
    *
    * Scale shape: identical to the SCD2 build (one user_id exchange) —
    * and against the STORED dimension ([[scd2DimStore]]) the same filter
    * is a metadata-prunable predicate, no fold at all.
    */
  def scd2AsOf(spark: SparkSession, sfDir: String): DataFrame =
    scd2Fold(Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"), col("ts_sec")))
      .filter(col("valid_from_sec") <= TimeTravelCutoffSec
        && (col("valid_to_sec").isNull || col("valid_to_sec") > TimeTravelCutoffSec))
      .select("user_id", "version", "event_type", "valid_from_sec")
      .orderBy("user_id")

  /** The SCD2 fold on any (user_id, event_id, event_type, ts, ts_sec)
    * change feed — factored out so the stored-dimension build
    * ([[scd2DimStore]]) can fold a PREFIX of the feed and the serve-time
    * merge can reuse the same closing-edge algebra. */
  private[graft] def scd2Fold(events: DataFrame): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val runSum = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val changed = when(!(lag(col("event_type"), 1).over(byTime) <=> col("event_type")), 1L)
      .otherwise(0L)
    events
      .withColumn("ver", sum(changed).over(runSum))
      .groupBy(col("user_id"), col("ver").as("version"))
      .agg(min(col("event_type")).as("event_type"), // constant within a run
        min(col("ts_sec")).as("valid_from_sec"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to_sec",
        lead(col("valid_from_sec"), 1).over(Window.partitionBy("user_id").orderBy("version")))
      .withColumn("is_current", col("valid_to_sec").isNull)
      .select("user_id", "version", "event_type", "valid_from_sec", "valid_to_sec",
        "is_current", "n_events")
  }

  /** Session-scoped STORED SCD2 dimension (r11, VERDICT ask #7): the fold
    * of every event before the last UTC day, written once per session —
    * the standing dimension a nightly warehouse job maintains — plus the
    * day cutoff that defines the append batch. The cutoff scalar is one
    * bounded (single-row aggregate) driver collect at build time, then a
    * memoized constant, so the serve-time delta filter is a pushed-down
    * literal predicate.
    */
  private val scd2DimMemo = new SessionMemo[String, (String, Long)]

  private[graft] def scd2DimStore(spark: SparkSession, sfDir: String): (String, Long) =
    scd2DimMemo.memo(spark, sfDir) {
      val ev = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"), col("ts_sec"))
      val maxSec = ev.agg(max("ts_sec")).head.getLong(0)
      val cutoff = (maxSec / 86400L) * 86400L // delta batch = the last UTC day
      val dir = SessionMemos.tempDir(spark, "graft-scd2-dim")
      scd2Fold(ev.filter(col("ts_sec") < cutoff)).write.mode("overwrite").parquet(dir)
      (dir, cutoff)
    }

  /** SCD2 INCREMENTAL MAINTENANCE — append one day's change feed to the
    * stored dimension and serve the merged result, hash-checked against
    * the FULL-REBUILD oracle (the q_scd2 SQL over all events). The merge
    * touches only the delta and the AFFECTED users' stored rows:
    *
    *   1. untouched users (no delta events) pass through from the stored
    *      parquet — no window recompute, just a scan + anti-join;
    *   2. the delta folds with the SAME run-length algebra as the build,
    *      SEEDED per user by the stored current version: row 1's lag
    *      compares against the stored `event_type` (null-safe, so a user
    *      whose feed opens with nulls versions exactly like the full
    *      rebuild), and versions continue from the stored number;
    *   3. a continuation run (first delta rows equal to the stored
    *      current type) lands on the SAME version number, so one
    *      (user, version) re-aggregate merges it into the stored row —
    *      n_events sums, valid_from keeps the stored edge;
    *   4. closing edges recompute by `lead` over closed ∪ merged-tail:
    *      already-closed rows reproduce their stored valid_to (their
    *      successor's valid_from is unchanged), and the previously-open
    *      row closes iff the delta opened new versions.
    *
    * Scale shape: serve cost is |delta| (one user_id-clustered fold) +
    * |affected users' dim rows| (equi-joins on user_id) + a pass-through
    * scan of the standing dimension; the untouched majority is never
    * re-windowed. At 100 TB this is the nightly dimension append:
    * yesterday's partition folds, the dimension's affected slice merges,
    * everything else is untouched bytes.
    */
  def scd2Incremental(spark: SparkSession, sfDir: String): DataFrame = {
    val (dir, cutoff) = scd2DimStore(spark, sfDir)
    val dim = Tables.cachedScan(spark, dir)
    val delta = Tables.events(spark, sfDir)
      .filter(col("ts_sec") >= cutoff)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"), col("ts_sec"))
    val affected = delta.select("user_id").distinct()
    val untouched = dim.join(affected, Seq("user_id"), "left_anti")
    val stored = dim.join(affected, Seq("user_id"), "left_semi")
    val closed = stored.filter(!col("is_current"))
      .select("user_id", "version", "event_type", "valid_from_sec", "n_events")
    val curr = stored.filter(col("is_current"))
      .select("user_id", "version", "event_type", "valid_from_sec", "n_events")
    val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val runSum = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // seed: the stored current type/version (nulls for brand-new users —
    // whose first run then versions exactly like the full rebuild's)
    val seeded = delta.join(
      curr.select(col("user_id"), col("event_type").as("seed_type"),
        col("version").as("seed_ver")), Seq("user_id"), "left")
    val prevType = when(row_number().over(byTime) === 1, col("seed_type"))
      .otherwise(lag(col("event_type"), 1).over(byTime))
    val chg = when(!(prevType <=> col("event_type")), 1L).otherwise(0L)
    val deltaRuns = seeded
      .withColumn("version", coalesce(col("seed_ver"), lit(0L)) + sum(chg).over(runSum))
      .groupBy("user_id", "version")
      .agg(min(col("event_type")).as("event_type"),
        min(col("ts_sec")).as("valid_from_sec"),
        count(lit(1)).as("n_events"))
    // (user, version) merge: a continuation run shares the stored current
    // version → n_events sums, valid_from keeps the stored (earlier) edge
    val tail = curr.unionByName(deltaRuns)
      .groupBy("user_id", "version")
      .agg(min(col("event_type")).as("event_type"),
        min(col("valid_from_sec")).as("valid_from_sec"),
        sum(col("n_events")).as("n_events"))
    val byVer = Window.partitionBy("user_id").orderBy("version")
    val merged = closed.unionByName(tail)
      .withColumn("valid_to_sec", lead(col("valid_from_sec"), 1).over(byVer))
      .withColumn("is_current", col("valid_to_sec").isNull)
      .select("user_id", "version", "event_type", "valid_from_sec", "valid_to_sec",
        "is_current", "n_events")
    untouched.select("user_id", "version", "event_type", "valid_from_sec", "valid_to_sec",
        "is_current", "n_events")
      .unionByName(merged)
      .orderBy("user_id", "version")
  }

  /** SNAPSHOT DIFF / data reconciliation: classify every key across two
    * table snapshots as added / removed / changed — the audit primitive
    * behind CDC validation, replication checks and migration sign-off.
    * The two snapshots are derived deterministically from `orders` (A
    * drops keys ≡3 mod 97; B drops keys ≡7 mod 89 and bumps price cents
    * by 500 on keys ≡0 mod 13), so adds, removes AND in-place changes
    * are all present.
    *
    * The engine compares md5 ROW SIGNATURES over a canonical rendering
    * (`status|priority|cents` — integers and strings render identically
    * across engines), so the full-outer join carries one 32-char digest
    * per row instead of every payload column; the oracle deliberately
    * compares the COLUMNS directly, so the hash match proves the
    * signature technique misses nothing. 100 TB shape: signatures are
    * map-side projections; the only shuffle is the co-partitioned
    * full-outer SMJ on the key, and unchanged rows (the overwhelming
    * majority in a real reconciliation) are dropped immediately after
    * the join — nothing wide survives.
    */
  def tableDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.orders(spark, sfDir).select(
      col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    // concat_ws silently SKIPS null fields (('A', NULL, 5) and (NULL,
    // 'A', 5) would both render "A|5"), so every field is null-coalesced
    // to an explicit sentinel before signing — the oracle's null-safe
    // IS DISTINCT FROM comparison is the direct-compare twin
    def sig(df: DataFrame): Column =
      md5(concat_ws("|",
        coalesce(df("o_orderstatus"), lit("<NULL>")),
        coalesce(df("o_orderpriority"), lit("<NULL>")),
        coalesce(df("cents").cast("string"), lit("<NULL>"))))
    val snapA = base.filter(col("o_orderkey") % 97 =!= 3)
    val snapB = base.filter(col("o_orderkey") % 89 =!= 7)
      .withColumn("cents",
        when(col("o_orderkey") % 13 === 0, col("cents") + 500).otherwise(col("cents")))
    val a = snapA.select(col("o_orderkey"), sig(snapA).as("sig_a"))
    val b = snapB.select(col("o_orderkey"), sig(snapB).as("sig_b"))
    diffOf(a, b)
      .select("o_orderkey", "change_type")
      .orderBy("o_orderkey")
  }

  /** The signature-compare diff core on any (o_orderkey, sig_a) /
    * (o_orderkey, sig_b) pair of frames — factored out so PropertySpec
    * can drive it over generated snapshots against a map-based reference. */
  private[graft] def diffOf(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, Seq("o_orderkey"), "full_outer")
      .withColumn("change_type",
        when(col("sig_a").isNull, lit("added"))
          .when(col("sig_b").isNull, lit("removed"))
          .when(col("sig_a") =!= col("sig_b"), lit("changed")))
      .filter(col("change_type").isNotNull)

  /** CDC APPLY / MERGE (r11): apply a change batch — inserts, updates,
    * deletes — to a target snapshot in ONE pass: the SQL:2003 `MERGE
    * INTO` / Delta-Iceberg upsert primitive, completing the warehouse
    * trio next to the SCD2 build (history keeping) and the snapshot diff
    * (validation). The change batch derives deterministically from
    * `orders` itself so all three verbs are present and DISJOINT by
    * construction:
    *   - DELETE keys ≡ 5 (mod 101);
    *   - UPDATE keys ≡ 3 (mod 11) not deleted — price cents +250,
    *     priority rewritten '0-MERGED', status kept;
    *   - INSERT fresh keys (key + 10 000 000 for keys ≡ 7 (mod 131),
    *     far above any target key) with status 'N'.
    *
    * The engine plans the MERGE as a single co-partitioned FULL OUTER
    * join on the key with verb-dispatch projections — WHEN MATCHED AND
    * op='D' DELETE, WHEN MATCHED AND op='U' UPDATE, WHEN NOT MATCHED
    * INSERT, WHEN NOT MATCHED BY SOURCE keep — while the oracle applies
    * the same batch the textbook way (anti-join the deletes and updates
    * out, union the new images back), so the hash match proves the
    * one-join rewrite. 100 TB shape: change derivation is map-side, the
    * only shuffle is the SMJ both sides co-key, and the output streams at
    * ~target size — the exact plan MERGE INTO compiles to on a real
    * lakehouse, minus the transactional commit this offline engine has
    * no log for.
    */
  def cdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    val target = Tables.orders(spark, sfDir).select(
      col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val deletes = target.filter(col("o_orderkey") % 101 === 5)
      .select(col("o_orderkey"), lit("D").as("op"),
        lit(null).cast("string").as("c_status"),
        lit(null).cast("string").as("c_priority"),
        lit(null).cast("long").as("c_cents"))
    val updates = target
      .filter(col("o_orderkey") % 11 === 3 && col("o_orderkey") % 101 =!= 5)
      .select(col("o_orderkey"), lit("U").as("op"),
        col("o_orderstatus").as("c_status"),
        lit("0-MERGED").as("c_priority"),
        (col("cents") + 250L).as("c_cents"))
    val inserts = target.filter(col("o_orderkey") % 131 === 7)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"), lit("I").as("op"),
        lit("N").as("c_status"),
        col("o_orderpriority").as("c_priority"),
        col("cents").as("c_cents"))
    val changes = deletes.unionByName(updates).unionByName(inserts)
    target.join(changes, Seq("o_orderkey"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("o_orderkey"),
        when(col("op").isNotNull, col("c_status")).otherwise(col("o_orderstatus"))
          .as("o_orderstatus"),
        when(col("op").isNotNull, col("c_priority")).otherwise(col("o_orderpriority"))
          .as("o_orderpriority"),
        when(col("op").isNotNull, col("c_cents")).otherwise(col("cents")).as("cents"))
      .orderBy("o_orderkey")
  }

  private val nationMapMemo = new SessionMemo[String, Map[Int, String]]

  /** JOIN ELIMINATION via literal-map decode: the per-nation customer
    * rollup WITHOUT any join operator — the 25-row nation dimension
    * collects once (bounded by the dimension's fixed cardinality,
    * memoized) into a `typedLit` map, and the decode is a codegen'd
    * `element_at` projection. One step beyond the broadcast join: no
    * build side, no exchange of any kind, the fact scan feeds the
    * hash-agg directly — the technique production pipelines use for
    * enum-sized dimensions (status codes, countries, currencies). The
    * oracle deliberately runs the JOIN formulation, so the hash match
    * proves the elimination preserves semantics; RelationalSpec asserts
    * the plan contains no join node at all. INNER-JOIN equivalence needs
    * the dangling-key case stated: `element_at` yields NULL where a join
    * drops the row, so the decode filters decoded-NULL rows explicitly —
    * equivalent under ANY data, not just referentially-intact data
    * (review r11; this testdata happens to have full key coverage, but
    * the operator must not depend on it).
    */
  def dimDecode(spark: SparkSession, sfDir: String): DataFrame = {
    val m = nationMapMemo.memo(spark, sfDir)(
      Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap)
    Tables.customer(spark, sfDir)
      .select(element_at(typedLit(m), col("c_nationkey")).as("nation_name"),
        col("c_acctbal"))
      .filter(col("nation_name").isNotNull) // dangling keys drop, as a join would
      .groupBy("nation_name")
      .agg(count(lit(1)).as("n_cust"),
        round(dsum(col("c_acctbal")), 4).as("sum_acctbal"))
      .orderBy("nation_name")
  }

  /** GRID-PARTITIONED SPATIAL SELF-JOIN: all customer pairs within a
    * fixed radius — the proximity query behind store-coverage, fraud
    * rings and delivery batching. Coordinates derive deterministically
    * from the key as INTEGER centi-degrees, and the whole geometry stays
    * EXACT INTEGER: longitude is weighted by the fixed rational 766/1000
    * (cos 40° to three places — the equirectangular approximation at the
    * panel's latitude band, stated, not hidden) so the within-radius test
    * is (1000·Δlat)² + (766·Δlon)² ≤ (1000·R)² — no sin/cos anywhere,
    * hence bit-identical in both engines where haversine's trig would be
    * last-ulp hazardous.
    *
    * The plan is the standard grid join (the spatial analogue of the
    * banded range join): cells of side R index space; a true pair is
    * always within the per-axis stencil (±1 lat cell, ±2 lon cells — the
    * weighted ellipse's lon extent exceeds the cell side), so side A
    * expands to its 3×5 neighborhood (map-side, fan-out exactly 15) and
    * equi-joins side B's HOME cell — each pair found exactly once, no
    * dedup pass, no quadratic stage; the oracle deliberately runs the
    * quadratic form, so the hash match proves stencil completeness.
    * Cells are computed on a shifted non-negative domain because Spark's
    * `div` truncates toward zero while DuckDB's `//` floors — on
    * negatives those disagree (the q_scd2 class of portability bug,
    * dodged by construction). At 100 TB the cell key IS the partitioner:
    * skew (a dense city) splits by salting the hot cells exactly like a
    * hot join key.
    */
  def spatialJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val R = 200L // radius in centi-degrees (2 degrees)
    // quadratic key mixing: a LINEAR congruence (k·c mod m) makes every
    // pairwise delta a function of the key difference alone — a rank-1
    // lattice that can miss the radius for EVERY pair; the quadratic
    // term breaks the lattice and scatters genuinely (358 pairs at
    // sf0.01, ~an aggregated-pair per 4 points). The quadratic factor is
    // PRE-REDUCED mod 1000003 so m²·104729 ≤ 1.05e17 — k²·c would wrap a
    // Long near k ≈ 9.4e6 (Spark wraps silently where DuckDB errors,
    // breaking the bit-identical claim exactly at scale; review r11)
    def pts = Tables.customer(spark, sfDir)
      .withColumn("m", col("c_custkey") % 1000003L)
      .select(
        col("c_custkey").as("k"),
        ((col("m") * col("m") * 7919L
          + col("c_custkey") * 104729L) % 18000L).as("lat_s"), // [0, 18000)
        ((col("m") * col("m") * 104729L
          + col("c_custkey") * 7919L) % 36000L).as("lon_s")) // [0, 36000)
    // neighborhood width per axis = ceil(max delta / cell side): lat is
    // bounded by R (±1 cell) but the 766/1000 weight stretches lon to
    // floor(1000R/766) = 261 > R, so lon needs ±2 — the ellipse, not the
    // circle, dictates the stencil (3×5, fan-out 15)
    val a = pts
      .select(col("k").as("a"), col("lat_s").as("alat"), col("lon_s").as("alon"),
        explode(sequence(expr(s"lat_s div $R - 1"), expr(s"lat_s div $R + 1"))).as("cx"))
      .select(col("a"), col("alat"), col("alon"), col("cx"),
        explode(sequence(expr(s"alon div $R - 2"), expr(s"alon div $R + 2"))).as("cy"))
    val b = pts.select(col("k").as("b"), col("lat_s").as("blat"), col("lon_s").as("blon"),
      expr(s"lat_s div $R").as("cx"), expr(s"lon_s div $R").as("cy"))
    a.join(b, Seq("cx", "cy"))
      .filter(col("a") < col("b"))
      .withColumn("d2",
        (col("alat") - col("blat")) * (col("alat") - col("blat")) * 1000000L
          + (col("alon") - col("blon")) * (col("alon") - col("blon")) * (766L * 766L))
      .filter(col("d2") <= lit(1000L * R * 1000L * R))
      .select(col("a"), col("b"), col("d2"))
      .orderBy("a", "b")
  }

  /** RIGHT-TO-BE-FORGOTTEN PURGE CASCADE: a deletion-request panel
    * (customers with key ≡ 1 mod 53, ~2% — the deterministic stand-in for
    * a GDPR/CCPA request queue) propagates through the foreign-key chain
    * customer → orders → lineitem, and the audit receipt reports purged
    * vs retained row counts per table — the compliance evidence a real
    * erasure job must produce. Implementation is pure key semi-/anti-
    * joins: orders splits on a LEFT SEMI vs the panel (purged) with the
    * complement via LEFT ANTI; lineitem splits against the purged order
    * keys. Counts come from map-side-partial global aggregates of each
    * branch, so the whole receipt is three key-partitioned joins and six
    * one-row counts — no row is ever collected.
    *
    * 100 TB shape: the panel and purged-order keys are corpus-
    * proportional, so the joins shuffle on their keys (NO broadcast — a
    * request panel grows with the user base; broadcast hygiene applies)
    * and AQE picks broadcast only if a given batch happens to be tiny.
    * On a real lakehouse the same split feeds a copy-on-write rewrite of
    * affected files; the receipt here is the part the auditor keeps.
    */
  def purgeCascade(spark: SparkSession, sfDir: String): DataFrame = {
    val panel = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 53 === 1)
      .select(col("c_custkey"))
    val customers = Tables.customer(spark, sfDir).select("c_custkey")
    val orders = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val purgedOrders = orders
      .join(panel, orders("o_custkey") === panel("c_custkey"), "left_semi")
    val purgedOrderKeys = purgedOrders.select("o_orderkey")
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey")
    def counted(tbl: String, purged: DataFrame, total: DataFrame): DataFrame =
      purged.agg(count(lit(1)).as("purged")).crossJoin(
          total.agg(count(lit(1)).as("n_total")))
        .select(lit(tbl).as("tbl"), col("purged"),
          (col("n_total") - col("purged")).as("retained"))
    counted("customer", customers.join(panel, Seq("c_custkey"), "left_semi"), customers)
      .unionByName(counted("orders", purgedOrders, orders))
      .unionByName(counted("lineitem",
        li.join(purgedOrderKeys, li("l_orderkey") === purgedOrderKeys("o_orderkey"),
          "left_semi"), li))
      .orderBy("tbl")
  }

  /** PRE-JOIN CARDINALITY PROFILE (r12) — the "explain the shuffle before
    * you pay for it" audit a 100 TB join needs: for orders ⋈ lineitem on
    * orderkey, both sides reduce to key-grouped COUNT tables (each far
    * smaller than its fact — the profile never shuffles a fact row, only
    * (key, count) pairs), and the exact predicted join output is
    * Σ_k cnt_l(k)·cnt_r(k) — computed by joining the two count tables.
    * Alongside: per-side rows/distinct keys, the hottest key's fan-out
    * product (the skew ceiling one AQE split must absorb), and the
    * match-rate of each side (keys with a partner). All exact integers;
    * the planner-facing readout that decides broadcast vs shuffle vs
    * salting BEFORE the join runs.
    */
  def joinSizeProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.orders(spark, sfDir).groupBy(col("o_orderkey").as("k"))
      .agg(count(lit(1)).as("cl"))
    val r = Tables.lineitem(spark, sfDir).groupBy(col("l_orderkey").as("k"))
      .agg(count(lit(1)).as("cr"))
    val j = l.join(r, Seq("k"), "full_outer")
      .select(col("k"),
        coalesce(col("cl"), lit(0L)).as("cl"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    // fan-out products in DECIMAL(38,0) — the olsTrend overflow
    // discipline: a hot key at 100 TB can put cl*cr past Long range,
    // where a long product would wrap silently (ANSI off). The product
    // columns KEEP full decimal precision in the readout (no cast back
    // to long, which would null on overflow and lose exactly the safety
    // claimed here) but are RENDERED as strings — plain digit strings
    // are the one decimal form the driver's pandas hash renders
    // identically from Spark parquet and DuckDB (raw DECIMAL output is
    // the q_scd2 round-10 hash hazard; selfcheck.py bans it).
    val dec = "decimal(38,0)"
    j.agg(
        sum(col("cl")).as("lhs_rows"),
        sum(col("cr")).as("rhs_rows"),
        sum(when(col("cl") > 0, 1L).otherwise(0L)).as("lhs_keys"),
        sum(when(col("cr") > 0, 1L).otherwise(0L)).as("rhs_keys"),
        sum(col("cl").cast(dec) * col("cr").cast(dec)).cast(dec).cast("string").as("est_out_rows"),
        max(col("cl").cast(dec) * col("cr").cast(dec)).cast(dec).cast("string").as("max_key_fanout"),
        sum(when(col("cl") > 0 && col("cr") > 0, 1L).otherwise(0L)).as("matched_keys"))
  }
}
