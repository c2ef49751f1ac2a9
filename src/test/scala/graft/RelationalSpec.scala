package graft

import graft.operators.Relational
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {

  test("semi and anti joins partition the customer table") {
    val semi = Relational.semiJoin(spark, sf).count()
    val anti = Relational.antiJoin(spark, sf).count()
    val all = Tables.customer(spark, sf).count()
    assert(semi + anti == all)
  }

  test("full outer join covers both inputs' nation keys") {
    val fo = Relational.fullOuterJoin(spark, sf)
    val keys = fo.select("nationkey").collect().map(_.getLong(0)).toSet
    val custKeys = Tables.customer(spark, sf).filter(col("c_acctbal") > 9000)
      .select(col("c_nationkey").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    val suppKeys = Tables.supplier(spark, sf).filter(col("s_acctbal") > 5000)
      .select(col("s_nationkey").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    assert(keys == custKeys.union(suppKeys))
  }

  test("left outer join keeps every order exactly once") {
    val lo = Relational.leftOuterJoin(spark, sf)
    assert(lo.count() == Tables.orders(spark, sf).count())
  }

  test("as-of join: prev_click_us is monotone per user and never after the purchase") {
    val asof = Relational.asOfJoin(spark, sf)
    val bad = asof.filter(col("prev_click_us") =!= -1)
      .join(Tables.events(spark, sf).select(col("event_id"), col("ts")), "event_id")
      .filter(col("prev_click_us") > col("ts") / 1000)
    assert(bad.count() == 0)
  }

  test("native as-of join equals the window composition row-for-row") {
    val window = Relational.asOfJoin(spark, sf).collect().toSeq
    val custom = Relational.asOfJoinCustom(spark, sf).collect().toSeq
    assert(custom == window)
  }

  test("native as-of join plans one pass: no window, no nested loop") {
    val plan = Relational.asOfJoinCustom(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  /** Drive the native operator directly over handcrafted frames — the modes
    * and null paths the events table can't pin down deterministically.
    */
  private def asofFixture(leftRows: Seq[(java.lang.Long, java.lang.Long)],
                          rightRows: Seq[(java.lang.Long, java.lang.Long)],
                          forward: Boolean, tolerance: Long): Seq[(Long, Long, Long)] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.plans.AsOfJoin
    import spark.implicits._
    val l = leftRows.toDF("k", "t").selectExpr("k", "t")
    val r = rightRows.toDF("rk", "rt")
    val la = l.queryExecution.analyzed
    val ra = r.queryExecution.analyzed
    val Seq(lk, lt) = la.output
    val Seq(rk, rt) = ra.output
    val attr = AttributeReference("m", org.apache.spark.sql.types.LongType, nullable = false)()
    ColumnShim.ofRows(spark, AsOfJoin(la, ra, lk, rk, lt, rt, attr, forward, tolerance))
      .orderBy("k", "t").collect().toSeq
      .map { row =>
        def nl(i: Int): Long = if (row.isNullAt(i)) Long.MinValue else row.getLong(i)
        (nl(0), nl(1), row.getLong(2))
      }
  }

  test("as-of tolerance: stale matches fall back to the sentinel") {
    val got = asofFixture(
      leftRows = Seq((1L: java.lang.Long, 100L: java.lang.Long), (1L, 250L), (1L, 300L)),
      rightRows = Seq((1L: java.lang.Long, 90L: java.lang.Long), (1L, 210L)),
      forward = false, tolerance = 50L)
    // t=100 matches 90 (gap 10); t=250 matches 210 (gap 40); t=300's best
    // is 210 but the 90-gap exceeds 50 → sentinel
    assert(got == Seq((1L, 100L, 90L), (1L, 250L, 210L), (1L, 300L, -1L)))
  }

  test("as-of forward: first right time at or after, shared across left rows") {
    val got = asofFixture(
      leftRows = Seq((1L: java.lang.Long, 100L: java.lang.Long), (1L, 150L), (1L, 200L), (2L, 10L)),
      rightRows = Seq((1L: java.lang.Long, 200L: java.lang.Long), (2L, 5L)),
      forward = true, tolerance = -1L)
    // both t=100 and t=150 see the SAME frontier row 200 (peeked, not
    // consumed); t=200 matches at equality; key 2's only click is before
    assert(got == Seq((1L, 100L, 200L), (1L, 150L, 200L), (1L, 200L, 200L), (2L, 10L, -1L)))
  }

  test("as-of forward tolerance bounds the look-ahead gap") {
    val got = asofFixture(
      leftRows = Seq((1L: java.lang.Long, 100L: java.lang.Long), (1L, 180L)),
      rightRows = Seq((1L: java.lang.Long, 200L: java.lang.Long)),
      forward = true, tolerance = 30L)
    assert(got == Seq((1L, 100L, -1L), (1L, 180L, 200L)))
  }

  test("payload as-of join agrees with the time-only form, sentinels aligned") {
    val timeOnly = Relational.asOfJoin(spark, sf)
      .select("event_id", "prev_click_us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val payload = Relational.asOfJoinPayload(spark, sf).collect()
    assert(payload.nonEmpty)
    payload.foreach { r =>
      val (eid, cUs, cEvent) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(cUs == timeOnly(eid), s"event $eid: $cUs != ${timeOnly(eid)}")
      // payload sentinels fire together with the time sentinel
      assert((cUs == -1L) == (cEvent == -1L), r.toString)
    }
  }

  test("as-of nearest picks the closer of backward/forward, ties backward") {
    import spark.implicits._
    // ground truth from a driver-side recomputation over the raw events
    val evs = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .as[(Long, Long, String, Long)].collect()
    val clicksByUser = evs.filter(_._3 == "click")
      .groupBy(_._2).map { case (u, rs) => u -> rs.map(_._4).sorted }
    val want = evs.filter(_._3 == "purchase").map { case (eid, u, _, us) =>
      val cs = clicksByUser.getOrElse(u, Array.empty[Long])
      val prev = cs.filter(_ <= us).lastOption
      val next = cs.find(_ >= us)
      val nearest = (prev, next) match {
        case (None, None) => -1L
        case (Some(p), None) => p
        case (None, Some(n)) => n
        case (Some(p), Some(n)) => if (us - p <= n - us) p else n
      }
      eid -> nearest
    }.toMap
    val got = Relational.asOfJoinNearest(spark, sf)
      .select("event_id", "nearest_click_us").as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("as-of null keys: right nulls are skipped, left nulls survive with sentinel") {
    val got = asofFixture(
      leftRows = Seq((null: java.lang.Long, 100L: java.lang.Long), (1L: java.lang.Long, 100L), (1L, null: java.lang.Long)),
      rightRows = Seq((null: java.lang.Long, 50L: java.lang.Long), (1L: java.lang.Long, null: java.lang.Long), (1L, 80L)),
      forward = false, tolerance = -1L)
    // null-key/time right rows can never match; null left rows still emit
    val m = got.map(r => r._3)
    assert(got.size == 3 && m.count(_ == 80L) == 1 && m.count(_ == -1L) == 2, got.toString)
  }

  test("banded theta join matches the broadcast nested-loop form row-for-row") {
    val nl = Relational.thetaJoin(spark, sf).collect().toSeq
    val banded = Relational.thetaJoinBanded(spark, sf).collect().toSeq
    assert(nl == banded)
  }

  test("banded theta join plan has no nested-loop and no growing broadcast") {
    val plan = Relational.thetaJoinBanded(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("banded range join equals the plain form on the corpus") {
    val plain = Relational.rangeJoin(spark, sf).collect().toSeq
    val banded = Relational.rangeJoinBanded(spark, sf).collect().toSeq
    assert(plain == banded)
  }

  test("banded range join survives a planted hot-user: exact counts, equi-join plan") {
    import spark.implicits._
    // one user owning 50k events across ~30 days (the skew the per-user
    // self-join serializes onto one task) plus two small control users
    val rnd = new scala.util.Random(11)
    val dayUs = 86400000000L
    val hot = Seq.fill(50000)((7L, (rnd.nextDouble() * 30 * dayUs).toLong))
    val cold = Seq.tabulate(100)(i => (8L + i % 2, i.toLong * 1800000000L))
    val ev = (hot ++ cold).toDF("user_id", "us")
    val got = Relational.rangeJoinBandedFrom(ev)
      .as[(Long, Long)].collect().toMap
    // independent recompute: per-user sort + two-pointer window count
    val want = (hot ++ cold).groupBy(_._1).flatMap { case (u, rows) =>
      val ts = rows.map(_._2).sorted.toArray
      var j = 0; var n = 0L
      for (i <- ts.indices) {
        if (j < i + 1) j = i + 1
        while (j < ts.length && ts(j) <= ts(i) + 3600000000L) j += 1
        // partners strictly after ts(i): equal timestamps don't pair (b > a)
        n += ts.view.slice(i + 1, j).count(_ > ts(i))
      }
      if (n > 0) Some(u -> n) else None
    }
    assert(got == want)
    val plan = Relational.rangeJoinBandedFrom(ev).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("banded interval join equals the naive inequality join, no cross product") {
    import org.apache.spark.sql.functions._
    val W = 18000L
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000000000").as("sec"),
        expr("ts div 86400000000000").as("day"))
    val iv = ev.groupBy("user_id", "day").agg(min("sec").as("s"), max("sec").as("e"))
    val wins = ev.agg(min("sec").as("tmin"), max("sec").as("tmax"))
      .select(explode(sequence(expr("(tmin div 86400) * 86400"), col("tmax"),
        lit(W))).as("w_start"))
    val naive = iv.crossJoin(wins)
      .filter(col("s") <= col("w_start") + lit(W - 1) && col("w_start") <= col("e"))
      .select(col("user_id"), col("day"), col("w_start"),
        (least(col("e"), col("w_start") + lit(W - 1))
          - greatest(col("s"), col("w_start")) + lit(1L)).as("overlap_sec"))
      .collect().toSet
    val banded = Relational.intervalJoin(spark, sf).collect().toSet
    assert(banded == naive)
    assert(banded.nonEmpty)
    // the banded plan must be an equi-join, not a nested loop
    val plan = Relational.intervalJoin(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("dsum is exact: matches decimal sum on a known frame") {
    import spark.implicits._
    val df = Seq(0.1, 0.2, 0.3, 1e9, -1e9).toDF("x")
    val got = df.agg(Relational.dsum(col("x"))).head.getDouble(0)
    assert(math.abs(got - 0.6) < 1e-12)
  }

  test("unpivot melts each lineitem measure once: counts and totals match direct aggs") {
    import spark.implicits._
    val rows = Relational.unpivotMeasures(spark, sf)
      .select("measure", "n", "total").as[(String, Long, Double)].collect()
    val nLine = Tables.lineitem(spark, sf).count()
    assert(rows.length == 4 && rows.forall(_._2 == nLine))
    val direct = Tables.lineitem(spark, sf)
      .agg(Relational.dsum(col("l_quantity")), Relational.dsum(col("l_tax")))
      .head
    val byM = rows.map(r => r._1 -> r._3).toMap
    assert(math.abs(byM("l_quantity") - direct.getDouble(0)) < 1e-9)
    assert(math.abs(byM("l_tax") - direct.getDouble(1)) < 1e-9)
  }

  test("lateral top-3 equals the window-ranked top-3 per nation") {
    import spark.implicits._
    val got = Relational.lateralTopCustomers(spark, sf)
      .select("n_name", "c_name").as[(String, String)].collect().toSet
    val want = Tables.customer(spark, sf)
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("n_name")
          .orderBy(desc("c_acctbal"), asc("c_name"))))
      .filter(col("rn") <= 3)
      .select("n_name", "c_name").as[(String, String)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("not-exists equals the DataFrame anti join, and is non-empty") {
    val got = Relational.notExistsCustomers(spark, sf).select("c_custkey")
    val want = Tables.customer(spark, sf).join(
      Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT"),
      col("c_custkey") === col("o_custkey"), "left_anti").select("c_custkey")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("recursive ancestor chain: depth is the doc_id bit length, recomputed driver-side") {
    import spark.implicits._
    val rows = Relational.recursiveAncestors(spark, sf)
      .select("doc_id", "chain_len", "n_nodes", "node_sum")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { case (id, len, n, sum) =>
      var (node, d, s) = (id, 0L, id)
      while (node > 0) { node /= 2; d += 1; s += node }
      assert(len == d && n == d + 1 && sum == s, s"doc $id")
    }
  }

  test("scd2: intervals tile each user's timeline, one current version, driver replay agrees") {
    import spark.implicits._
    val dim = Relational.scd2Build(spark, sf)
      .select("user_id", "version", "event_type", "valid_from_sec", "valid_to_sec",
        "is_current", "n_events")
      .as[(Long, Long, String, Long, Option[Long], Boolean, Long)]
      .collect().groupBy(_._1)
    val events = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("ts_sec"))
      .as[(Long, Long, Long, String, Long)].collect()
      .groupBy(_._1).map { case (u, rows) => u -> rows.sortBy(r => (r._2, r._3)) }
    assert(dim.keySet == events.keySet)
    dim.foreach { case (u, versions) =>
      val vs = versions.sortBy(_._2)
      // exactly one open-ended current version, and it is the last one
      assert(vs.count(_._6) == 1 && vs.last._6 && vs.last._5.isEmpty)
      // versions are 1..n and intervals tile: valid_to == next valid_from
      assert(vs.map(_._2).toSeq == (1L to vs.length).toSeq)
      vs.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5.contains(b._4), s"user $u: interval gap at version ${a._2}")
          assert(a._3 != b._3, s"user $u: adjacent versions share event_type")
        case _ =>
      }
      // driver replay: run-length encode the user's event_type sequence
      val runs = events(u).map(_._4).foldLeft(Vector.empty[(String, Long)]) {
        case (acc, t) if acc.nonEmpty && acc.last._1 == t =>
          acc.init :+ (t, acc.last._2 + 1)
        case (acc, t) => acc :+ (t, 1L)
      }
      assert(vs.map(v => (v._3, v._7)).toSeq == runs, s"user $u: run mismatch")
    }
  }

  test("skyline equals the quadratic dominance definition, recomputed driver-side") {
    import spark.implicits._
    val all = Tables.part(spark, sf)
      .select("p_partkey", "p_retailprice", "p_size")
      .as[(Long, Double, Int)].collect()
    val want = all.filter { p =>
      !all.exists(d => d._2 >= p._2 && d._3 <= p._3 && (d._2 > p._2 || d._3 < p._3))
    }.map(p => (p._1, p._2, p._3.toLong)).sortBy(_._1).toSeq
    val got = Relational.skylineParts(spark, sf)
      .as[(Long, Double, Long)].collect().toSeq
    assert(got == want)
    // the frontier is a genuine shortlist, not everything or nothing
    assert(got.nonEmpty && got.size < all.length)
  }

  test("native skyline node equals the composed sweep and plans partial->final") {
    import spark.implicits._
    val composed = Relational.skylineParts(spark, sf)
      .as[(Long, Double, Long)].collect().toSeq
    val native = Relational.skylinePartsCustom(spark, sf)
      .as[(Long, Double, Long)].collect().toSeq
    assert(native == composed)
    val plan = Relational.skylinePartsCustom(spark, sf)
      .queryExecution.executedPlan.toString
    // per-partition dominance prune BEFORE the exchange, one global gather
    // (SparkPlan.nodeName strips the Exec suffix in the rendered tree)
    assert("- Skyline ".r.findAllIn(plan).length == 2, plan)
    assert("Exchange SinglePartition".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("table diff classifies adds/removes/changes exactly (driver-side replay)") {
    import spark.implicits._
    val base = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .as[(Long, String, String, Long)].collect()
    val a = base.filter(_._1 % 97 != 3).map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val b = base.filter(_._1 % 89 != 7)
      .map(r => r._1 -> ((r._2, r._3, if (r._1 % 13 == 0) r._4 + 500 else r._4))).toMap
    val want = (a.keySet ++ b.keySet).flatMap { k =>
      (a.get(k), b.get(k)) match {
        case (None, Some(_))              => Some(k -> "added")
        case (Some(_), None)              => Some(k -> "removed")
        case (Some(x), Some(y)) if x != y => Some(k -> "changed")
        case _                            => None
      }
    }.toSeq.sorted
    val got = Relational.tableDiff(spark, sf).as[(Long, String)].collect().toSeq
    assert(got == want)
    // all three classes genuinely exercised by the snapshot construction
    assert(got.map(_._2).toSet == Set("added", "removed", "changed"))
  }

  test("cdc apply equals a driver-side MERGE replay, all three verbs exercised") {
    import spark.implicits._
    val base = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .as[(Long, String, String, Long)].collect()
    val deletes = base.filter(_._1 % 101 == 5).map(_._1).toSet
    val updates = base.filter(r => r._1 % 11 == 3 && r._1 % 101 != 5)
      .map(r => r._1 -> ((r._2, "0-MERGED", r._4 + 250L))).toMap
    val inserts = base.filter(_._1 % 131 == 7)
      .map(r => (r._1 + 10000000L) -> (("N", r._3, r._4))).toMap
    val want = (base.collect {
      case (k, s, p, c) if !deletes(k) =>
        k -> updates.getOrElse(k, (s, p, c))
    } ++ inserts).sortBy(_._1).map { case (k, (s, p, c)) => (k, s, p, c) }.toSeq
    val got = Relational.cdcApply(spark, sf).as[(Long, String, String, Long)]
      .collect().toSeq
    assert(got == want)
    // each verb genuinely fires on this fixture
    assert(deletes.nonEmpty && updates.nonEmpty && inserts.nonEmpty)
    // the MERGE is one join — no cartesian, no second join stage
    val plan = Relational.cdcApply(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(plan).length == 1, plan)
  }

  test("scd2 incremental: stored dimension + delta merge equals the full rebuild") {
    import spark.implicits._
    val full = Relational.scd2Build(spark, sf)
      .as[(Long, Long, String, Long, Option[Long], Boolean, Long)].collect().toSeq
    val incr = Relational.scd2Incremental(spark, sf)
      .as[(Long, Long, String, Long, Option[Long], Boolean, Long)].collect().toSeq
    assert(incr == full)
    // the split is real: the stored dimension excludes the last UTC day
    val (_, cutoff) = Relational.scd2DimStore(spark, sf)
    val nDelta = Tables.events(spark, sf).filter(col("ts_sec") >= cutoff).count()
    val nAll = Tables.events(spark, sf).count()
    assert(nDelta > 0 && nDelta < nAll, s"delta=$nDelta of $nAll")
  }

  test("scd2 plans with a single exchange (every stage reuses the user_id clustering)") {
    val plan = Relational.scd2Build(spark, sf).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$plan")
  }

  test("time travel: exactly the scd2 interval containing the cutoff, one row per covered user") {
    import spark.implicits._
    val t = Relational.TimeTravelCutoffSec
    val dim = Relational.scd2Build(spark, sf)
      .as[(Long, Long, String, Long, Option[Long], Boolean, Long)].collect()
    val want = dim.filter { case (_, _, _, from, to, _, _) =>
      from <= t && to.forall(_ > t)
    }.map { case (u, v, et, from, _, _, _) => (u, v, et, from) }.sortBy(_._1)
    val got = Relational.scd2AsOf(spark, sf)
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(got == want.toSeq)
    // at most one state per user, and only users active before the cutoff
    assert(got.map(_._1).distinct.length == got.length)
    assert(got.nonEmpty && got.length <= dim.map(_._1).distinct.length)
  }

  test("dim decode eliminates the join entirely: no join node, values equal the join form") {
    import graft.operators.Relational
    val df = Relational.dimDecode(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), s"decode still joins:\n${plan.take(1500)}")
    val want = Tables.customer(spark, sf)
      .join(Tables.nation(spark, sf),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation_name"))
      .agg(count(lit(1)).as("n_cust"),
        round(Relational.dsum(col("c_acctbal")), 4).as("sum_acctbal"))
      .orderBy("nation_name").collect().toSeq
    assert(df.collect().toSeq == want && want.nonEmpty)
  }

  test("SQL surface: TPC-H Q3/Q5 plan with pushed filters and broadcast dims") {
    import graft.operators.SqlSurface
    val q3 = SqlSurface.tpchQ3(spark, sf)
    val p3 = q3.queryExecution.executedPlan.toString
    // the segment and both date filters reach the scans as pushed filters
    assert(p3.contains("PushedFilters") && p3.contains("c_mktsegment"), p3.take(2000))
    assert(q3.collect().length == 10)
    val q5 = SqlSurface.tpchQ5(spark, sf)
    val p5 = q5.queryExecution.executedPlan.toString
    // the 25-row nation and 5-row region dims broadcast, never shuffle
    assert(p5.contains("BroadcastHashJoin"), p5.take(2000))
    val rows = q5.collect()
    assert(rows.nonEmpty && rows.map(_.getDouble(1)).forall(_ > 0))
    // revenue strictly descending (the pinned output order)
    val rev = rows.map(_.getDouble(1)).toSeq
    assert(rev == rev.sorted.reverse)
  }

  test("SQL surface r12: Q7 broadcasts both nation ends; Q4 plans a semi join; Q18's subquery aggregates before the IN") {
    import graft.operators.SqlSurface
    val q7 = SqlSurface.tpchQ7(spark, sf)
    val p7 = q7.queryExecution.executedPlan.toString
    // nation joins BOTH ends of the fact chain as broadcasts — the OR
    // clause must not devolve the join graph into a nested loop
    assert(p7.contains("BroadcastHashJoin") && !p7.contains("CartesianProduct"),
      p7.take(2000))
    // row content is the driver oracle's job at sf0.01 (4 rows there); the
    // bilateral pair has no volume in the sf0.001 smoke slice
    q7.collect()
    val q4 = SqlSurface.tpchQ4(spark, sf)
    val p4 = q4.queryExecution.executedPlan.toString
    assert(p4.contains("LeftSemi"), p4.take(2000))
    assert(q4.collect().nonEmpty)
    val q18 = SqlSurface.tpchQ18(spark, sf)
    val rows = q18.collect()
    assert(rows.length <= 100 && rows.nonEmpty)
    // sum_qty really clears the HAVING floor on every surviving order
    assert(rows.forall(_.getDouble(5) > 150.0))
  }

  test("SQL surface r13: Q8 pushes the part filter, broadcasts all four dim decodes, no nested loop") {
    import graft.operators.SqlSurface
    val q8 = SqlSurface.tpchQ8(spark, sf)
    val p8 = q8.queryExecution.executedPlan.toString
    // the p_type filter reaches the part scan pushed; nation (twice) and
    // region are broadcast decodes; the 8-relation graph never devolves
    assert(p8.contains("PushedFilters") && p8.contains("p_type"), p8.take(2000))
    assert(p8.contains("BroadcastHashJoin"), p8.take(2000))
    assert(!p8.contains("CartesianProduct") && !p8.contains("BroadcastNestedLoopJoin"),
      p8.take(2000))
    // shares are genuine ratios in [0, 1]; row content is the driver
    // oracle's job at sf0.01
    val rows = q8.collect()
    assert(rows.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
  }

  test("spatial grid join equals the quadratic reference; no cartesian stage in the plan") {
    import spark.implicits._
    val keys = Tables.customer(spark, sf).select("c_custkey").as[Long].collect()
    val pts = keys.map { k =>
      val m = k % 1000003L
      (k, (m * m * 7919L + k * 104729L) % 18000L, (m * m * 104729L + k * 7919L) % 36000L)
    }
    val want = (for {
      a <- pts; b <- pts if a._1 < b._1
      dlat = a._2 - b._2; dlon = a._3 - b._3
      d2 = dlat * dlat * 1000000L + dlon * dlon * 586756L
      if d2 <= 40000000000L
    } yield (a._1, b._1, d2)).sortBy(t => (t._1, t._2)).toSeq
    val df = operators.Relational.spatialJoin(spark, sf)
    val got = df.as[(Long, Long, Long)].collect().toSeq
    assert(got == want && got.nonEmpty)
    // the grid join never runs a quadratic stage
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"quadratic stage in plan:\n$plan")
  }
}
