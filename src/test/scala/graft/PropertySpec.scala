package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.2.3) over ScalaCheck-generated
  * corpora — the operators must hold these for ANY input, not just the
  * testdata. Raw ScalaCheck generators with fixed seeds (the scalatest
  * bridge artifact isn't in the offline cache), 20 samples per property.
  */
class PropertySpec extends SparkSpec {

  private val word = Gen.oneOf("spark", "scan", "join", "agg", "row", "col")
  private val doc = Gen.nonEmptyListOf(word).map(_.take(12).mkString(" "))
  private val corpus = Gen.nonEmptyListOf(doc).map(_.take(20))

  private def samples[A](g: Gen[A], n: Int = 20): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("wordcount totals are invariant under document order") {
    import spark.implicits._
    def counts(ds: Seq[String]): Seq[(String, Long)] =
      ds.toDF("text")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy("w").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    samples(corpus, 8).foreach { docs =>
      assert(counts(docs) == counts(docs.reverse))
    }
  }

  test("dedup by text is idempotent and conservative") {
    import spark.implicits._
    samples(corpus, 8).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = df.groupBy("text").agg(min("doc_id").as("doc_id"))
      val twice = once.groupBy("text").agg(min("doc_id").as("doc_id"))
      assert(once.count() == twice.count())
      assert(once.count() == docs.distinct.size)
    }
  }

  test("top-k by count equals local sorted-take for any k") {
    import spark.implicits._
    samples(Gen.zip(corpus, Gen.choose(1, 8)), 8).foreach { case (docs, k) =>
      val local = docs.mkString(" ").split(" ").toSeq
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .sortBy { case (w, c) => (-c, w) }.take(k)
      val got = docs.toDF("text")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), asc("w")).limit(k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == local)
    }
  }

  test("jaccard similarity is symmetric and bounded on generated token sets") {
    import spark.implicits._
    val pair = Gen.zip(Gen.nonEmptyListOf(word), Gen.nonEmptyListOf(word))
    val rows = samples(pair).map { case (a, b) => (a.distinct, b.distinct) }
    val df = rows.toDF("ta", "tb")
    val inter = size(array_intersect(col("ta"), col("tb")))
    val interR = size(array_intersect(col("tb"), col("ta")))
    val j = df.select(
      (inter.cast("double") / (size(col("ta")) + size(col("tb")) - inter)).as("jab"),
      (interR.cast("double") / (size(col("tb")) + size(col("ta")) - interR)).as("jba"))
    assert(j.filter(col("jab") =!= col("jba")).count() == 0)
    assert(j.filter(col("jab") < 0 || col("jab") > 1).count() == 0)
  }

  test("connectedComponents equals union-find on random graphs") {
    import spark.implicits._
    import graft.operators.Dedup
    val edge = Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L))
      .suchThat { case (a, b) => a != b }
      .map { case (a, b) => (a min b, a max b) }
    val graph = Gen.listOfN(10, edge).map(_.distinct)
    samples(graph, 5).filter(_.nonEmpty).foreach { edges =>
      // independent ground truth: union-find pointing larger roots at
      // smaller ones, so each root is its component minimum
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      val want = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(m => (m, find(m), m == find(m))).toSet
      val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
        .as[(Long, Long, Boolean)].collect().toSet
      assert(got == want, s"edges=$edges")
    }
  }

  test("ShingleHashes equals a reference Scala implementation on any input") {
    import spark.implicits._
    import graft.functions.TextHashFunctions.shingleHashes
    // reference implementation, written independently of the kernel: split
    // on single spaces keeping empties, 3-gram shingles (token fallback),
    // string-distinct, md5-top-60 per shingle, sorted
    def ref(text: String): Seq[Long] = {
      val w = text.split(" ", -1).toSeq
      val sh = if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSeq else w
      sh.distinct.map { s =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
        val hex = d.take(8).map("%02x".format(_)).mkString.take(15)
        java.lang.Long.parseLong(hex, 16)
      }.sorted
    }
    val freeText = Gen.listOf(Gen.oneOf(word, Gen.const(""), Gen.const("é"),
      Gen.alphaNumStr.map(_.take(6)))).map(_.mkString(" "))
    val texts = samples(freeText, 40).distinct
    val got = texts.toDF("text").select(col("text"), shingleHashes(col("text")).as("hs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    texts.foreach { t => assert(got(t) == ref(t), s"mismatch for '$t'") }
  }

  test("jaccardSorted equals set-based Jaccard on generated hash arrays") {
    import spark.implicits._
    import graft.functions.TextHashFunctions.jaccardSorted
    val arr = Gen.nonEmptyListOf(Gen.choose(0L, 40L)).map(_.distinct.sorted)
    val pairs = samples(Gen.zip(arr, arr), 40)
    val df = pairs.toDF("a", "b")
      .select(col("a"), col("b"), jaccardSorted(col("a"), col("b")).as("j"))
    val got = df.collect().map(r => (r.getSeq[Long](0).toSeq, r.getSeq[Long](1).toSeq, r.getDouble(2)))
    got.foreach { case (a, b, j) =>
      val inter = a.toSet.intersect(b.toSet).size
      val want = inter.toDouble / (a.size + b.size - inter)
      assert(j == want, s"jaccard($a, $b) = $j, want $want")
    }
  }

  test("SimHash60 fingerprints of similar docs are close, dissimilar far") {
    import spark.implicits._
    import graft.functions.TextHashFunctions.{shingleHashes, simHash60}
    // a doc and a 1-word-edited copy share most shingles -> small hamming;
    // two unrelated random docs -> hamming near 30 (half of 60 bits)
    val longDoc = Gen.listOfN(30, word).map(_.mkString(" "))
    val docs = samples(longDoc, 10).distinct
    val edited = docs.map(d => d.split(" ").toSeq.updated(15, "EDIT").mkString(" "))
    val df = (docs ++ edited).toDF("text")
      .select(col("text"), simHash60(shingleHashes(col("text"))).as("f"))
    val fp = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    docs.zip(edited).filter { case (d, e) => d != e }.foreach { case (d, e) =>
      val ham = java.lang.Long.bitCount(fp(d) ^ fp(e))
      assert(ham <= 20, s"edited copy hamming $ham too far")
    }
  }

  test("native AsOfJoin equals a local reference on generated data") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.plans.AsOfJoin
    val leftGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 50L)))
    val rightGen = Gen.listOf(Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 50L)))
    samples(Gen.zip(leftGen, rightGen), 8).foreach { case (lrows, rrows) =>
      val lids = lrows.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val ldf = lids.toDF("id", "k", "t")
      val rdf = (if (rrows.isEmpty) Seq((-99L, -99L)) else rrows).toDF("rk", "rt")
      val la = ldf.queryExecution.analyzed
      val ra = rdf.queryExecution.analyzed
      val Seq(id, k, t) = la.output
      val Seq(rk, rt) = ra.output
      val attr = AttributeReference("asof", org.apache.spark.sql.types.LongType, nullable = false)()
      val got = ColumnShim.ofRows(spark, AsOfJoin(la, ra, k, rk, t, rt, attr))
        .select("id", "asof").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val rSeq = if (rrows.isEmpty) Seq((-99L, -99L)) else rrows
      lids.foreach { case (i, lk, lt) =>
        val cand = rSeq.filter { case (a, b) => a == lk && b <= lt }.map(_._2)
        val want = if (cand.isEmpty) -1L else cand.max
        assert(got(i) == want, s"left ($lk,$lt): got ${got(i)}, want $want")
      }
    }
  }

  test("GroupTopK custom operator equals sorted-take on generated data") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Descending, SortOrder}
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.plans.GroupTopK
    val rowsGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 1000L), Gen.choose(-100.0, 100.0)))
    samples(rowsGen, 8).foreach { rows =>
      val distinctRows = rows.distinct
      val df = distinctRows.toDF("g", "id", "v")
      val analyzed = df.queryExecution.analyzed
      val Seq(g, id, v) = analyzed.output
      val rank = AttributeReference("rn", org.apache.spark.sql.types.LongType, nullable = false)()
      val got = ColumnShim.ofRows(spark,
        GroupTopK(Seq(g), Seq(SortOrder(v, Descending), SortOrder(id, Ascending)), 2, rank, analyzed))
        .select("g", "rn", "id", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val local = distinctRows.groupBy(_._1).toSeq.flatMap { case (grp, rs) =>
        rs.sortBy(r => (-r._3, r._2)).take(2).zipWithIndex
          .map { case ((_, id0, v0), i) => (grp, (i + 1).toLong, id0, v0) }
      }.toSet
      assert(got == local)
    }
  }

  test("SymSpell deletion neighborhood is recall-complete for ed <= 2 on random words") {
    import spark.implicits._
    def ed(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val wordGen = for {
      n <- Gen.choose(1, 8)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString // 3-letter alphabet makes ed<=2 collisions plentiful
    val words = samples(Gen.listOfN(30, wordGen), 4).flatten.distinct
    val keys = graft.operators.Curation.withDeletionKeys(words.toDF("w"))
      .select("w", "keys").as[(String, Seq[String])].collect().toMap
    val close = for (a <- words; b <- words if a < b && ed(a, b) <= 2) yield (a, b)
    assert(close.nonEmpty) // the property is exercised, not vacuous
    close.foreach { case (a, b) =>
      assert(keys(a).toSet.intersect(keys(b).toSet).nonEmpty,
        s"ed(${a}, ${b}) = ${ed(a, b)} but deletion neighborhoods are disjoint")
    }
  }

  test("linear skyline equals brute-force dominance on generated frames") {
    import spark.implicits._
    // small value domains force heavy price ties, duplicate points, and
    // single-point frontiers — the degenerate shapes the grouped sweep
    // must survive
    val pt = Gen.zip(Gen.choose(0, 9), Gen.choose(0, 9))
    val frame = Gen.nonEmptyListOf(pt).map(_.take(40))
    samples(frame, 10).foreach { pts =>
      val df = pts.zipWithIndex
        .map { case ((p, s), i) => (i.toLong, p.toDouble, s) }
        .toDF("p_partkey", "p_retailprice", "p_size")
      val got = operators.Relational.skylineOf(df)
        .select("p_partkey").as[Long].collect().toSet
      val gotNative = operators.Relational.skylineNativeOf(spark, df)
        .select("p_partkey").as[Long].collect().toSet
      val arr = pts.map { case (p, s) => (p.toDouble, s) }
      val want = pts.indices.filter { i =>
        val (p, s) = arr(i)
        !arr.exists { case (dp, ds) => dp >= p && ds <= s && (dp > p || ds < s) }
      }.map(_.toLong).toSet
      assert(got == want, s"points=$pts")
      assert(gotNative == want, s"native node: points=$pts")
    }
  }

  test("skyline DROPS null-criterion rows in both engine forms (declared semantics, ADVICE r10)") {
    import spark.implicits._
    // a bare SQL NOT EXISTS would EMIT a null-keyed row (its dominance
    // subquery is vacuously empty under three-valued logic); this engine
    // declares null criteria INCOMPARABLE and excludes them, and the
    // registered oracle carries a matching IS NOT NULL pre-filter. This
    // pins the divergence-prone case the part data never exercises.
    val pt = Gen.zip(Gen.option(Gen.choose(0, 9)), Gen.option(Gen.choose(0, 9)))
    val frame = Gen.nonEmptyListOf(pt).map(_.take(40))
    samples(frame, 10).foreach { pts =>
      val df = pts.zipWithIndex
        .map { case ((p, s), i) => (i.toLong, p.map(_.toDouble), s) }
        .toDF("p_partkey", "p_retailprice", "p_size")
      val got = operators.Relational.skylineOf(df)
        .select("p_partkey").as[Long].collect().toSet
      val gotNative = operators.Relational.skylineNativeOf(spark, df)
        .select("p_partkey").as[Long].collect().toSet
      // brute force over the NON-NULL points only; null rows never appear
      val full = pts.zipWithIndex.collect {
        case ((Some(p), Some(s)), i) => (i.toLong, p.toDouble, s)
      }
      val want = full.filter { case (_, p, s) =>
        !full.exists { case (_, dp, ds) => dp >= p && ds <= s && (dp > p || ds < s) }
      }.map(_._1).toSet
      assert(got == want, s"points=$pts")
      assert(gotNative == want, s"native node: points=$pts")
    }
  }

  test("signature diff classifies generated snapshot pairs like a map diff") {
    import spark.implicits._
    // keys 0..19, values 0..3: heavy key overlap and frequent value
    // collisions exercise every branch (same-sig, changed, one-sided)
    val snap = Gen.listOf(Gen.zip(Gen.choose(0L, 19L), Gen.choose(0, 3)))
      .map(_.take(25).toMap)
    samples(Gen.zip(snap, snap), 10).foreach { case (ma, mb) =>
      def sig(df: org.apache.spark.sql.DataFrame, out: String) =
        df.select(col("k").as("o_orderkey"), md5(col("v").cast("string")).as(out))
      val a = sig(ma.toSeq.toDF("k", "v"), "sig_a")
      val b = sig(mb.toSeq.toDF("k", "v"), "sig_b")
      val got = operators.Relational.diffOf(a, b)
        .select("o_orderkey", "change_type").as[(Long, String)]
        .collect().toSeq.sorted
      val want = (ma.keySet ++ mb.keySet).toSeq.flatMap { k =>
        (ma.get(k), mb.get(k)) match {
          case (None, Some(_))              => Some(k -> "added")
          case (Some(_), None)              => Some(k -> "removed")
          case (Some(x), Some(y)) if x != y => Some(k -> "changed")
          case _                            => None
        }
      }.sorted
      assert(got == want, s"a=$ma b=$mb")
    }
  }

  test("gapfill densifies generated sparse series with exact linear interpolation") {
    import spark.implicits._
    // strictly increasing hour sets with integer values: interpolation
    // lands on exact rationals, so the reference comparison is exact
    // modulo the 6-dp emit rounding
    val series = Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 30L), Gen.choose(0, 100)))
      .map(_.toMap.toSeq.sortBy(_._1).take(12))
    samples(series, 10).filter(_.size >= 2).foreach { pts =>
      val hourly = pts.map { case (h, v) => ("k", h, v.toDouble) }.toDF("event_type", "h", "a")
      val got = operators.Windows.gapfillOf(hourly)
        .select("hour_sec", "interpolated", "avg_value")
        .as[(Long, Boolean, Double)].collect().sortBy(_._1)
      val hours = pts.map(_._1)
      assert(got.map(_._1).toSeq == (hours.min to hours.max).map(_ * 3600))
      val present = pts.toMap
      got.foreach { case (sec, interp, v) =>
        val h = sec / 3600
        present.get(h) match {
          case Some(x) =>
            assert(!interp && v == x.toDouble)
          case None =>
            assert(interp)
            val (hp, vp) = pts.filter(_._1 < h).last
            val (hn, vn) = pts.filter(_._1 > h).head
            val want = vp + (vn - vp) * ((h - hp).toDouble / (hn - hp).toDouble)
            assert(math.abs(v - want) <= 5e-7, s"h=$h v=$v want=$want pts=$pts")
        }
      }
    }
  }

  test("histogram-cumulative median equals the sorted interpolated median") {
    import spark.implicits._
    val multiset = Gen.nonEmptyListOf(Gen.choose(0, 15)).map(_.take(30))
    samples(Gen.zip(multiset, multiset), 10).foreach { case (xs, ys) =>
      val rows = xs.map(("a", _)) ++ ys.map(("b", _))
      val hist = rows.groupBy(identity).map { case ((k, v), g) =>
        (k, v.toDouble, g.size.toLong)
      }.toSeq.toDF("k", "v", "c")
      val got = operators.Aggregates.histMedian(hist)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      def ref(vs: Seq[Int]): Double = {
        val s = vs.sorted; val n = s.length
        if (n % 2 == 1) s(n / 2).toDouble else (s(n / 2 - 1) + s(n / 2)) / 2.0
      }
      assert(got("a") == ref(xs) && got("b") == ref(ys), s"xs=$xs ys=$ys")
    }
  }

  test("integer nearest-rank rule (q*cum >= p*n) equals sorted nearest-rank for any quantile") {
    // the rank form every histogram quantile op uses (quantile cube,
    // funnel latency, session stats p95, IQR q1/q3): smallest v with
    // den*cum >= num*n == sorted(ceil(num*n/den))  [1-based]
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val multiset = Gen.nonEmptyListOf(Gen.choose(0, 12)).map(_.take(40))
    val quantile = Gen.oneOf((1, 4), (3, 4), (95, 100), (1, 2))
    samples(Gen.zip(multiset, quantile), 12).foreach { case (xs, (num, den)) =>
      val hist = xs.groupBy(identity).map { case (v, g) => (v.toLong, g.size.toLong) }
        .toSeq.toDF("v", "c")
      val cumW = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
      val totW = Window.partitionBy()
      val got = hist
        .withColumn("cum", sum("c").over(cumW))
        .withColumn("n", sum("c").over(totW))
        .agg(min(when(col("cum") * den >= col("n") * num, col("v"))))
        .head.getLong(0)
      val s = xs.sorted
      val want = s(((num.toLong * s.length + den - 1) / den).toInt - 1).toLong
      assert(got == want, s"xs=$xs q=$num/$den")
    }
  }

  test("ewma fold kernel equals the seeded list fold on arbitrary multi-user streams (r12)") {
    // generated (user, ts, event_id, value) rows in fold order must give
    // the SAME doubles as a plain foldLeft per user — the contract that
    // lets q_ewma_fold share q_ewma's oracle
    val stream = Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(1L, 4L), Gen.choose(0L, 50L), Gen.choose(0.0, 10.0))).map(_.take(60))
    samples(stream, 12).foreach { rows =>
      // fold order: sorted by (user, ts, event_id) with unique event_ids
      val ordered = rows.zipWithIndex
        .map { case ((u, t, v), i) => (u, t, i.toLong, v) }
        .sortBy(r => (r._1, r._2, r._3))
      val got = graft.operators.Windows.ewmaFoldPartition(ordered.iterator)
        .map { case (u, n, e) => u -> ((n, e)) }.toMap
      val want = ordered.groupBy(_._1).map { case (u, es) =>
        val xs = es.map(_._4)
        u -> ((xs.length.toLong, xs.tail.foldLeft(xs.head)((a, x) => 0.5 * x + 0.5 * a)))
      }
      assert(got == want, s"rows=$rows")
    }
  }

  test("SON lemma: every globally frequent item/pair is locally frequent in some chunk (r12)") {
    // random baskets, random chunkings: the candidate union must cover
    // every itemset clearing the global floor — the completeness argument
    // q_son_rules' exact recount relies on
    val baskets = Gen.nonEmptyListOf(Gen.nonEmptyListOf(
      Gen.oneOf("a", "b", "c", "d", "e")).map(_.distinct.take(4))).map(_.take(24))
    val nChunks = Gen.choose(1, 5)
    val D = graft.operators.Curation.AssocSupDenom
    samples(Gen.zip(baskets, nChunks), 15).foreach { case (bs, k) =>
      val n = bs.length.toLong
      val globalFreq = bs.flatten.groupBy(identity)
        .collect { case (w, g) if g.size * D >= n => w }.toSet
      val chunks = bs.zipWithIndex.groupBy(_._2 % k).values.map(_.map(_._1)).toSeq
      val localUnion = chunks.flatMap { ch =>
        val np = ch.length.toLong
        ch.flatten.groupBy(identity).collect { case (w, g) if g.size * D >= np => w }
      }.toSet
      assert(globalFreq.subsetOf(localUnion), s"baskets=$bs k=$k")
      // and the confidence-floor transfer for pairs (either direction)
      val pairCnt = bs.flatMap(b => b.sorted.combinations(2).map(p => (p(0), p(1))))
        .groupBy(identity).map { case (p, g) => p -> g.size.toLong }
      val wordCnt = bs.flatten.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
      val globallyConfident = pairCnt.collect { case ((a, b), sp)
        if sp * 2 >= wordCnt(a) || sp * 2 >= wordCnt(b) => (a, b) }.toSet
      val localConfident = chunks.flatMap { ch =>
        val pc = ch.flatMap(b => b.sorted.combinations(2).map(p => (p(0), p(1))))
          .groupBy(identity).map { case (p, g) => p -> g.size.toLong }
        val wc = ch.flatten.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
        pc.collect { case ((a, b), sp) if sp * 2 >= wc(a) || sp * 2 >= wc(b) => (a, b) }
      }.toSet
      assert(globallyConfident.subsetOf(localConfident), s"baskets=$bs k=$k")
    }
  }

  test("DDSketch bucket guarantee: the representative is within alpha of every bucket member (r12)") {
    import graft.operators.Aggregates.{DDAlpha, DDGamma}
    val xs = Gen.choose(1e-6, 1e9)
    samples(xs, 400).foreach { x =>
      val b = math.ceil(math.log(x) / math.log(DDGamma))
      val est = 2.0 * math.pow(DDGamma, b) / (DDGamma + 1.0)
      assert(math.abs(est - x) <= x * DDAlpha * 1.0001, s"x=$x est=$est")
    }
  }
}
