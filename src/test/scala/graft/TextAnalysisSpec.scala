package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {

  test("tfidf emits at most 3 terms per doc, rank-ordered") {
    val t = TextAnalysis.tfidfTop3(spark, sf)
    val byDoc = t.groupBy("doc_id").agg(count(lit(1)).as("n"), max("rn").as("mx"))
    assert(byDoc.filter(col("n") > 3 || col("mx") > 3).count() == 0)
  }

  test("bigram total equals token count minus one per doc") {
    val total = TextAnalysis.bigramCounts(spark, sf).agg(sum("cnt")).head.getLong(0)
    val expected = Tables.documents(spark, sf)
      .select((size(split(col("text"), " ")) - 1).cast("long").as("n"))
      .agg(sum("n")).head.getLong(0)
    assert(total == expected)
  }

  test("langid predicts a valid language for every doc") {
    val l = TextAnalysis.langId(spark, sf)
    assert(l.count() == Tables.documents(spark, sf).count())
    assert(l.filter(!col("pred_lang").isin("de", "en", "es", "fr", "zh")).count() == 0)
  }

  test("langid confusion audit: cells tile the corpus, diagonal = is_correct counts (r13)") {
    import spark.implicits._
    val cells = TextAnalysis.langIdAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // the matrix tiles the corpus: per-true-lang cell sums = corpus counts
    val want = Tables.documents(spark, sf).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val byLang = cells.toSeq.groupBy(_._1._1).map { case (l, cs) => l -> cs.map(_._2._1).sum }
    assert(byLang == want, "confusion cells do not tile the corpus")
    // diagonal cells equal q_langid's per-language correct counts
    val correct = TextAnalysis.langId(spark, sf)
      .filter(col("is_correct")).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    want.keys.foreach { l =>
      assert(cells.get((l, l)).map(_._1).getOrElse(0L) == correct.getOrElse(l, 0L),
        s"diagonal mismatch for $l")
    }
    // ppm shares are the exact integer division of the cell by its row total
    cells.foreach { case ((l, _), (n, ppm)) =>
      assert(ppm == n * 1000000L / byLang(l))
    }
  }

  test("langid kappa: matches a scratch recomputation from the audit cells (r13)") {
    val r = TextAnalysis.langIdKappa(spark, sf).collect()
    assert(r.length == 1)
    val (nDocs, po, pe, kappa) =
      (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getLong(3))
    // recompute from the confusion cells with plain BigInt arithmetic
    val cells = TextAnalysis.langIdAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val n = cells.values.sum
    val diag = cells.collect { case ((t, p), c) if t == p => c }.sum
    val rowM = cells.groupBy(_._1._1).map { case (l, cs) => l -> cs.values.sum }
    val colM = cells.groupBy(_._1._2).map { case (l, cs) => l -> cs.values.sum }
    val peNum = (rowM.keySet ++ colM.keySet).toSeq
      .map(l => BigInt(rowM.getOrElse(l, 0L)) * BigInt(colM.getOrElse(l, 0L))).sum
    val poPpm = BigInt(diag) * 1000000 / n
    val pePpm = peNum * 1000000 / (BigInt(n) * n)
    assert(nDocs == n)
    assert(po == poPpm.toLong && pe == pePpm.toLong)
    assert(kappa == ((poPpm - pePpm) * 1000000 / (1000000 - pePpm)).toLong)
    // a classifier this much better than chance must land in (pe, 1]
    assert(po > pe && kappa > 0 && kappa <= 1000000)
  }

  test("zipf fit: matches a driver BigInt/double OLS replay; slope negative, r2 in range (r13)") {
    import spark.implicits._
    val r = TextAnalysis.zipfSlope(spark, sf).collect()(0)
    val (n, slope, icept, r2) =
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    // independent replay from raw word counts
    val wc = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().as[(String, Long)].collect()
      .sortBy { case (w, c) => (-c, w) }
    assert(n == wc.length)
    val pts = wc.zipWithIndex.map { case ((_, c), i) =>
      (BigInt(math.round(math.log(i + 1.0) * 1e8)), BigInt(math.round(math.log(c.toDouble) * 1e8)))
    }
    val bn = BigInt(pts.length)
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    def d(b: BigInt) = b.toDouble
    val den = d(bn * sxx - sx * sx)
    val eSlope = d(bn * sxy - sx * sy) / den
    val eIcept = d(sy * sxx - sx * sxy) / den / 1e8
    // compare the UNROUNDED replay within half-ulp-of-6dp (the query
    // rounds half-up; rint here would round half-even)
    assert(math.abs(slope - eSlope) <= 5.1e-7, s"slope $slope vs replay $eSlope")
    assert(math.abs(icept - eIcept) <= 5.1e-7, s"intercept $icept vs replay $eIcept")
    assert(slope < 0 && r2 >= 0 && r2 <= 1)
  }

  test("heaps curve: endpoints equal corpus totals, both cumulatives monotone (r13)") {
    import spark.implicits._
    val rows = TextAnalysis.heapsCurve(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // scale-derived width (r14): the readout is bounded at any SF
    assert(rows.length <= TextAnalysis.HeapsMaxBuckets,
      s"heaps readout ${rows.length} rows exceeds the derived-width bound")
    assert(rows.map(_._2).sum == Tables.documents(spark, sf).count())
    val toks = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).cast("long").as("n")).agg(sum("n"))
      .first().getLong(0)
    val vocab = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w")).distinct().count()
    assert(rows.last._3 == toks && rows.last._4 == vocab)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._3 > a._3 && b._4 >= a._4, "cumulatives must be monotone")
      case _ => ()
    }
  }

  test("gopher rules: flags equal an exact driver replay; gate is live, not vacuous (r13)") {
    import spark.implicits._
    val got = TextAnalysis.gopherRules(spark, sf)
      .as[(Long, Long, Boolean, Boolean, Boolean, Boolean, Boolean)].collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    assert(got.length == docs.size)
    got.foreach { case (id, nt, fl, fs, ft, fr, keep) =>
      val w = docs(id).split(" ")
      val nd = w.distinct.length.toLong
      val ns = w.count(Set("a", "the", "of", "and", "to", "in")).toLong
      val n3 = if (w.length >= 3) (w.length - 2).toLong else 0L
      val n3d = if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSeq.distinct.length.toLong else 0L
      assert(nt == w.length.toLong)
      assert(fl == (nt >= 40 && nt <= 95), s"doc $id len")
      assert(fs == (ns * 50 >= nt), s"doc $id stop")
      assert(ft == (nd * 10 >= nt * 3), s"doc $id ttr")
      assert(fr == ((n3 - n3d) * 20 <= n3), s"doc $id rep")
      assert(keep == (fl && fs && ft && fr), s"doc $id keep")
    }
    // the gate is live: it keeps some and drops some, and at least three
    // of the four rules individually reject at least one doc here
    val nKeep = got.count(_._7)
    assert(nKeep > 0 && nKeep < got.length)
    val ruleBites = Seq(got.exists(!_._3), got.exists(!_._4),
      got.exists(!_._5), got.exists(!_._6)).count(identity)
    assert(ruleBites >= 3, s"only $ruleBites rules reject anything")
  }

  test("naive bayes: one prediction per doc, learns past the majority guess AND the hand markers (r13)") {
    import spark.implicits._
    val nb = TextAnalysis.naiveBayes(spark, sf)
      .as[(Long, String, String, Boolean)].collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(nb.length == nDocs, "every doc classified exactly once")
    val langs = Set("de", "en", "es", "fr", "zh")
    assert(nb.forall(r => langs.contains(r._3)))
    assert(nb.forall(r => r._4 == (r._2 == r._3)), "is_correct consistent")
    val acc = nb.count(_._4).toDouble / nb.length
    // chance-corrected learning: beat the majority-class prior...
    val majority = Tables.documents(spark, sf).groupBy("lang").count()
      .agg(max("count")).first().getLong(0).toDouble / nDocs
    assert(acc > majority, s"NB acc $acc does not beat majority guess $majority")
    // ...and the hand-written marker classifier on the same corpus
    val langidAcc = TextAnalysis.langId(spark, sf)
      .filter(col("is_correct")).count().toDouble / nDocs
    assert(acc > langidAcc, s"NB acc $acc does not beat langid $langidAcc")
  }

  test("nb holdout: protocol honest — test band untouched, bands exact, ppm arithmetic exact (r14)") {
    import spark.implicits._
    val rows = TextAnalysis.nbHoldout(spark, sf)
      .as[(String, String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // the holdout protocol: ONLY train and val rows — the test band is
    // scored by neither side and never appears
    assert(rows.map(_._2).toSet.subsetOf(Set("train", "val")))
    // band totals equal the deterministic split's own counts per band
    val splits = graft.operators.Sampling.trainValTest(spark, sf)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    val got = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(got("train") == splits("train"), s"train band ${got("train")} vs ${splits("train")}")
    assert(got.getOrElse("val", 0L) == splits.getOrElse("val", 0L))
    // exact integer ppm per row; correctness never exceeds the band
    rows.foreach { case (lang, split, n, ok, ppm) =>
      assert(ok >= 0 && ok <= n, s"$lang/$split")
      assert(ppm == ok * 1000000L / n, s"$lang/$split ppm")
    }
    // the trained model fits its own band better than chance: weighted
    // train accuracy beats the uniform 1/|langs| guess
    val trainRows = rows.filter(_._2 == "train")
    val trainAcc = trainRows.map(_._4).sum.toDouble / trainRows.map(_._3).sum
    assert(trainAcc > 1.0 / 5, s"train accuracy $trainAcc at or under uniform chance")
  }

  test("quality metrics are within their ranges") {
    val q = TextAnalysis.qualityScore(spark, sf)
    val bad = q.filter(
      col("ttr") < 0 || col("ttr") > 1
        || col("stop_ratio") < 0 || col("stop_ratio") > 1
        || col("quality") < 0 || col("quality") > 1)
    assert(bad.count() == 0)
  }

  test("fingerprints: equal texts get equal md5 and roll hashes") {
    val fp = TextAnalysis.fingerprints(spark, sf)
      .join(Tables.documents(spark, sf), "doc_id")
      .groupBy("text")
      .agg(countDistinct("md5_fp").as("nm"), countDistinct("roll_fp").as("nr"))
    assert(fp.filter(col("nm") =!= 1 || col("nr") =!= 1).count() == 0)
  }

  test("whitespace and regex tokenizers agree on this corpus") {
    val t = TextAnalysis.tokenStats(spark, sf)
    assert(t.filter(col("n_ws_tokens") =!= col("n_re_tokens")).count() == 0)
  }

  test("repetition matches a driver-side sliding-window recount") {
    import spark.implicits._
    val want = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect().map { case (id, text) =>
        val w = text.split(" ", -1)
        val grams =
          if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSeq else Seq.empty
        val (n, d) = (grams.size.toLong, grams.distinct.size.toLong)
        val frac = if (n > 0) BigDecimal(1.0 - d.toDouble / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble else 0.0
        (id, n, d, frac)
      }.toSet
    val got = TextAnalysis.repetition(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == want)
  }

  test("textrank top-20 matches an independent in-memory weighted PageRank") {
    import spark.implicits._
    val texts = Tables.documents(spark, sf).select("text").as[String].collect()
    // independent graph build: positional bigrams, self-loops dropped,
    // symmetric weights
    val biCnt = texts.flatMap(_.split(" ", -1).sliding(2).filter(_.length == 2)
        .map(a => (a(0), a(1)))).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val sym = scala.collection.mutable.Map.empty[(String, String), Long]
    biCnt.foreach { case ((a, b), w) =>
      if (a != b) {
        sym((a, b)) = sym.getOrElse((a, b), 0L) + w
        sym((b, a)) = sym.getOrElse((b, a), 0L) + w
      }
    }
    val wdeg = sym.toSeq.groupBy(_._1._1).map { case (s, es) => s -> es.map(_._2).sum }
    var rank: Map[String, Double] = wdeg.keys.map(_ -> 1.0).toMap
    for (_ <- 1 to TextAnalysis.TextRankIters) {
      // same decimal-rounded contributions as the operator: exact sums,
      // ordering-independent
      val inbox = scala.collection.mutable.Map.empty[String, BigDecimal]
      sym.foreach { case ((src, dst), w) =>
        val c = BigDecimal(rank(src) * w / wdeg(src))
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)
        inbox(dst) = inbox.getOrElse(dst, BigDecimal(0)) + c
      }
      rank = inbox.map { case (v, s) =>
        v -> (1.0 - TextAnalysis.TextRankD + TextAnalysis.TextRankD * s.toDouble)
      }.toMap
    }
    val want = rank.toSeq.map { case (w, r) =>
      (w, BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (w, s) => (-s, w) }.take(20)
    val got = TextAnalysis.textrank(spark, sf)
      .as[(String, Double)].collect().toSeq
    assert(got == want)
    // ranks must discriminate: top score strictly above the 20th
    assert(got.head._2 > got.last._2)
  }

  test("textrank: the driver loop and the distributed rounds give bit-equal ranks for every word") {
    import spark.implicits._
    def ranks(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.as[(String, Double)].collect()
        .map { case (w, r) => w -> java.lang.Double.doubleToRawLongBits(r) }.toMap
    val driverFrame = TextAnalysis.textrankRanks(spark, sf)
    // the fixture's graph is under the default broadcast threshold, so this
    // is the collected form; with broadcasts off the rounds run on Spark
    assert(driverFrame.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val driver = ranks(driverFrame)
    val distributed = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = TextAnalysis.textrankRanks(spark, sf)
      assert(!df.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      ranks(df)
    }
    assert(driver.size > 20)
    assert(driver == distributed)
  }

  test("constructing q_textrank in a fresh session launches at most 8 jobs") {
    val fresh = spark.newSession()
    try {
      // the graph build's stages, the gate's count and the collect; the
      // ten rounds run on the driver (the distributed rounds take ~3 each)
      val jobs = jobsDuring(SparkEntry.queries("q_textrank")(fresh, sf))
      assert(jobs <= 8, s"q_textrank construction launched $jobs jobs")
      // the session memo serves the second construct
      val warm = jobsDuring(SparkEntry.queries("q_textrank")(fresh, sf))
      assert(warm == 0, s"q_textrank warm construction launched $warm jobs")
    } finally operators.SessionMemos.evict(fresh)
  }

  test("triangles: per-word counts match a brute-force in-memory enumeration") {
    import spark.implicits._
    val texts = Tables.documents(spark, sf).select("text").as[String].collect()
    val edges = texts.flatMap(_.split(" ", -1).sliding(2).filter(_.length == 2)
        .map(a => (a(0), a(1)))).filter(p => p._1 != p._2)
      .map(p => if (p._1 < p._2) p else p.swap).toSet
    val adj = (edges.toSeq ++ edges.toSeq.map(_.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val counts = scala.collection.mutable.Map.empty[String, Long]
    // edges hold u < v; requiring w > v makes each triangle u < v < w
    // enumerated exactly once (from its lexicographically-least edge)
    for ((u, v) <- edges; w <- adj(u) if w > v && adj(v).contains(w))
      Seq(u, v, w).foreach(x => counts(x) = counts.getOrElse(x, 0L) + 1)
    val want = counts.toSeq.sortBy(_._1)
    val got = TextAnalysis.triangles(spark, sf).as[(String, Long)].collect().toSeq
    assert(got == want)
    // the graph genuinely has triangles at this sf
    assert(got.map(_._2).sum > 0)
  }

  /** Driver-side BM25 with the engine's exact rounding discipline: idf
    * rounded HALF_UP to 8 decimals, per-term weight to 6, scores summed
    * and SORTED as exact BigDecimals (never compared as doubles). */
  private def bm25InMemory(queries: Seq[(Long, String)], kPool: Int,
                           excludeSelf: Boolean): Map[Long, Seq[(Long, BigDecimal)]] = {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect().map { case (id, t) => (id, t.split(" ", -1)) }
    val n = docs.length.toLong
    val t = docs.map(_._2.length.toLong).sum
    val qvocab = queries.map(_._2).toSet
    val tf = docs.map { case (id, w) =>
      (id, w.length.toLong, w.filter(qvocab).groupBy(identity).map { case (k, v) => k -> v.length.toLong })
    }
    val df = tf.flatMap(_._3.keys).groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    def idf(word: String): Double =
      BigDecimal(math.log((n - df(word) + 0.5) / (df(word) + 0.5) + 1.0))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byQ = queries.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    byQ.map { case (q, terms) =>
      val scored = tf.flatMap { case (id, dl, tfd) =>
        if (excludeSelf && id == q) None
        else {
          val ws = terms.flatMap { term =>
            tfd.get(term).map { f =>
              val w = idf(term) * (22L * f * t).toDouble / (10L * f * t + 3L * t + 9L * dl * n).toDouble
              BigDecimal(w).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            }
          }
          if (ws.isEmpty) None else Some((id, ws.sum))
        }
      }
      q -> scored.sortBy { case (id, s) => (s.unary_-, id) }.take(kPool).toSeq
    }
  }

  test("bm25 top-k matches an independent in-memory scorer") {
    import spark.implicits._
    val got = TextAnalysis.bm25TopK(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val want = bm25InMemory(TextAnalysis.Bm25Queries, TextAnalysis.Bm25K, excludeSelf = false)
      .toSeq.sortBy(_._1).flatMap { case (q, ranked) =>
        ranked.zipWithIndex.map { case ((id, s), i) => (q, (i + 1).toLong, id, s.toDouble) }
      }
    assert(got == want)
    // every query retrieves a full panel at this sf (the corpus has 50 docs)
    assert(got.groupBy(_._1).forall(_._2.size == TextAnalysis.Bm25K))
  }

  test("rrf fusion: scores are exactly the reported ranks' discount sum, ranks dense") {
    import spark.implicits._
    val rows = TextAnalysis.rrfFusion(spark, sf)
      .as[(Long, Long, Long, Option[Long], Option[Long], Double)].collect().toSeq
    assert(rows.nonEmpty)
    def disc(r: Option[Long]): BigDecimal = r.map(x =>
      BigDecimal(1.0 / (TextAnalysis.RrfC + x)).setScale(8, BigDecimal.RoundingMode.HALF_UP))
      .getOrElse(BigDecimal(0))
    for ((q, rn, d, rl, rs, rrf) <- rows) {
      assert((disc(rl) + disc(rs)).toDouble == rrf, s"rrf mismatch at ($q, $d)")
      assert(rl.forall(r => r >= 1 && r <= TextAnalysis.RrfPool))
      assert(rs.forall(r => r >= 1 && r <= TextAnalysis.RrfPool))
      assert(rl.isDefined || rs.isDefined)
      assert(d != q, "a query must not retrieve itself")
    }
    // ranks are dense 1..k per query and ordered by (rrf desc, doc_id)
    for ((q, qr) <- rows.groupBy(_._1)) {
      val sorted = qr.sortBy(_._2)
      assert(sorted.map(_._2) == (1L to sorted.size.toLong))
      val keys = sorted.map(r => ((disc(r._4) + disc(r._5)).unary_-, r._3))
      assert(keys == keys.sorted, s"query $q not rank-ordered")
    }
    // the lexical arm agrees with the in-memory BM25 ranking
    val queries = Tables.documents(spark, sf).select("doc_id")
      .filter(col("doc_id") % 25 === 0).as[Long].collect().toSeq
    val qterms = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") % 25 === 0).as[(Long, String)].collect()
      .flatMap { case (q, t) => t.split(" ", -1).distinct.map(q -> _) }.toSeq
    val lex = bm25InMemory(qterms, TextAnalysis.RrfPool, excludeSelf = true)
    for ((q, rn, d, Some(rl), _, _) <- rows) {
      assert(lex(q)(rl.toInt - 1)._1 == d, s"lexical rank mismatch at ($q, $d)")
    }
    assert(queries.nonEmpty && rows.exists(_._4.isDefined) && rows.exists(_._5.isDefined))
  }

  test("phrase search matches a driver-side sliding-window replay, overlaps included") {
    import spark.implicits._
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val want = (for {
      (pid, phrase) <- TextAnalysis.PhrasePanel
      pw = phrase.split(" ").toSeq
      (doc, t) <- texts
      ws = t.split(" ", -1).toSeq
      n = ws.indices.count(i => i + pw.length <= ws.length && ws.slice(i, i + pw.length) == pw)
      if n > 0
    } yield (pid, phrase, doc, n.toLong)).sortBy(r => (r._1, r._3))
    val got = TextAnalysis.phraseSearch(spark, sf)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("skipgram pairs are symmetric and conserve the window pair count") {
    import spark.implicits._
    val got = TextAnalysis.skipgramPairs(spark, sf)
      .as[(String, String, Long)].collect().toSeq
    val m = got.map { case (a, b, n) => (a, b) -> n }.toMap
    got.foreach { case (a, b, n) => assert(m((b, a)) == n, s"asymmetric ($a,$b)") }
    val lens = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("l"))
      .as[Int].collect()
    val fwd = lens.map(l =>
      (1 to TextAnalysis.SkipWindow).map(d => math.max(l - d, 0).toLong).sum).sum
    assert(got.map(_._3).sum == 2 * fwd)
  }

  test("kwic snippets equal a driver-side window clamp at every occurrence") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect()
    val want = (for {
      (id, text) <- docs
      w = text.split(" ")
      (word, pos) <- w.zipWithIndex
      if operators.TextAnalysis.KwicTerms.contains(word)
    } yield {
      val lo = math.max(pos - 3, 0); val hi = math.min(pos + 3, w.length - 1)
      (word, id, pos.toLong, w.slice(lo, hi + 1).mkString(" "))
    }).sortBy(t => (t._1, t._2, t._3)).toSeq
    val got = operators.TextAnalysis.kwic(spark, sf)
      .as[(String, Long, Long, String)].collect().toSeq
    assert(got == want && got.nonEmpty)
    // every snippet contains its term and spans at most 2*window+1 tokens
    got.foreach { case (term, _, _, s) =>
      assert(s.split(" ").contains(term) && s.split(" ").length <= 7)
    }
  }
}
