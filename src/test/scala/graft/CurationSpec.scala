package graft

import graft.operators.{Curation, Dedup, Pipeline}
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {

  test("lm perplexity: ppl = exp(avg_nll) and both are positive per doc") {
    val d = Curation.lmPerplexity(spark, sf)
    assert(d.filter(col("avg_nll") <= 0 || col("ppl") <= 0).count() == 0)
    // ppl must equal exp(avg_nll) to the rounding grain
    val bad = d.filter(abs(col("ppl") - exp(col("avg_nll"))) > 0.001)
    assert(bad.count() == 0)
    assert(d.count() > 0)
  }

  test("lm perplexity matches a driver-side recomputation on a small doc set") {
    import spark.implicits._
    // recompute the whole model independently with plain Scala collections
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val bigramsOf = (t: String) => t.split(" ", -1).sliding(2)
      .filter(_.length == 2).map(a => (a(0), a(1))).toSeq
    val c2 = texts.flatMap(t => bigramsOf(t._2)).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val ch = c2.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val v = texts.flatMap(_._2.split(" ", -1)).distinct.length
    def nlp(b: (String, String)): BigDecimal =
      BigDecimal(-math.log((c2(b) + Curation.SmoothK) / (ch(b._1) + Curation.SmoothK * v)))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)
    val want = texts.map { case (id, t) =>
      val bs = bigramsOf(t)
      val s = bs.map(nlp).sum
      // same half-up 6-decimal round as the operator applies to the double avg
      id -> BigDecimal(s.toDouble / bs.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val got = Curation.lmPerplexity(spark, sf)
      .select("doc_id", "avg_nll").as[(Long, Double)].collect().toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, a) => assert(math.abs(a - want(id)) < 1e-9, s"doc $id: $a vs ${want(id)}") }
  }

  test("vocab prune: oov tokens are exactly the below-floor words") {
    import spark.implicits._
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val wc = texts.flatMap(_._2.split(" ", -1)).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val total = wc.values.sum
    val oov = wc.filter { case (_, c) => c * 1000 < total }.keySet
    val want = texts.map { case (id, t) =>
      val ws = t.split(" ", -1)
      (id, ws.length.toLong, ws.count(oov).toLong)
    }.toSet
    val got = Curation.vocabPrune(spark, sf)
      .select("doc_id", "n_tokens", "n_oov").as[(Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("pmi: every returned collocation clears the count floor, ordered by pmi") {
    import spark.implicits._
    val d = Curation.pmiBigrams(spark, sf)
    val rows = d.select("b", "c2", "pmi").as[(String, Long, Double)].collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    assert(rows.forall(_._2 >= Curation.PmiMinCount))
    assert(rows.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("pii scrub finds exactly one email/phone/ip per enriched doc") {
    import spark.implicits._
    val d = Curation.piiScrub(spark, sf)
    val bad = d.filter(col("n_email") =!= 1 || col("n_phone") =!= 1 || col("n_ip") =!= 1)
    assert(bad.count() == 0)
    // redaction is deterministic and the sentinel tokens survive in the hash:
    // recompute one row by hand
    val doc0 = Tables.documents(spark, sf).filter(col("doc_id") === 0)
      .select("text").as[String].head()
    val enriched = s"$doc0 user0@mail0.com tel 555-0000 ip 10.0.0.0"
    val redacted = enriched
      .replaceAll("[a-z0-9]+@[a-z0-9]+\\.[a-z]+", "<EMAIL>")
      .replaceAll("[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+", "<IP>")
      .replaceAll("[0-9]{3}-[0-9]{4}", "<PHONE>")
    val wantFp = java.security.MessageDigest.getInstance("MD5")
      .digest(redacted.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val gotFp = d.filter(col("doc_id") === 0).select("redacted_fp").as[String].head()
    assert(gotFp == wantFp)
  }

  test("length histogram buckets partition the corpus and bound their members") {
    import spark.implicits._
    val h = Curation.lengthHistogram(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(h.map(_._2).sum == Tables.documents(spark, sf).count())
    h.foreach { case (lo, _, mn, mx, _) =>
      assert(mn >= lo && mx < lo + 10 && mn <= mx, s"bucket $lo: [$mn,$mx]")
    }
  }

  test("winnowing: selected fingerprints cover every w-window of 3-gram hashes") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val w = TextAnalysis.WinnowW
    // recompute positional 3-gram hashes driver-side with the same formula
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val got = TextAnalysis.winnowFingerprints(spark, sf)
      .as[(Long, Long)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    texts.foreach { case (id, t) =>
      val ws = t.split(" ", -1)
      if (ws.length >= 3) {
        val hp = ws.sliding(3).map(g => h60(g.mkString(" "))).toArray
        val want =
          if (hp.length >= w) hp.sliding(w).map(_.min).toSet else Set(hp.min)
        assert(got(id) == want, s"doc $id")
        // the winnowing guarantee: every w-window contains a selected hash
        if (hp.length >= w)
          hp.sliding(w).foreach(win => assert(win.exists(want.contains)))
      }
    }
  }

  test("qualityCol expression equals qualityScore's quality column per doc") {
    import graft.operators.TextAnalysis
    val viaCol = Tables.documents(spark, sf)
      .select(col("doc_id"), TextAnalysis.qualityCol.as("q"))
    val viaOp = TextAnalysis.qualityScore(spark, sf)
      .select(col("doc_id"), col("quality").as("q"))
    assert(viaCol.except(viaOp).count() == 0)
    assert(viaOp.except(viaCol).count() == 0)
  }

  test("decontaminate overlap: n_hit <= n_sh, flags agree with the fraction") {
    val d = Pipeline.decontaminateOverlap(spark, sf)
    assert(d.filter(col("n_hit") > col("n_sh")).count() == 0)
    assert(d.filter(col("contaminated") =!=
      (col("n_hit") * lit(20L) >= col("n_sh"))).count() == 0)
    // benchmark docs themselves are excluded
    assert(d.filter(col("doc_id") % 97 === 0).count() == 0)
    assert(d.count() > 0)
  }

  test("dup ngrams: shared shingle counts match a driver-side recomputation") {
    import spark.implicits._
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val shingles = texts.map { case (id, t) =>
      val w = t.split(" ", -1)
      val sh = if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet else w.toSet
      id -> sh
    }
    val df = shingles.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size }
    val want = shingles.map { case (id, sh) =>
      (id, sh.size.toLong, sh.count(s => df(s) >= 2).toLong)
    }.toSet
    val got = Dedup.dupNgramFractions(spark, sf)
      .select("doc_id", "n_sh", "n_shared").as[(Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("vocab encode: frequency-ranked ids, sequences match a driver-side recompute") {
    import spark.implicits._
    val rows = Curation.vocabEncode(spark, sf)
      .select("doc_id", "n_tokens", "id_sum", "ids_fp")
      .as[(Long, Long, Long, String)].collect()
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(rows.length == texts.length)
    // independent vocab: rank by (count desc, word asc), 1-based
    val counts = texts.flatMap(_._2.split(" ", -1).toSeq)
      .groupBy(identity).map { case (w, v) => w -> v.size }
    val id = counts.toSeq.sortBy { case (w, c) => (-c, w) }
      .zipWithIndex.map { case ((w, _), i) => w -> (i + 1).toLong }.toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = texts.map { case (did, t) =>
      val ids = t.split(" ", -1).toSeq.map(id)
      did -> ((ids.length.toLong, ids.sum, md5hex(ids.mkString(","))))
    }.toMap
    rows.foreach { case (did, n, s, fp) =>
      assert((n, s, fp) == want(did), s"doc $did")
    }
  }

  test("bpe merges: merge table matches an in-memory trainer; greedy apply handles overlaps") {
    import spark.implicits._
    import graft.operators.Curation
    // overlapping-pair edge: greedy left-to-right on a a a -> (aa, a)
    assert(Curation.mergePair(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(Curation.mergePair(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))

    val got = Curation.bpeMerges(spark, sf)
      .as[(Int, String, String, Long)].collect().toSeq
    // independent in-memory trainer over the same corpus
    val wordCnt = Tables.documents(spark, sf)
      .select("text").as[String].collect()
      .flatMap(_.split(" ", -1)).groupBy(identity)
      .map { case (w, v) => w -> v.size.toLong }
    var vocab: Map[Seq[String], Long] =
      wordCnt.groupBy { case (w, _) => w.map(_.toString) :+ Curation.BpeEow }
        .map { case (syms, v) => syms -> v.values.sum }
    val want = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var stop = false
    while (rank <= Curation.BpeRounds && !stop) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          pairs((p(0), p(1))) = pairs.getOrElse((p(0), p(1)), 0L) + c
        }
      }
      val best = pairs.toSeq.sortBy { case ((l, r), f) => (-f, l, r) }.headOption
      best.filter(_._2 >= 2) match {
        case None => stop = true
        case Some(((l, r), f)) =>
          want += ((rank, l, r, f))
          vocab = vocab.groupBy { case (syms, _) => Curation.mergePair(syms, l, r) }
            .map { case (syms, v) => syms -> v.values.sum }
          rank += 1
      }
    }
    assert(got == want.toSeq)
    assert(got.nonEmpty)
    // learned merges must be genuine multi-char growth somewhere
    assert(got.exists { case (_, l, r, _) => (l + r).length > 2 })

    // ENCODE: replaying the learned merges over every doc must match an
    // independent in-memory encoder (count, distinct count, fingerprint)
    val gotEnc = Curation.bpeEncode(spark, sf)
      .as[(Long, Long, Long, String)].collect().toSeq
    val mergeList = want.toSeq.map { case (_, l, r, _) => (l, r) }
    def encodeWord(w: String): Seq[String] = {
      var syms: Seq[String] = w.map(_.toString) :+ Curation.BpeEow
      mergeList.foreach { case (l, r) => syms = Curation.mergePair(syms, l, r) }
      syms
    }
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val wantEnc = docs.map { case (id, text) =>
      val toks = text.split(" ", -1).toSeq.flatMap(encodeWord)
      val fp = java.security.MessageDigest.getInstance("MD5")
        .digest(toks.mkString("\u001f").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (id, toks.length.toLong, toks.distinct.length.toLong, fp)
    }.sortBy(_._1)
    assert(gotEnc == wantEnc)
    // merges actually fired: some doc's token count < its char count + words
    val charTok = docs.map { case (_, t) => t.replace(" ", "").length + t.split(" ", -1).length }.sum
    assert(gotEnc.map(_._2).sum < charTok, "no merge ever applied during encode")
  }

  test("vocab coverage: monotone, ends at 1.0, rank-1 row is the top word") {
    import spark.implicits._
    import graft.operators.Curation
    val rows = Curation.vocabCoverage(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    assert(rows.nonEmpty)
    // power-of-two ranks plus the closing full-vocab row
    rows.init.foreach { case (r, _, _) => assert((r & (r - 1)) == 0) }
    assert(rows.last._3 == 1.0)
    // strictly increasing cumulative counts, non-decreasing coverage
    rows.sliding(2).foreach {
      case Seq((_, c1, v1), (_, c2, v2)) => assert(c2 > c1 && v2 >= v1)
      case _ => ()
    }
    // rank 1 covers exactly the most frequent word's occurrences
    val top = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().agg(max("count")).head.getLong(0)
    assert(rows.head == ((1L, top, rows.head._3)))
  }

  test("bpe training is O(1) Spark jobs in the merge count") {
    import graft.operators.Curation
    // the scale contract of the collect-once/train-locally topology: job
    // count must NOT grow with BpeRounds (the old loop ran one job per
    // merge). Parquet metadata jobs are excluded (see jobsDuring).
    val jobs = jobsDuring {
      assert(Curation.bpeMerges(spark, sf).count() >= 2, "training learned no merges")
    }
    // the r9 frequency floor adds a CONSTANT two jobs to the collect
    // (scalar total broadcast + pruned collect over the fenced counts);
    // the contract under test is unchanged — job count must stay far
    // below one-per-round
    assert(jobs < Curation.BpeRounds / 2 + 2,
      s"bpe training launched $jobs jobs for ${Curation.BpeRounds} rounds" +
        " — the per-merge job loop is back")
  }

  test("bpe vocabulary collect is frequency-floor bounded (VERDICT r8 ask #5)") {
    import graft.operators.Curation
    import spark.implicits._
    // planted skew: 5 frequent words carrying ~99% of the mass plus 400
    // singleton words — the shape where an unbounded collect would ship
    // the long tail to the driver
    val frequent = Seq.fill(200)("alpha beta gamma delta epsilon")
    val rare = (0 until 400).map(i => s"rare$i")
    val docs = (frequent ++ rare.grouped(10).map(_.mkString(" ")))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val floored = Curation.bpeVocabFrom(docs, 0.01)
    // hard bound: at most 1/frac words can each hold >= frac of total mass
    assert(floored.length <= 100, s"collected ${floored.length} > 1/frac bound")
    assert(floored.map(_._1).toSet == Set("alpha", "beta", "gamma", "delta", "epsilon"),
      "floor must keep exactly the frequent words")
    // the singleton tail is gone before the collect
    assert(!floored.exists(_._1.startsWith("rare")))
    // and on the live corpus the 1-ppm default prunes nothing: the merge
    // table the oracle pins is built from the full vocabulary
    val full = Curation.bpeVocabFrom(Tables.documents(spark, sf), 0.0)
    val dflt = Curation.bpeVocabFrom(Tables.documents(spark, sf), Curation.BpeVocabMinFrac)
    assert(dflt.sorted.toSeq == full.sorted.toSeq)
  }

  test("chunk overlap: chunks cover and reconstruct every doc's token stream") {
    import spark.implicits._
    val overlap = (Curation.ChunkSize - Curation.ChunkStride).toInt
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val got = Curation.chunkOverlap(spark, sf)
      .select("doc_id", "chunk_id", "start", "n_chunk", "chunk")
      .as[(Long, Long, Long, Long, String)].collect()
      .groupBy(_._1)
    assert(got.keySet == texts.keySet) // every doc yields at least one chunk
    got.foreach { case (id, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.head._3 == 0L, s"doc $id: first chunk must start at 0")
      sorted.foreach { case (_, cid, start, nc, chunk) =>
        assert(cid == start / Curation.ChunkStride)
        assert(chunk.split(" ", -1).length == nc, s"doc $id chunk $cid")
        assert(nc <= Curation.ChunkSize)
      }
      // chunk 0 + each later chunk minus its overlap prefix = the doc
      val rebuilt = sorted.head._5.split(" ", -1).toSeq ++
        sorted.tail.flatMap(_._5.split(" ", -1).drop(overlap).toSeq)
      assert(rebuilt == texts(id).split(" ", -1).toSeq, s"doc $id")
    }
  }

  test("fuzzy vocab pairs equal a driver-side brute force over the vocabulary") {
    import spark.implicits._
    val got = Curation.fuzzyVocabPairs(spark, sf)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    val wc = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w")).filter(col("w") =!= "")
      .groupBy("w").count().as[(String, Long)].collect().toMap
    def ed(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val words = wc.keys.toSeq.sorted
    val want = (for {
      a <- words; b <- words if a < b
      k = ed(a, b) if k <= Curation.FuzzyMaxEd
    } yield (a, b, k.toLong, wc(a), wc(b))).sorted
    assert(got.sorted == want)
    // the deletion-neighborhood candidates missed nothing and the signal is live
    assert(want.nonEmpty)
  }

  test("drift audit: shares sum to ~1000 per-mille per side, counts cover the corpus") {
    val a = Curation.driftAudit(spark, sf).collect()
    val n = Tables.documents(spark, sf).count()
    for (dim <- Seq("lang", "source", "len")) {
      val rows = a.filter(_.getString(0) == dim)
      assert(rows.map(_.getLong(2)).sum + rows.map(_.getLong(3)).sum == n,
        s"$dim counts must cover the corpus")
      // integer per-mille floors: totals land in (1000 - segments, 1000]
      val pmIndex = rows.map(_.getLong(4)).sum
      assert(pmIndex <= 1000 && pmIndex > 1000 - rows.length, s"$dim index share sum $pmIndex")
    }
  }

  test("drift audit flags a planted language shift and only that") {
    import spark.implicits._
    // index half: uniform en/de; batch half: en-heavy (de collapses 500->100)
    val index = (0 until 1000).map(i =>
      (i.toLong * 2, if (i % 2 == 0) "en" else "de", "web", 100L))
    val batch = (0 until 1000).map(i =>
      (i.toLong * 2 + 1, if (i % 10 == 0) "de" else "en", "web", 100L))
    val df = (index ++ batch).toDF("doc_id", "lang", "source", "n_chars")
    val out = Curation.driftAuditFrom(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(6), r.getBoolean(7))).toMap
    assert(out(("lang", "en"))._2 && out(("lang", "en"))._1 == 400)
    assert(out(("lang", "de"))._2 && out(("lang", "de"))._1 == -400)
    assert(!out(("source", "web"))._2)
    assert(!out(("len", "b0002"))._2)
  }

  test("benford audit: digit shares replay; uniform TPC-H prices flag as non-Benford") {
    import spark.implicits._
    val digits = Tables.orders(spark, sf).select("o_totalprice").as[Double].collect()
      .map(p => math.rint(p * 100).toLong.toString.charAt(0).asDigit)
    val t = digits.length.toLong
    val expected = Map(1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L,
      5 -> 79181L, 6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L)
    val got = Curation.benfordAudit(spark, sf)
      .as[(Int, Long, Long, Long, Long, Boolean)].collect().toSeq
    got.foreach { case (d, n, ppm, bppm, dev, fl) =>
      assert(n == digits.count(_ == d).toLong)
      assert(ppm == n * 1000000L / t)
      assert(bppm == expected(d) && dev == ppm - bppm && fl == (math.abs(dev) > 50000L))
    }
    // Benford expectations sum to ~1e6; uniform prices must flag somewhere
    assert(expected.values.sum > 999000L && got.exists(_._6))
  }

  test("skew audit: hot keys, shares and hotness replay from a driver-side count") {
    import spark.implicits._
    val keys = Tables.orders(spark, sf).select("o_custkey").as[Long].collect()
    val byKey = keys.groupBy(identity).map { case (k, v) => (k, v.length.toLong) }
    val t = keys.length.toLong
    val kk = byKey.size.toLong
    val want = byKey.toSeq.sortBy { case (k, n) => (-n, k) }.take(20)
      .map { case (k, n) => (k, n, n * 1000000L / t, n * kk * 100L / t) }
    val got = Curation.skewAudit(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == want)
    // shares are exact ppm of the corpus; hotness is vs the uniform mean
    assert(got.map(_._3).sum <= 1000000L)
    assert(got.head._4 >= 100L, "the hottest key must be at least the mean")
  }

  test("profile: per-column datasheet matches a driver-side recomputation") {
    import spark.implicits._
    // r12 rework: the exact distincts ride the unpivot + single-distinct
    // path — no Expand multi-distinct in the plan anymore
    val physical = Curation.profileOrders(spark, sf).queryExecution.executedPlan.toString
    assert(!physical.contains("Expand"), s"q_profile planned an Expand:\n$physical")
    val rows = Curation.profileOrders(spark, sf).collect()
    assert(rows.length == 6)
    val byCol = rows.map(r => r.getString(0) -> r).toMap
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"), col("o_orderpriority"),
        col("o_orderdate").cast("string"))
      .as[(Long, Long, Double, String, String, String)].collect()
    val n = o.length.toLong
    // numeric column: exact distincts and extrema
    val k = byCol("o_orderkey")
    assert(k.getLong(1) == n && k.getLong(2) == 0L)
    assert(k.getLong(3) == o.map(_._1).distinct.length.toLong)
    assert(k.getDouble(4) == o.map(_._1).min.toDouble)
    assert(k.getDouble(5) == o.map(_._1).max.toDouble)
    assert(k.isNullAt(6) && k.isNullAt(7))
    // double column passes through untouched
    val p = byCol("o_totalprice")
    assert(p.getDouble(4) == o.map(_._3).min && p.getDouble(5) == o.map(_._3).max)
    // string column: extrema land in the _str slots, _num stays null
    val s = byCol("o_orderstatus")
    assert(s.isNullAt(4) && s.isNullAt(5))
    assert(s.getString(6) == o.map(_._4).min && s.getString(7) == o.map(_._4).max)
    assert(s.getLong(3) == o.map(_._4).distinct.length.toLong)
    // temporal column (timestamp[us] in the testdata) renders ISO strings
    val d = byCol("o_orderdate")
    assert(d.getString(6) == o.map(_._6).min && d.getString(7) == o.map(_._6).max)
    assert(d.getString(6).matches("\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}"))
  }

  test("profile_approx: exact columns equal q_profile, verdicts TRUE, and NO Expand plans (VERDICT r11 ask #2)") {
    val approx = Curation.profileOrdersApprox(spark, sf)
    // the 100 TB shape: no Expand multi-distinct anywhere in the plan —
    // the HLL aggregate is one map-combinable pass, the exact companion
    // rides a 6-way unpivot + single-distinct group agg
    val physical = approx.queryExecution.executedPlan.toString
    assert(!physical.contains("Expand"),
      s"profile_approx planned an Expand multi-distinct:\n$physical")
    val got = approx.collect()
    assert(got.length == 6)
    got.foreach(r => assert(r.getBoolean(8), s"HLL outside 10% for ${r.getString(0)}"))
    // every exact column (all but the verdict) matches the exact profiler
    val exact = Curation.profileOrders(spark, sf).collect()
    assert(got.map(_.toSeq.dropRight(1)).toSeq == exact.map(_.toSeq).toSeq)
  }

  test("expectations: the testdata corpus passes all seven contracts with zero violations") {
    val rows = Curation.expectations(spark, sf).collect()
    val n = Tables.documents(spark, sf).count()
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r.getLong(1) == 0L, s"${r.getString(0)} has violations")
      assert(r.getLong(2) == n && r.getBoolean(3), r.getString(0))
    }
  }

  test("expectations: planted violations are counted per constraint, not just flagged") {
    // can't register a broken fixture as a query, so drive the same agg
    // shape through a view-swapped frame: break one row per constraint
    import spark.implicits._
    val good = (0L until 50L).map(i => (i, "aa bb cc", "en", "src1", 8L))
    val broken = Seq(
      (0L, "aa bb", "en", "src2", 5L),            // duplicate doc_id
      (100L, "aa bb", "en", "src3", 99L),         // n_chars wrong
      (101L, "aa bb", "xx", "src4", 5L),          // lang out of domain
      (102L, "AA!!", "en", "src5", 4L),           // charset violation
      (103L, "Y z", "fr", "srcXY", 3L))           // source format (charset too)
    val df = (good ++ broken).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-expect").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Curation.expectations(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(out("doc_id_unique") == ((1L, false)))
    assert(out("n_chars_consistent") == ((1L, false)))
    assert(out("lang_in_domain") == ((1L, false)))
    assert(out("text_charset_az") == ((2L, false))) // "AA!!" and "Y z"
    assert(out("source_id_format") == ((1L, false)))
    assert(out("doc_id_not_null") == ((0L, true)))
    assert(out("token_len_1_200") == ((0L, true)))
  }

  test("assoc rules match a driver-side Apriori replay") {
    import spark.implicits._
    val got = Curation.assocRules(spark, sf)
      .select("ante", "cons", "supp_pair", "supp_ante", "supp_cons")
      .as[(String, String, Long, Long, Long)].collect().toSet
    val baskets = Tables.documents(spark, sf).select("text").as[String].collect()
      .map(_.split(" ").filter(_.nonEmpty).toSet)
    val n = baskets.length.toLong
    val supp = baskets.flatten.groupBy(identity).view
      .mapValues(_.length.toLong).toMap
      .filter { case (_, s) => s * Curation.AssocSupDenom >= n }
    val pairSupp = baskets.flatMap { b =>
      val f = b.filter(supp.contains).toSeq.sorted
      for (i <- f.indices; j <- i + 1 until f.length) yield (f(i), f(j))
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val want = pairSupp.toSeq.flatMap { case ((a, b), sp) =>
      Seq((a, b, sp, supp(a), supp(b)), (b, a, sp, supp(b), supp(a)))
    }.filter { case (_, _, sp, sa, _) => sp * Curation.AssocConfDenom >= sa }.toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("SON rules equal Apriori rules row-for-row (VERDICT r11 ask #6)") {
    val apriori = Curation.assocRules(spark, sf).collect().toSeq
    val son = Curation.sonRules(spark, sf).collect().toSeq
    assert(son == apriori, "partition-candidate SON diverged from Apriori")
    assert(son.nonEmpty)
  }

  test("char entropy matches an independent driver-side Shannon computation (r13)") {
    import spark.implicits._
    val got = Curation.charEntropy(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(got.size == docs.length)
    docs.foreach { case (id, text) =>
      val hist = text.toSeq.groupBy(identity).map(_._2.size.toLong)
      val n = hist.sum
      // the engine's lattice: per-char terms rounded to 8dp, summed, one
      // closed-form chain — replicate it exactly, then a plain-H sanity
      // band that doesn't share the lattice
      val s = hist.map(c => BigDecimal(math.rint(c.toDouble * math.log(c.toDouble) * 1e8) / 1e8)).sum
      val h = math.rint((math.log(n.toDouble) - s.toDouble / n) * 1e6) / 1e6
      val (gn, gd, gh) = got(id)
      assert(gn == n && gd == hist.size, s"doc $id histogram")
      assert(math.abs(gh - h) < 1e-9, s"doc $id entropy: $gh vs $h")
      val plain = math.log(n.toDouble) -
        hist.map(c => c * math.log(c.toDouble)).sum / n
      assert(math.abs(gh - plain) < 1e-4 && gh >= 0.0 && gh <= math.log(n.toDouble) + 1e-9)
    }
  }

  test("FP-Growth rules equal Apriori rules row-for-row, with no join in the pair phase (r13)") {
    val apriori = Curation.assocRules(spark, sf).collect().toSeq
    val fpg = Curation.fpGrowthRules(spark, sf).collect().toSeq
    assert(fpg == apriori, "pattern-base FP-Growth diverged from Apriori")
    assert(fpg.nonEmpty)
    // no candidate generation: the executed plan joins NOTHING — pair
    // supports come from the map-side path expansion, not a self-join
    // (Apriori's plan has the doc_id self-join; this one must not)
    // (match join NODE names, not the bare word — 'join' is literally a
    // vocabulary word inside the plan's typedLit support maps)
    val plan = Curation.fpGrowthRules(spark, sf).queryExecution.executedPlan.toString.toLowerCase
    Seq("sortmergejoin", "broadcasthashjoin", "shuffledhashjoin",
      "cartesianproduct", "broadcastnestedloopjoin").foreach(j =>
      assert(!plan.contains(j), s"FP-Growth plan unexpectedly contains $j"))
  }

  test("SON candidate completeness survives a skewed partitioning") {
    // repartitioning the docs changes every chunk's local floor; the SON
    // lemma says the exact recount still reproduces the full rule set
    val apriori = Curation.assocRules(spark, sf).collect().toSeq
    // run SON with a different partition count to shift chunk boundaries
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val son = Curation.sonRules(spark, sf).collect().toSeq
      assert(son == apriori, "SON rule set changed under a different chunking")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("assoc rules: confidence and lift honor their definitions on every row") {
    val rows = Curation.assocRules(spark, sf).collect()
    val n = Tables.documents(spark, sf).count()
    rows.foreach { r =>
      val (sp, sa, sc) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(math.abs(r.getDouble(5) - sp.toDouble / sa) < 1e-6)
      assert(math.abs(r.getDouble(6) - sp.toDouble * n / (sa.toDouble * sc)) < 1e-6)
      assert(sp * Curation.AssocConfDenom >= sa && sp <= sa && sp <= sc)
    }
  }

  test("feature hashing matches a driver-side md5 replay and compresses the vocab") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect()
    def bucket(w: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 64
    }
    val want = docs.flatMap { case (id, text) =>
      text.split(" ").filter(_.nonEmpty).map(w => (id, bucket(w)))
    }.groupBy(identity).map { case ((id, b), g) => (id, b, g.length.toLong) }
      .toSeq.sorted
    val got = Curation.featureHash(spark, sf).as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
    // the bucket space is exactly the hashed image of the vocabulary
    // (this corpus's 31 words under-fill the 64 dims; collisions are
    // possible, not required) and every bucket is in [0, 64)
    val vocab = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty).distinct
    val vocabBuckets = vocab.map(bucket).distinct.sorted.toSeq
    assert(got.map(_._2).distinct.sorted.toSeq == vocabBuckets)
    assert(vocabBuckets.forall(b => b >= 0 && b < 64))
  }
}
