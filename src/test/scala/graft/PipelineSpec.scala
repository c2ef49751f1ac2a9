package graft

import graft.operators.{Dedup, Pipeline, TextAnalysis}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  test("decontaminate excludes benchmark docs and every shingle-sharer") {
    val clean = Pipeline.decontaminate(spark, sf)
    assert(clean.filter(col("doc_id") % 97 === 0).count() == 0)
    // no kept doc may share a 3-gram with a benchmark doc: re-derive
    // shingle overlap independently via the near-dup inverted index shape
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        """array_distinct(CASE WHEN size(w) >= 3
          |  THEN transform(sequence(1, size(w)-2),
          |         i -> concat_ws(' ', element_at(w,i), element_at(w,i+1), element_at(w,i+2)))
          |  ELSE w END)""".stripMargin)).as("s"))
    val benchS = docs.filter(col("doc_id") % 97 === 0).select("s").distinct()
    val sharers = docs.filter(col("doc_id") % 97 =!= 0)
      .join(benchS, "s").select("doc_id").distinct()
    assert(clean.join(sharers, "doc_id").count() == 0)
  }

  test("decontaminate plans no static broadcast of the corpus-derived side") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // the benchmark shingle set grows with the corpus (every 97th doc), so a
    // forced broadcast would die at 100x — the plan must stay shuffle-shaped
    // statically (AQE may still broadcast at runtime when genuinely small)
    for (df <- Seq(Pipeline.decontaminate(spark, sf), Pipeline.keepSet(spark, sf))) {
      val hinted = df.queryExecution.optimizedPlan.collect {
        case j: Join if j.hint.leftHint.exists(_.strategy.nonEmpty) ||
          j.hint.rightHint.exists(_.strategy.nonEmpty) => j
      }
      assert(hinted.isEmpty, s"static join-strategy hints survive:\n${hinted.mkString("\n")}")
    }
  }

  test("near-dup keep set = keep set minus cluster non-survivors") {
    val keep = Pipeline.keepSet(spark, sf)
    val losers = Dedup.neardupClusters(spark, sf)
      .filter(!col("is_survivor")).select("doc_id")
    val expected = keep.join(losers, Seq("doc_id"), "left_anti")
    val got = Pipeline.keepSetNearDup(spark, sf)
    assert(got.count() == expected.count())
    assert(got.join(expected, "doc_id", "left_anti").count() == 0)
    // it must be a strict subset whenever a keep-set doc lost its cluster
    val keptLosers = keep.join(losers, "doc_id")
    assert(got.count() == keep.count() - keptLosers.count())
  }

  test("keep set is the intersection of its three filters") {
    val keep = Pipeline.keepSet(spark, sf)
    val clean = Pipeline.decontaminate(spark, sf)
    val survivors = Dedup.exactDedup(spark, sf).select("doc_id")
    val hq = TextAnalysis.qualityScore(spark, sf)
      .filter(col("quality") >= Pipeline.QualityFloor).select("doc_id")
    val expected = clean.join(survivors, "doc_id").join(hq, "doc_id")
    assert(keep.count() == expected.count())
    assert(keep.join(expected, "doc_id", "left_anti").count() == 0)
    // the composition must actually filter something relative to the corpus
    assert(keep.count() < Tables.documents(spark, sf).count())
    assert(keep.count() > 0)
  }

  test("curated keep set equals the intersection of its five stages") {
    import graft.operators.{Curation, TextAnalysis}
    val docs = Tables.documents(spark, sf)
    val curated = Pipeline.curatedKeepSet(spark, sf).select("doc_id")
    val survivors = docs.groupBy("text").agg(min("doc_id").as("doc_id")).select("doc_id")
    val quality = TextAnalysis.qualityScore(spark, sf)
      .filter(col("quality") >= Pipeline.QualityFloor).select("doc_id")
    val clean = Pipeline.decontaminateOverlap(spark, sf)
      .filter(!col("contaminated")).select("doc_id")
    val lm = Curation.lmPerplexity(spark, sf)
      .filter(col("avg_nll").between(Pipeline.NllLo, Pipeline.NllHi)).select("doc_id")
    val len = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .filter(col("n").between(Pipeline.LenLo, Pipeline.LenHi)).select("doc_id")
    val want = survivors.intersect(quality).intersect(clean)
      .intersect(lm).intersect(len)
    assert(curated.except(want).count() == 0)
    assert(want.except(curated).count() == 0)
    assert(curated.count() > 0)
    assert(curated.count() < docs.count())
  }

  test("split leakage covers exactly the non-train docs with bounded fractions") {
    import graft.operators.Sampling
    val d = Pipeline.splitLeakage(spark, sf)
    val holdout = Sampling.trainValTest(spark, sf)
      .filter(col("split") =!= "train").select("doc_id")
    assert(d.count() == holdout.count())
    assert(d.select("doc_id").except(holdout).count() == 0)
    assert(d.filter(col("n_hit") > col("n_sh") || col("leak_frac") > 1.0
      || col("leak_frac") < 0.0).count() == 0)
  }

  test("pack texts: fingerprints match a driver-side ordered concat per pack") {
    import spark.implicits._
    val assigns = Pipeline.packSequences(spark, sf)
      .select("doc_id", "lang", "n_tokens", "pack_id")
      .as[(Long, String, Long, Long)].collect()
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = assigns.groupBy(a => (a._2, a._4)).map { case ((lang, pack), rows) =>
      val sorted = rows.sortBy(_._1)
      val joined = sorted.map(r => texts(r._1)).mkString(" <eod> ")
      val fp = md.digest(joined.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (lang, pack, rows.length.toLong, rows.map(_._3).sum, fp)
    }.toSet
    val got = Pipeline.packTexts(spark, sf)
      .as[(String, Long, Long, Long, String)].collect().toSet
    assert(got == want)
  }

  test("pack sequences: contiguous monotone packs from a driver-side recount") {
    import spark.implicits._
    val want = Tables.documents(spark, sf).select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect()
      .groupBy(_._2).toSeq.flatMap { case (lang, rows) =>
        var cum = 0L
        rows.sortBy(_._1).map { case (id, _, text) =>
          val n = text.split(" ", -1).length.toLong
          val pack = cum / Pipeline.PackLen
          cum += n
          (id, lang, n, pack)
        }
      }.toSet
    val got = Pipeline.packSequences(spark, sf)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == want)
    // pack ids per language are non-decreasing in doc_id order and start at 0
    val perLang = got.toSeq.groupBy(_._2)
    perLang.foreach { case (lang, rows) =>
      val packs = rows.sortBy(_._1).map(_._4)
      assert(packs.head == 0L, s"$lang first pack ${packs.head}")
      assert(packs.zip(packs.tail).forall { case (a, b) => b >= a }, s"$lang not monotone")
    }
  }

  test("dataset card metrics equal a driver-side recount") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select("text", "lang", "source", "n_chars")
      .as[(String, String, String, Long)].collect()
    val card = Pipeline.datasetCard(spark, sf)
      .as[(String, Long)].collect().toMap
    assert(card("n_docs") == docs.length)
    assert(card("n_tokens") == docs.map(_._1.split(" ", -1).length.toLong).sum)
    assert(card("n_langs") == docs.map(_._2).distinct.length)
    assert(card("n_sources") == docs.map(_._3).distinct.length)
    assert(card("n_distinct_texts") == docs.map(_._1).distinct.length)
    assert(card("exact_dup_per_mille") ==
      (docs.length - docs.map(_._1).distinct.length) * 1000L / docs.length)
    assert(card("mean_chars_ppm") == docs.map(_._4).sum * 1000000L / docs.length)
    assert(card.size == 7)
  }

  test("constructing q_pipeline_substr in a fresh session launches at most 25 jobs") {
    val fresh = spark.newSession()
    try {
      // the curation memos under curatedRaw; the mask adds no eager job
      val jobs = jobsDuring(SparkEntry.queries("q_pipeline_substr")(fresh, sf))
      assert(jobs <= 25, s"q_pipeline_substr construction launched $jobs jobs")
    } finally operators.SessionMemos.evict(fresh)
  }

  test("substr gate: subset of curated, drops exactly the over-budget docs (r15)") {
    import spark.implicits._
    import graft.operators.SuffixDedup
    val cur = Pipeline.curatedKeepSet(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    val sub = Pipeline.curatedSubstrKeepSet(spark, sf).collect()
    val subIds = sub.map(_.getLong(0)).toSet
    assert(subIds.subsetOf(cur), "substr keep-set is not a subset of curated")
    assert(sub.forall(_.getLong(4) <= Pipeline.DupPpmMax))
    val mask = SuffixDedup.suffixMask(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val dropped = cur -- subIds
    dropped.foreach(d => assert(mask(d) > Pipeline.DupPpmMax,
      s"doc $d dropped but under budget (${mask(d)} ppm)"))
    // honesty either way: if nothing was dropped, no curated doc may
    // exceed the budget (the gate is vacuous only when the data says so)
    if (dropped.isEmpty)
      cur.foreach(d => assert(mask(d) <= Pipeline.DupPpmMax))
  }
}
