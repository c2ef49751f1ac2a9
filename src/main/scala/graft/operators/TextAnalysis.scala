package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis surface (SURVEY.md §2.B9): TF-IDF, n-grams, language ID,
  * quality scoring, fingerprinting, token statistics — the operators a
  * training-data pipeline runs over a raw document corpus.
  *
  * Scale design: everything is tokenize → hash-agg → (optional) join on a
  * small broadcast side (corpus-level stats like N and DF are
  * vocabulary-sized, not corpus-sized). No all-pairs anywhere, and no
  * driver materialization except a TextRank graph under the driver-sized
  * gate (see [[textrank]]).
  *
  * Reference provenance: /root/reference is an empty checkout (SURVEY.md §0);
  * TF-IDF follows Salton & Buckley (1988) with the smoothed idf
  * ln((N+1)/(df+1))+1 as popularized by scikit-learn's TfidfTransformer.
  */
object TextAnalysis {

  /** Top-3 TF-IDF terms per document. DF and N are tiny aggregates joined
    * back broadcast-style; the only corpus-sized shuffle is the (doc, word)
    * TF group.
    */
  def tfidfTop3(spark: SparkSession, sfDir: String): DataFrame = {
    // fence: TF feeds both the DF aggregation and the scoring join
    val tf = Dedup.fence(
      WordCount.tokens(Tables.documents(spark, sfDir))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf")),
      "doc_id")
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, sfDir).agg(count(lit(1)).as("nd"))
    val scored = tf.join(broadcast(df), "word").crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * (log((col("nd") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("word"))))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn").cast("long").as("rn"), col("word"),
        round(col("tfidf"), 6).as("tfidf"))
      .orderBy("doc_id", "rn")
  }

  /** Corpus bigram counts (generator → hash-agg; same dataflow as word count
    * with a positional 2-gram generator instead of explode-per-token). The
    * generator is the codegen'd Bigrams kernel — one compiled pass per doc
    * (the interpreted `transform(sequence...)` form it replaced was the
    * text family's last CodegenFallback hot path).
    */
  def bigramCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(graft.functions.TextHashFunctions.bigrams(col("text"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("bigram"))

  /** Per-language marker vocabularies for the n-gram-free language-ID
    * heuristic (top corpus terms per language, probed at sf0.01). The
    * classifier is deterministic: score = marker-token occurrences, argmax
    * with fixed de<en<es<fr<zh tie order.
    */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("customer", "hash", "join", "row"),
    "en" -> Seq("hash", "order", "table", "window"),
    "es" -> Seq("slow", "agg", "hash", "merge"),
    "fr" -> Seq("scan", "data", "query", "batch"),
    "zh" -> Seq("join", "small", "row", "customer"))

  /** Heuristic language ID: count marker-token hits per language over the
    * full token multiset (single map-side pass, no shuffle beyond the final
    * sort), pick the argmax.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
    val scored = markers.foldLeft(base) { case (d, (l, ms)) =>
      val lst = ms.map(m => s"'$m'").mkString(", ")
      d.withColumn(s"s_$l", expr(s"size(filter(w, x -> x IN ($lst)))"))
    }
    // Ordered CASE chain: each branch compares only against the languages
    // AFTER it (the ones before already lost) — written identically in the
    // oracle so ties resolve the same way in both engines.
    val langs = markers.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last): org.apache.spark.sql.Column) {
      case ((l, i), rest) =>
        val geRemaining = langs.drop(i + 1).map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
        when(geRemaining, lit(l)).otherwise(rest)
    }
    scored.select(col("doc_id"), col("lang"), pred.as("pred_lang"))
      .withColumn("is_correct", col("pred_lang") === col("lang"))
      .orderBy("doc_id")
  }

  /** LANGUAGE-ID CONFUSION AUDIT (r13) — the eval harness the audit
    * family ships next to its classifiers (q_ann_recall / q_pq_recall /
    * q_ivf_audit precedent): the full confusion matrix of [[langId]]'s
    * prediction against the corpus's ground-truth `lang` label, one row
    * per (true, predicted) cell with the count and its exact-ppm share
    * of the true language's documents. The diagonal is per-language
    * recall; off-diagonal cells name exactly which languages the marker
    * vocabularies confuse (the actionable readout — q_langid's
    * per-doc is_correct flags can't say WHERE the mass went).
    * Scale shape: one map-side classify pass (no shuffle in [[langId]]'s
    * scoring), one |langs|²-bounded aggregate.
    */
  def langIdAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = langId(spark, sfDir)
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy("lang").agg(sum("n_docs").as("n_lang"))
    cells.join(totals, "lang")
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        expr("n_docs * 1000000 div n_lang").as("share_ppm"))
      .orderBy("lang", "pred_lang")
  }

  /** COHEN'S KAPPA (r13) over [[langIdAudit]]'s confusion matrix — the
    * chance-corrected agreement scalar (Cohen 1960): observed agreement
    * po minus expected-by-marginals agreement pe, over 1 − pe. The audit
    * names WHERE the mass went; kappa says whether the classifier beats
    * the marginal-frequency coin at all — the single number a curation
    * run gates on before trusting per-language mixture weights.
    *
    * Exactness discipline: all three ratios are truncating integer ppm
    * (`div`), computed from the ALREADY-truncated po/pe ppms — the same
    * expression order is written in the DuckDB oracle, so the result is
    * bit-exact across engines (no double arithmetic anywhere). Products
    * are DECIMAL(38,0) so the n² and pe terms cannot wrap at corpus
    * scale (the q_join_profile lesson, ADVICE r12).
    *
    * Scale shape: one map-side classify pass (no shuffle in [[langId]]'s
    * scoring), one |langs|²-bounded cell aggregate, then |langs|-sized
    * marginal frames full-outer-joined (a predicted-never language has a
    * zero column marginal) — everything after the first aggregate is
    * constant-sized regardless of corpus rows.
    */
  def langIdKappa(spark: SparkSession, sfDir: String): DataFrame = {
    // fence: the cell matrix feeds the diagonal/total scalars AND both marginals
    val cells = Dedup.fence(
      langId(spark, sfDir).groupBy("lang", "pred_lang").agg(count(lit(1)).as("c")),
      "lang")
    val tot = cells.agg(
      sum(when(col("lang") === col("pred_lang"), col("c")).otherwise(lit(0L))).as("diag"),
      sum("c").as("n"))
    val rowM = cells.groupBy(col("lang").as("l")).agg(sum("c").as("n_true"))
    val colM = cells.groupBy(col("pred_lang").as("l")).agg(sum("c").as("n_pred"))
    val pe = rowM.join(colM, Seq("l"), "full_outer")
      .agg(sum(coalesce(col("n_true"), lit(0L)).cast("decimal(38,0)") *
        coalesce(col("n_pred"), lit(0L)).cast("decimal(38,0)")).as("pe_num"))
    tot.crossJoin(pe)
      .select(
        col("n").as("n_docs"),
        expr("cast(diag as decimal(38,0)) * 1000000 div cast(n as decimal(38,0))").as("po_ppm"),
        expr("pe_num * 1000000 div (cast(n as decimal(38,0)) * cast(n as decimal(38,0)))").as("pe_ppm"))
      // degenerate-corpus guard (ADVICE r13): on a single-language corpus
      // the marginal product makes pe_ppm = 1e6 and the denominator
      // vanishes — both engines would silently emit NULL; fail loud
      // instead, like the pca require guards (never hit on this corpus:
      // five languages, pe_ppm ≈ 2e5)
      .select(col("n_docs"), col("po_ppm"), col("pe_ppm"),
        expr("CASE WHEN pe_ppm >= 1000000 THEN CAST(raise_error(" +
          "'langIdKappa: degenerate corpus — pe_ppm = 1e6 (single-language " +
          "marginals), kappa undefined') AS BIGINT) " +
          "ELSE (po_ppm - pe_ppm) * 1000000 div (1000000 - pe_ppm) END")
          .as("kappa_ppm"))
  }

  /** ZIPF RANK-FREQUENCY FIT (r13) — the corpus-statistics readout next
    * to the wordcount family: OLS of ln(freq) on ln(rank) over the full
    * vocabulary (Zipf 1949; slope ≈ −1 on natural text, and how far a
    * corpus sits from that line is a quick synthetic-vs-natural tell).
    *
    * Exactness: the q_ols_trend discipline — logs are rounded ONCE into
    * 1e-8-unit integers, every OLS sum then runs exact in DECIMAL(38,0)
    * (HUGEINT in the oracle), and doubles appear only in the final
    * slope/intercept/r² divisions, written in the same expression order
    * on both engines. The rank sort is a vocabulary-sized global window
    * — V rows, not corpus rows, so the single-partition window is free
    * at any corpus size. */
  def zipfSlope(spark: SparkSession, sfDir: String): DataFrame = {
    val f = WordCount.tokens(Tables.documents(spark, sfDir))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val r = f.withColumn("rank",
      row_number().over(Window.orderBy(desc("cnt"), asc("word"))))
    val p = r.select(
      expr("cast(round(ln(cast(rank as double)) * 100000000, 0) as decimal(38,0))").as("x"),
      expr("cast(round(ln(cast(cnt as double)) * 100000000, 0) as decimal(38,0))").as("y"))
    p.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("x*y")).as("sxy"), sum(expr("x*x")).as("sxx"), sum(expr("y*y")).as("syy"))
      .select(col("n").as("n_vocab"),
        round(expr("cast(n*sxy - sx*sy as double) / cast(n*sxx - sx*sx as double)"), 6)
          .as("slope"),
        round(expr("cast(sy*sxx - sx*sxy as double) / cast(n*sxx - sx*sx as double) / 100000000"), 6)
          .as("intercept"),
        round(expr("(cast(n*sxy - sx*sy as double) * cast(n*sxy - sx*sy as double)) " +
          "/ (cast(n*sxx - sx*sx as double) * cast(n*syy - sy*sy as double))"), 6)
          .as("r2"))
  }

  /** Bucket-count ceiling for [[heapsCurve]]'s readout grain: the bucket
    * width is derived so the curve never exceeds this many rows. */
  val HeapsMaxBuckets = 1000L

  /** HEAPS-LAW VOCABULARY GROWTH (r13) — cumulative distinct-vocabulary
    * vs cumulative tokens in doc_id order, read out at BUCKET grain
    * (doc_id div 10): the companion corpus statistic to [[zipfSlope]]
    * (Heaps 1978 — V(n) ≈ K·n^β, and a flattening curve is the
    * diminishing-new-vocabulary signal a crawl-dedup pipeline watches).
    *
    * The trick that makes it one aggregate instead of a corpus-sized
    * running distinct: a word contributes to the cumulative vocabulary
    * exactly at its FIRST document (min doc_id per word, one
    * vocabulary-sized aggregate); per-bucket news then cumulative-sum
    * over the BUCKET-sized frame.
    *
    * The bucket width is SCALE-DERIVED (VERDICT r13 ask #7), not fixed:
    * width = ⌈(max_id+1)/[[HeapsMaxBuckets]]⌉ from a one-cell max
    * aggregate (the bin-pack target precedent), so the readout is
    * bounded at ≤ 1000 rows and the single-partition cum-sum window is
    * O(1) at ANY corpus size — the r13 form's fixed `div 10` grew the
    * window linearly with corpus docs. The oracle derives the identical
    * width from the same max, all integer. */
  def heapsCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val docsT = Tables.documents(spark, sfDir)
    // bounded driver scalar: the id range (ceil division, all integer)
    val maxId = docsT.agg(max("doc_id")).collect()(0).getLong(0)
    val bw = (maxId + HeapsMaxBuckets) / HeapsMaxBuckets
    val docs = docsT
      .select(col("doc_id"), expr(s"doc_id div $bw").as("bucket"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val perBucket = docs.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("toks"))
    val news = WordCount.tokens(Tables.documents(spark, sfDir))
      .groupBy("word").agg(min("doc_id").as("first_doc"))
      .groupBy(expr(s"first_doc div $bw").as("bucket"))
      .agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(news, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_new"))
      .select(col("bucket"), col("n_docs"),
        sum("toks").over(w).as("cum_tokens"),
        sum("n_new").over(w).as("cum_vocab"))
      .orderBy("bucket")
  }

  /** NAIVE BAYES language classifier (r13) — multinomial NB with Laplace
    * smoothing (McCallum & Nigam, AAAI'98 workshop), the TRAINED
    * counterpart of the hand-written marker-vocabulary [[langId]]:
    * priors and per-class token likelihoods are learned from the corpus,
    * classification is argmax_c [ ln P(c) + Σ_w cnt(d,w)·ln P(w|c) ].
    *
    * Determinism discipline (the lm_perplexity pattern): every log is
    * rounded ONCE into DECIMAL(18,8) at the vocabulary-sized likelihood
    * grid; per-doc scores are then exact integer×decimal sums — order-
    * independent, so partitioning cannot move a hash. Argmax ties break
    * on lang ascending, written identically in the oracle.
    *
    * Scale shape: training is ONE (lang, word) hash-agg with map-side
    * combine (vocabulary-sized output) + a |langs|-sized prior
    * aggregate; the V×|langs| likelihood grid (built by exploding the
    * collected |langs| literals over the vocab — both driver collects
    * are vocabulary/|langs|-bounded, the SON-collect justification) is
    * BROADCAST into the per-doc scoring join; scoring is one
    * corpus-sized (doc, word) aggregate. Self-scoring on the training
    * corpus is the registered eval (training accuracy, the standard
    * datasheet number); a held-out eval would reuse q_train_val_test's
    * hash-split unchanged.
    */
  /** The V×|langs| Laplace log-likelihood grid shared by [[naiveBayes]]
    * and [[nbHoldout]] — r16: the vocabulary size V and the class list
    * used to be DRIVER scalars (one collect per bench rep = one extra
    * full tokens+aggregate pass at DataFrame-construction time); both now
    * ride the plan as ONE groupless broadcast aggregate (V + the
    * collect_set class list, exploded over the vocab — a scalar-side
    * cross, the one BNLJ shape PlanHygieneSpec admits), so constructing
    * the query schedules no job and each rep runs one corpus pass. The
    * r13 enforced vocabulary bound survives as an in-plan loud guard,
    * checked ONCE on that 1-row aggregate (the guarded `v` column): past
    * 10^7 grid rows it raises rather than silently broadcasting hundreds
    * of MB (swap the broadcast(grid) hints for a shuffled hash join on
    * `word` beyond it). Values are unchanged: the same Laplace
    * (cwc+1)/(tokc+V) at the same 8-place rounding.
    */
  private def nbGrid(cw: DataFrame, ct: DataFrame, tag: String): DataFrame = {
    val shape = cw.agg(
        countDistinct(col("word")).as("v"),
        sort_array(collect_set(col("c"))).as("langs"))
      .withColumn("nl", size(col("langs")).cast("long"))
      .select(
        when(col("v") * col("nl") > 10000000L,
          raise_error(format_string(
            s"$tag: likelihood grid %dx%d exceeds the 1e7-row broadcast " +
              "bound; use a shuffled hash join on word beyond this vocabulary",
            col("v"), col("nl"))).cast("long"))
          .otherwise(col("v")).as("v"),
        col("langs"))
    cw.select("word").distinct()
      .crossJoin(broadcast(shape))
      .select(col("word"), col("v"), explode(col("langs")).as("c"))
      .join(broadcast(ct), "c")
      .join(cw, Seq("word", "c"), "left")
      .select(col("word"), col("c"),
        round(log((coalesce(col("cwc"), lit(0L)) + lit(1.0)) /
          (col("tokc") + col("v").cast("double"))), 8)
          .cast("decimal(18,8)").as("lik"))
  }

  /** Session-scoped memo for the TRAINED NB model — the V×|langs|
    * likelihood grid + the |langs| prior row set, keyed (session, sfDir,
    * variant) like every trained-artifact memo (centroids, LM table,
    * codebooks): both are deterministic corpus aggregates, and r16's form
    * re-trained them inside every rep of both registered consumers. The
    * checkpointed grid stays guard-bounded (the in-plan 1e7 raise_error
    * fired — or not — during the build), so the scoring broadcast ships a
    * proven-bounded frame; with the model served from the memo the
    * scoring pass no longer shares the (doc, word) stream with training,
    * so the dw fence (one corpus-sized repartition+persist per rep) is
    * gone too. */
  private val nbModelMemo = new SessionMemo[(String, String), (DataFrame, DataFrame)]

  def naiveBayes(spark: SparkSession, sfDir: String): DataFrame = {
    // per-(doc, word) counts: the scoring stream (and, on first build,
    // the training stream — no fence: the two no longer share a plan)
    val dw = WordCount.tokens(Tables.documents(spark, sfDir))
      .groupBy("doc_id", "lang", "word")
      .agg(count(lit(1)).as("cnt"))
    val (grid, priors) = nbModelMemo.memo(spark, (sfDir, "self")) {
      val cw = dw.groupBy(col("lang").as("c"), col("word")).agg(sum("cnt").as("cwc"))
      val ct = cw.groupBy("c").agg(sum("cwc").as("tokc"))
      val nDocs = Tables.documents(spark, sfDir).agg(count(lit(1)).as("nd"))
      val p = Tables.documents(spark, sfDir)
        .groupBy(col("lang").as("c")).agg(count(lit(1)).as("nc"))
        .crossJoin(broadcast(nDocs))
        .select(col("c"),
          round(log(col("nc") / col("nd")), 8).cast("decimal(18,8)").as("prior"))
      (nbGrid(cw, ct, "naiveBayes").localCheckpoint(), p.localCheckpoint())
    }
    val scores = dw.join(broadcast(grid), "word")
      .groupBy("doc_id", "lang", "c")
      .agg(sum(col("cnt") * col("lik")).as("s"))
      .join(broadcast(priors), "c")
      .select(col("doc_id"), col("lang"), col("c"), (col("s") + col("prior")).as("score"))
    scores
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("score"), asc("c"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("c").as("pred_lang"),
        (col("c") === col("lang")).as("is_correct"))
      .orderBy("doc_id")
  }

  /** HELD-OUT NAIVE BAYES EVAL (r14, VERDICT r13 ask #3) — the honest
    * generalization number next to [[naiveBayes]]'s training accuracy:
    * the likelihood grid and priors are trained ONLY on
    * `q_train_val_test`'s 98% train band (Sampling.splitCol — the
    * deterministic hash banding, so the holdout can never leak or
    * migrate), then BOTH bands are scored by that model and the readout
    * reports per-(language, split) accuracy — the train row is the fit,
    * the val row is the generalization gap a datasheet quotes.
    *
    * Semantics pinned for exactness: V = TRAIN vocabulary (Laplace
    * denominator); a val word unseen in training is IGNORED (the inner
    * grid join drops it — the standard ignore-unknowns NB convention,
    * written identically in the oracle; never exercised on this corpus's
    * 31 shared words, but pinned); priors from train-band counts;
    * accuracies are exact integer ppm of per-split counts, so every
    * group divides by its own nonzero n (a language with zero val docs
    * simply has no val row — no NULL arithmetic). The test band is
    * scored by NEITHER side: it stays untouched, as a real holdout
    * protocol demands.
    *
    * Scale shape: [[naiveBayes]]'s exactly — the split label is a pure
    * row-local hash compare fused into the same (doc, lang, word) pass,
    * training is the one vocab-sized hash-agg over the train rows, the
    * vocab-bounded grid broadcasts into the one corpus-sized scoring
    * aggregate, and the readout collapses to |langs|×2 rows.
    */
  def nbHoldout(spark: SparkSession, sfDir: String): DataFrame = {
    // per-(doc, split, word) counts: the scoring stream (and, on first
    // build, the train-band training stream — see [[nbModelMemo]])
    val dw = WordCount.tokens(Tables.documents(spark, sfDir))
      .withColumn("split", Sampling.splitCol)
      .filter(col("split") =!= "test")
      .groupBy("doc_id", "lang", "split", "word")
      .agg(count(lit(1)).as("cnt"))
    val (grid, priors) = nbModelMemo.memo(spark, (sfDir, "holdout")) {
      val cw = dw.filter(col("split") === "train")
        .groupBy(col("lang").as("c"), col("word")).agg(sum("cnt").as("cwc"))
      val ct = cw.groupBy("c").agg(sum("cwc").as("tokc"))
      val trainDocs = Tables.documents(spark, sfDir)
        .withColumn("split", Sampling.splitCol)
        .filter(col("split") === "train")
      val nDocs = trainDocs.agg(count(lit(1)).as("nd"))
      val p = trainDocs
        .groupBy(col("lang").as("c")).agg(count(lit(1)).as("nc"))
        .crossJoin(broadcast(nDocs))
        .select(col("c"),
          round(log(col("nc") / col("nd")), 8).cast("decimal(18,8)").as("prior"))
      (nbGrid(cw, ct, "nbHoldout").localCheckpoint(), p.localCheckpoint())
    }
    val scores = dw.join(broadcast(grid), "word")
      .groupBy("doc_id", "lang", "split", "c")
      .agg(sum(col("cnt") * col("lik")).as("s"))
      .join(broadcast(priors), "c")
      .select(col("doc_id"), col("lang"), col("split"), col("c"),
        (col("s") + col("prior")).as("score"))
    scores
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("score"), asc("c"))))
      .filter(col("rn") === 1)
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("c") === col("lang"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("lang"), col("split"), col("n_docs"), col("n_correct"),
        expr("n_correct * 1000000 div n_docs").as("acc_ppm"))
      .orderBy("lang", "split")
  }

  /** Per-document quality score: type-token ratio, stopword ratio, and a
    * length prior, combined 0.4/0.3/0.3. All integer-derived doubles — the
    * formula is written identically in the oracle so rounding is safe.
    * avg word length uses n_chars = sum(len)+n_tokens-1 (single-space text).
    */
  /** The quality formula as ONE row-local expression over (text, n_chars)
    * columns — same arithmetic as [[qualityScore]]'s quality column
    * (equality per doc is asserted in CurationSpec), reusable where no
    * intermediate columns are wanted (the streaming curation filter).
    */
  private[graft] def qualityCol: org.apache.spark.sql.Column = {
    val w = split(col("text"), " ")
    val nTok = size(w).cast("long")
    val nDist = size(array_distinct(w)).cast("long")
    val nStop = expr(
      s"cast(size(filter(split(text, ' '), x -> x IN (${WordCount.stopwords.map(s => s"'$s'").mkString(",")}))) as long)")
    round(lit(0.4) * (nDist.cast("double") / nTok)
      + lit(0.3) * (lit(1.0) - nStop.cast("double") / nTok)
      + lit(0.3) * (least(nTok, lit(200L)).cast("double") / lit(200.0)), 6)
  }

  def qualityScore(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"), split(col("text"), " ").as("w"))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("w"))).cast("long"))
      .withColumn("n_stop", expr(
        s"cast(size(filter(w, x -> x IN (${WordCount.stopwords.map(s => s"'$s'").mkString(",")}))) as long)"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_tokens"), 6).as("ttr"),
        round((col("n_chars") - col("n_tokens") + 1).cast("double") / col("n_tokens"), 6).as("avg_wlen"),
        round(col("n_stop").cast("double") / col("n_tokens"), 6).as("stop_ratio"),
        round(lit(0.4) * (col("n_distinct").cast("double") / col("n_tokens"))
          + lit(0.3) * (lit(1.0) - col("n_stop").cast("double") / col("n_tokens"))
          + lit(0.3) * (least(col("n_tokens"), lit(200L)).cast("double") / lit(200.0)), 6).as("quality"))
      .orderBy("doc_id")

  /** Document fingerprints: cryptographic (md5) plus a polynomial rolling
    * hash over 32-bit md5-derived token hashes, folded left in token order
    * mod 1e9+7 — the streaming-friendly shape (each partition can fold its
    * slice; here one doc = one fold).
    */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("md5_fp"),
        expr("transform(split(text, ' '), w -> cast(conv(substring(md5(w),1,8),16,10) as bigint))").as("hs"))
      .withColumn("roll_fp", expr(
        "aggregate(slice(hs, 2, size(hs)-1), element_at(hs, 1), (acc, x) -> (acc*131 + x) % 1000000007L)"))
      .select("doc_id", "md5_fp", "roll_fp")
      .orderBy("doc_id")

  /** Winnowing window width: fingerprints are the window-minima of
    * [[WinnowW]] consecutive 3-gram hashes. Single source of truth is the
    * codegen kernel's constant (r16) so engine and oracle cannot drift. */
  val WinnowW: Int = graft.functions.TextHash.WinnowW

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every positional 3-gram, slide a
    * [[WinnowW]]-wide window, keep each window's minimum hash; the distinct
    * selected values are the doc's fingerprints. The guarantee: any shared
    * substring of ≥ w+k-1 tokens between two docs yields a shared
    * fingerprint, at an expected density of 2/(w+1) — position-robust
    * partial-overlap detection that whole-doc hashes (md5_fp) and
    * distinct-set signatures (MinHash) don't give. Docs with ≥3 tokens but
    * fewer than w 3-grams keep their global minimum (≥1 fingerprint); docs
    * under 3 tokens have no 3-grams and are excluded entirely (the oracle
    * filters identically — never hit at these sfs, min doc ≈ 10 tokens).
    * Map-side
    * HOF pass per doc — no shuffle; the 60-bit md5 hash is the same
    * engine-portable formula the samplers use, recomputed identically by
    * the oracle. Output exploded to (doc_id, fp) rows.
    */
  def winnowFingerprints(spark: SparkSession, sfDir: String): DataFrame =
    // r16: the positional-3-gram hashing + window minima run in the codegen
    // [[graft.functions.WinnowHashes]] kernel (one compiled pass per doc;
    // the HOF form built every gram hash and window minimum through
    // interpreted lambdas and was the whole cost of the query — 2.6 s →
    // ~0.2 s at sf0.1). The kernel returns an EMPTY array for docs under 3
    // tokens, so the explode applies the same exclusion the relational
    // `filter(size >= 3)` did; values are bit-identical (TextHashSpec pins
    // kernel == HOF over the corpus).
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.functions.TextHashFunctions.winnowHashes(col("text"))).as("fp"))
      .orderBy("doc_id", "fp")

  /** Token statistics: whitespace tokens vs regex tokens vs distinct — the
    * tokenizer-comparison a BPE-style pipeline runs to sanity-check corpus
    * segmentation (on this pre-normalized corpus ws == regex by design).
    */
  def tokenStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long").as("n_re_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_uniq_tokens"),
        col("n_chars"))
      .orderBy("doc_id")

  /** Intra-document repetition score: the fraction of a doc's 3-gram
    * shingles that are duplicates of an earlier one (Gopher/MassiveText-
    * style "repetitious document" signal — Rae et al. 2021 filter on
    * duplicate n-gram fraction). n_grams = tokens-2 sliding 3-grams;
    * n_distinct comes from the codegen'd ShingleHashes kernel (already
    * distinct-and-sorted, one compiled pass per doc); dup_frac =
    * 1 - n_distinct/n_grams. Docs under 3 tokens have no 3-grams → all
    * three are 0. Map-side only — no shuffle, no state; the same single
    * pass at any corpus size.
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextHashFunctions.shingleHashes
    val nTok = size(split(col("text"), " "))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        when(nTok >= 3, (nTok - 2).cast("long")).otherwise(0L).as("n_grams"),
        when(nTok >= 3, size(shingleHashes(col("text"))).cast("long"))
          .otherwise(0L).as("n_distinct"))
      .withColumn("dup_frac",
        when(col("n_grams") > 0,
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 6))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  /** GOPHER-STYLE COMPOSITE QUALITY GATE (r13) — the single keep/drop
    * decision a pretraining pipeline actually applies (Rae et al. 2021
    * §A1.1's rule family, thresholds calibrated to this corpus so every
    * rule is live): token-count window, stopword-ratio floor,
    * type-token-ratio floor, duplicate-3-gram ceiling, plus per-rule
    * flags so a curation run can see WHY mass was dropped (the Dolma
    * datasheet convention). ~60% of this corpus survives all four.
    *
    * Exactness: every threshold is an integer CROSS-MULTIPLICATION
    * (ns·50 ≥ nt for ratio ≥ 0.02, etc.) — no doubles anywhere, so the
    * gate is bit-deterministic on any engine and any partitioning. The
    * duplicate-3-gram count reuses the codegen ShingleHashes kernel
    * (distinct-hash = distinct-gram, the q_repetition-proven identity).
    *
    * Scale shape: pure map-side per-doc arithmetic — zero shuffle
    * beyond the presentation sort, composes with q_pipeline_keep as a
    * pushed filter at any corpus size.
    */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextHashFunctions.shingleHashes
    val stop = WordCount.stopwords.map(s => s"'$s'").mkString(",")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("w"), col("text"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("nt"),
        size(array_distinct(col("w"))).cast("long").as("nd"),
        expr(s"cast(size(filter(w, x -> x IN ($stop))) as long)").as("ns"),
        when(size(col("w")) >= 3, (size(col("w")) - 2).cast("long")).otherwise(0L).as("n3"),
        when(size(col("w")) >= 3, size(shingleHashes(col("text"))).cast("long"))
          .otherwise(0L).as("n3d"))
      .select(col("doc_id"), col("nt").as("n_tokens"),
        (col("nt") >= 40 && col("nt") <= 95).as("flag_len"),
        (col("ns") * 50 >= col("nt")).as("flag_stop"),
        (col("nd") * 10 >= col("nt") * 3).as("flag_ttr"),
        ((col("n3") - col("n3d")) * 20 <= col("n3")).as("flag_rep"))
      .withColumn("keep",
        col("flag_len") && col("flag_stop") && col("flag_ttr") && col("flag_rep"))
      .orderBy("doc_id")
  }

  /** TextRank damping factor and iteration count (Mihalcea & Tarau 2004:
    * d = 0.85, convergence typically < 30 rounds; 10 is stable for this
    * graph and keeps the demo bounded — the loop shape is
    * iteration-count-independent). */
  val TextRankD     = 0.85
  val TextRankIters = 10

  /** TextRank keyword extraction: weighted PageRank over the word
    * co-occurrence graph (edges = adjacent-word bigrams, weight = corpus
    * count, symmetric), top-20 words by rank. The classic
    * graph-of-the-vocabulary keyword scorer.
    *
    * Scale shape: the GRAPH is vocabulary-sized — nodes = distinct words,
    * edges = distinct bigrams — built from one corpus pass (the bigram
    * count aggregate) and checkpointed once; no corpus data enters the
    * loop. Where the rounds run depends on the graph's size
    * ([[Dedup.collectIfDriverSized]] states the gate):
    *  - a DRIVER-SIZED graph is collected once and iterated in
    *    [[textrankLocal]] with the round's exact arithmetic — O(1) jobs
    *    in place of ~3 per round (the `bpeMerges` topology); the
    *    presentation tail runs over a local frame of the ranks;
    *  - above the gate (or with broadcasts off) each round is
    *    [[textrankRound]] on the cluster: rank ⋈ edges on the 8-byte-
    *    hashable word key, contributions partial-aggregated map-side, plus
    *    the damping add. Per-round `localCheckpoint` keeps lineage O(1)
    *    (same discipline as connectedComponents), and driver traffic is
    *    zero rows per round (fixed iteration count, no convergence probe).
    *    r17: each round BROADCASTS the vocab-bounded rank frame into the
    *    join, so the checkpointed graph is never re-exchanged or re-sorted
    *    per round (2 exchanges/round removed; measured 2.50 s → 1.91 s
    *    like-for-like). The fully-lazy 10-round single-plan variant was
    *    measured too (1.83 s cold but 1.72 s vs 1.23 s in a WARM bench JVM
    *    — AQE re-plans the 42-Exchange chain at every stage boundary,
    *    which a warm scheduler does not amortize) and rejected.
    *
    * Float discipline: each contribution r(u)·w/wdeg(u) is one IEEE
    * multiply-divide rounded into DECIMAL(20,10) BEFORE the neighbor sum,
    * so every round's sums are exact and ordering-independent —
    * deterministic across partitionings and retries, and the driver and
    * cluster forms agree bit-for-bit (TextAnalysisSpec pins the full rank
    * frame) — and the same construction makes the query ORACLE-CHECKED:
    * the fixed iteration count unrolls into one plain-SQL CTE per round
    * (SparkEntry.textrankOracleSql, generated from these constants), which
    * DuckDB replays exactly.
    *
    * MEMOIZED per (session, sfDir): the graph build and the gate's
    * collect are eager, so an unmemoized second construct in the same
    * session re-ran them. The memo sits here, not on [[textrankRanks]],
    * so TextAnalysisSpec can still build both paths of the loop.
    */
  def textrank(spark: SparkSession, sfDir: String): DataFrame =
    textrankMemo.memo(spark, sfDir) {
      textrankRanks(spark, sfDir)
        .select(col("word"), round(col("rank"), 6).as("score"))
        .orderBy(desc("score"), asc("word"))
        .limit(20)
    }

  private val textrankMemo = new SessionMemo[String, DataFrame]

  /** Every word's unrounded (word, rank) after [[TextRankIters]] rounds —
    * [[textrank]] before its presentation tail. */
  private[graft] def textrankRanks(spark: SparkSession, sfDir: String): DataFrame = {
    // lazy: the gate's count (or the first round) materializes the graph
    val graph = textrankGraph(spark, sfDir).localCheckpoint(eager = false)
    Dedup.collectIfDriverSized(graph) match {
      case Some(rows) =>
        import spark.implicits._
        textrankLocal(rows.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))))
          .toSeq.toDF("word", "rank")
      case None =>
        var ranks = graph.select(col("src").as("word")).distinct()
          .withColumn("rank", lit(1.0))
          .localCheckpoint()
        for (_ <- 1 to TextRankIters) {
          val prev = ranks
          ranks = textrankRound(graph, ranks).localCheckpoint()
          prev.unpersist()
        }
        // the final ranks frame stays checkpointed until the result is
        // unreferenced (ContextCleaner reclaims the blocks) — unpersisting
        // here would orphan the lineage-truncated result before it is
        // consumed
        ranks
    }
  }

  /** [[TextRankIters]] rounds of [[textrankRound]] over collected
    * (src, dst, w, wdeg) edges, in the round's own arithmetic: the
    * contribution `round(rank·w/wdeg, 10)` (double multiply-divide, then
    * HALF_UP to scale 10 — Spark's `round` on a double) summed exactly as
    * a decimal per node, then `(1 - d) + d·sum` in double. A node keeps a
    * rank only while some ranked node points at it, as in the round's
    * inner join. */
  private def textrankLocal(edges: Array[(String, String, Long, Long)]): Map[String, Double] = {
    var ranks = edges.iterator.map(_._1 -> 1.0).toMap
    for (_ <- 1 to TextRankIters) {
      val inbox = scala.collection.mutable.HashMap.empty[String, java.math.BigDecimal]
      for ((src, dst, w, wdeg) <- edges; r <- ranks.get(src)) {
        val c = java.math.BigDecimal.valueOf(r * w / wdeg)
          .setScale(10, java.math.RoundingMode.HALF_UP)
        inbox(dst) = inbox.get(dst).fold(c)(_.add(c))
      }
      ranks = inbox.iterator.map { case (v, sum) =>
        v -> ((1.0 - TextRankD) + TextRankD * sum.doubleValue)
      }.toMap
    }
    ranks
  }

  /** The symmetric weighted co-occurrence graph (src, dst, w, wdeg) —
    * [[textrank]]'s loop input, factored out (uncheckpointed) so
    * PlanHygieneSpec can inspect the full-lineage plan of a loop round.
    */
  private[graft] def textrankGraph(spark: SparkSession, sfDir: String): DataFrame = {
    val bi = Tables.documents(spark, sfDir)
      .select(explode(graft.functions.TextHashFunctions.bigrams(col("text"))).as("b"))
      .groupBy("b").agg(count(lit(1)).as("w"))
      .select(substring_index(col("b"), " ", 1).as("src"),
        substring_index(col("b"), " ", -1).as("dst"), col("w"))
      .filter(col("src") =!= col("dst")) // self-loops add nothing to ranking
    // symmetrize by EXPLODING each aggregated bigram (r17): the union
    // form repeated the corpus-sized bigram aggregate per direction, and
    // feeding both the wdeg aggregate and the join re-ran the result two
    // more times — four corpus passes per graph build. The explode fans
    // out the vocab²-bounded AGGREGATED rows, and wdeg rides a window
    // over the same frame instead of a self-join: ONE corpus pass total.
    val edges = bi.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("r"), col("w"))
      .select(col("r.src").as("src"), col("r.dst").as("dst"), col("w"))
      .groupBy("src", "dst").agg(sum("w").as("w"))
    edges.withColumn("wdeg",
      sum("w").over(Window.partitionBy("src")))
  }

  /** One rank-update round: graph ⋈ ranks on the word key, each
    * contribution rounded into DECIMAL(20,10) before the neighbor sum,
    * damping applied. The above-gate loop body of [[textrankRanks]]
    * ([[textrankLocal]] is its driver twin), shared with PlanHygieneSpec
    * (the registered query's FINAL plan does not contain the per-round
    * plans, so the spec asserts hygiene on this frame directly).
    */
  private[graft] def textrankRound(graph: DataFrame, ranks: DataFrame): DataFrame =
    graph.join(broadcast(ranks), col("src") === col("word"))
      .select(col("dst"),
        round(col("rank") * col("w") / col("wdeg"), 10)
          .cast("decimal(20,10)").as("contrib"))
      .groupBy(col("dst").as("word"))
      .agg((lit(1.0) - lit(TextRankD)
        + lit(TextRankD) * sum(col("contrib")).cast("double")).as("rank"))

  /** Per-word triangle counts over the word co-occurrence graph — the
    * third classic graph operator next to connected components (Dedup)
    * and PageRank (textrank above). Triangles drive clustering
    * coefficients and community detection.
    *
    * Scale shape: DEGREE-ORDERED edge orientation (Suri & Vassilvitskii,
    * "Counting triangles and the curse of the last reducer", WWW 2011).
    * Each undirected edge is oriented from its lower-(degree, name)
    * endpoint to its higher one, so every out-degree is O(sqrt(m)) — a
    * celebrity node with 10^6 neighbors produces no 10^12-wedge task
    * because almost all its edges point INTO it. Wedges come from one
    * equi-join of the oriented list with itself on the source, triangles
    * from one semi join probing the closing edge; both joins key on
    * 8-byte-hashable strings and the graph is vocabulary-sized however
    * large the corpus (the bigram aggregate collapses map-side). The
    * oracle formulation is orientation-free (lexicographic three-way
    * join) — triangles are orientation-invariant, so the two must agree.
    */
  def triangles(spark: SparkSession, sfDir: String): DataFrame = {
    val pair = Tables.documents(spark, sfDir)
      .select(explode(graft.functions.TextHashFunctions.bigrams(col("text"))).as("b"))
      .select(substring_index(col("b"), " ", 1).as("a"),
        substring_index(col("b"), " ", -1).as("z"))
      .filter(col("a") =!= col("z"))
    // checkpoint the vocab-bounded edge set: deg + the orientation join
    // used to replay the corpus-sized distinct three times (unionAll ×2
    // and the join input); endpoints now EXPLODE from one materialized
    // edge list (r17)
    val edges = pair.select(least(col("a"), col("z")).as("u"),
        greatest(col("a"), col("z")).as("v")).distinct()
      .localCheckpoint()
    val deg = edges.select(explode(array(col("u"), col("v"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("deg"))
    // orient by the (degree, name) total order; carry the target's degree
    // so wedge pairs can be ordered by the same relation
    val oriented = edges
      .join(deg.select(col("w").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("w").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"), col("du").as("dt"))).as("o"))
      .select(col("o.s").as("s"), col("o.t").as("t"), col("o.dt").as("dt"))
      .localCheckpoint() // reused three times (both wedge sides + closing probe)
    val wedges = oriented.select(col("s"), col("t").as("y"), col("dt").as("dy"))
      .join(oriented.select(col("s"), col("t").as("z"), col("dt").as("dz")), Seq("s"))
      .filter(struct(col("dy"), col("y")) < struct(col("dz"), col("z")))
    // y precedes z in the orientation order, so the closing edge — if the
    // graph has it — is stored exactly as (s=y, t=z)
    wedges.join(oriented.select(col("s").as("y"), col("t").as("z")),
        Seq("y", "z"), "left_semi")
      .select(explode(array(col("s"), col("y"), col("z"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_tri"))
      .orderBy("word")
  }

  /** Fixed keyword-query panel for [[bm25TopK]]: a handful of 3-term
    * queries over the corpus vocabulary — the literal, engine-portable
    * query model (a production system would feed these from a query log).
    */
  private[graft] val Bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "spark", 1L -> "table", 1L -> "join",
    2L -> "window", 2L -> "agg", 2L -> "stream",
    3L -> "fast", 3L -> "scan", 3L -> "filter",
    4L -> "customer", 4L -> "order", 4L -> "query",
    5L -> "vector", 5L -> "hash", 5L -> "merge")

  /** BM25 parameters (Robertson & Zaragoza 2009): k1 = 1.2 = 6/5,
    * b = 0.75 = 3/4. Both are small rationals ON PURPOSE — the tf
    * normalization below clears denominators with them, so the per-term
    * weight's numerator and denominator are exact integers in ANY engine:
    *
    *   tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))     with avgdl = T/N
    *   = 22·tf·T / (10·tf·T + 3·T + 9·dl·N)       (×10T num and den)
    *
    * The only transcendental is the idf, rounded once into decimal(18,8)
    * (the [[Curation.lmPerplexity]] discipline); per-term weights round
    * into decimal(18,6) so the per-(query, doc) score is an exact,
    * order-independent decimal sum and the ranking is engine-portable.
    */
  val Bm25K = 10

  /** Exact per-term BM25 weights (doc_id, word, w6) for the given term
    * vocabulary — the query-INDEPENDENT half of the scorer, computed
    * BEFORE any query fan-out on purpose: w depends only on (doc, word),
    * so evaluating the transcendental idf and the decimal rounding here
    * (|vocab ∩ corpus| × docs rows) instead of after the query join
    * (× queries-per-term more rows) keeps the expensive expressions off
    * the widest frame. w6 is the scale-6 decimal weight in exact integer
    * MICRO-UNITS (decimal×10⁶ → long, an exact decimal-domain multiply on
    * this narrow frame): the (q_id, doc_id) score aggregate downstream is
    * then a plain long sum — same exact values, same ordering, but the
    * wide post-fan-out hash-agg adds 8-byte integers instead of carrying
    * Int128 decimal state. Measured at sf0.1 with the corpus-slice panel
    * (17.6M fan-out rows): lexical arm 21 s → decimal-weight hoist + long
    * micro-units ≈ 5 s.
    */
  /** Session-scoped memo for [[termWeights]] results, keyed on (session,
    * sfDir, vocab tag) — VERDICT r9 ask #4: the BM25 weight table is the
    * trained artifact of the lexical-retrieval family (the analogue of the
    * k-means centroids / LM table), and q_bm25_topk + q_rrf_fusion's
    * lexical arm each re-derived it per call. The tag NAMES the
    * deterministic vocabulary derivation ("panel" = the literal
    * [[Bm25Queries]] terms; "perdoc" = the corpus-slice per-doc term sets;
    * "full" = the whole corpus vocabulary for the stored index), so equal
    * tags imply equal vocab frames. Weights are a deterministic function
    * of (corpus, vocab), so memoizing changes no score. LAZY
    * localCheckpoint: plan construction stays job-free; blocks are written
    * on first action and survive `catalog.clearCache()`.
    */
  private val weightsMemo = new SessionMemo[(String, String), DataFrame]

  private[graft] def termWeightsMemo(spark: SparkSession, sfDir: String, tag: String)
                                    (vocab: => DataFrame): DataFrame = {
    weightsMemo.memo(spark, (sfDir, tag))(termWeights(spark, sfDir, vocab).localCheckpoint(false))
  }

  private[graft] def termWeights(spark: SparkSession, sfDir: String, vocab: DataFrame): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // scalar corpus stats: N docs, T total tokens
    val stats = docs
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), sum("dl").as("t"))
    // single scan: token stream with per-doc length riding along; the
    // broadcast semi join prunes to query vocabulary BEFORE the shuffle
    val tok = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"),
      explode(split(col("text"), " ")).as("word"))
    val tf = tok
      .join(broadcast(vocab), Seq("word"), "left_semi")
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"), min("dl").as("dl"))
    // idf on the vocabulary-sized df frame — one log + decimal round per
    // TERM, not per (doc, term) row
    val idf = tf.groupBy("word").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("word"),
        round(log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)), 8)
          .cast("decimal(18,8)").as("idf"))
    tf.join(broadcast(idf), "word")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("word"),
        (round(col("idf").cast("double")
            * (lit(22L) * col("tf") * col("t")).cast("double")
            / (lit(10L) * col("tf") * col("t") + lit(3L) * col("t")
               + lit(9L) * col("dl") * col("n")).cast("double"), 6)
          .cast("decimal(18,6)") * lit(1000000L)).cast("long").as("w6"))
  }

  /** s6 micro-unit score sum → the emitted 6-decimal double (exact: s6 is
    * an integer < 2⁵³ and 10⁶ is a power-of-ten double, so the division
    * is correctly rounded and the half-up 6-digit round recovers the
    * exact decimal the oracle's decimal sum converts to). */
  private def scoreCol = round(col("s6").cast("double") / lit(1e6), 6)

  /** (q_id, doc_id, s6) exact BM25 scores for a query-term panel, scored
    * with the [[Similarity.cosineTopK]] KERNEL SHAPE rather than a
    * join-aggregate: per-doc weights pivot into a V-slot micro-unit vector
    * in deterministic sorted-vocab coordinates, per-query 0/1 masks
    * broadcast in the same coordinates, and each (query, doc) score is ONE
    * codegen'd DotProduct over primitive doubles. The join-agg form this
    * replaces fanned every (doc, term) weight out per matching query
    * (panel × corpus × shared-vocab rows — 17.6M at sf0.1 with the
    * corpus-slice panel) and hash-aggregated 10⁶ groups; here nothing
    * wider than panel × corpus narrow rows ever exists. Exactness is
    * unchanged: the dot over 0-filled slots IS the sum over the shared
    * vocabulary, micro-unit products are 0/1 × w6 < 2⁵³ so the double sum
    * is an exact integer, and s6 casts back to the same long the decimal
    * sum would give. Pairs sharing NO query term are dropped by a
    * presence-mask dot (not by `s6 > 0`) so a legitimately zero-weight
    * shared term can never change membership vs the join formulation —
    * the oracle keeps that formulation.
    *
    * V-DEPENDENCE (ADVICE r9): the dv/pv/qv slots number V = |panel
    * vocabulary| — the rows are a dense document-term matrix, NOT the
    * fixed-64-dim shape of the cosine panel this kernel is modeled on.
    * The broadcast is O(panel × V) and each pair dot is O(V), so the
    * kernel's advantage holds only while the panel vocabulary is
    * bounded (this corpus: 31 words; a query-log panel: the union of its
    * query terms, bounded per query by construction). Against an
    * unbounded vocabulary the posting-list join ([[bm25TopK]]) or the
    * stored term-partitioned index ([[bm25Served]]) is the right plan —
    * which is why the pivot serves ONLY the rrf arm's corpus-slice panel
    * and is not the registered BM25 operator.
    */
  private def bm25Scores(spark: SparkSession, sfDir: String, qterms: DataFrame,
                         excludeSelf: Boolean, memoTag: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val vocab = qterms.select(col("term").as("word")).distinct()
    // deterministic vocab coordinates: ≤ |query vocab| rows, one tiny
    // partition — the single-partition sort is bounded by the panel
    val vidx = vocab.withColumn("idx", row_number().over(Window.orderBy("word")))
    val nv = vidx.agg(max("idx").as("v"))
    val dvec = termWeightsMemo(spark, sfDir, memoTag)(vocab)
      .join(broadcast(vidx), "word")
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("idx"), col("w6")))).as("m"))
      .crossJoin(broadcast(nv))
      .select(col("doc_id"),
        expr("transform(sequence(1, v), i -> cast(coalesce(m[i], 0L) as double))").as("dv"),
        expr("transform(sequence(1, v), i -> IF(m[i] IS NULL, cast(0 as double), cast(1 as double)))").as("pv"))
    val qvec = qterms.join(broadcast(vidx), col("term") === col("word"))
      .groupBy("q_id").agg(collect_set(col("idx")).as("qi"))
      .crossJoin(broadcast(nv))
      .select(col("q_id"),
        expr("transform(sequence(1, v), i -> IF(array_contains(qi, i), cast(1 as double), cast(0 as double)))").as("qv"))
    val pairs =
      if (excludeSelf) dvec.join(broadcast(qvec), col("q_id") =!= col("doc_id"))
      else dvec.crossJoin(broadcast(qvec))
    pairs
      .filter(dot(col("qv"), col("pv")) > lit(0.0))
      .select(col("q_id"), col("doc_id"),
        dot(col("qv"), col("dv")).cast("long").as("s6"))
  }

  /** BM25 ranked retrieval: top-[[Bm25K]] documents per keyword query.
    *
    * Scale shape: the query panel is a literal broadcast; a LEFT SEMI join
    * against it prunes the token stream to query vocabulary BEFORE the
    * only corpus-sized shuffle (the (doc, word) tf hash-agg inside
    * [[termWeights]], which also carries dl as a constant-per-group min).
    * df and the corpus totals (N docs, T tokens) are
    * query-vocabulary-sized / scalar aggregates joined back broadcast;
    * scoring is one more (q_id, doc_id) long-sum hash-agg. One documents
    * scan, no all-pairs, no driver state.
    */
  def bm25TopK(spark: SparkSession, sfDir: String, k: Int = Bm25K): DataFrame = {
    import spark.implicits._
    val qterms = Bm25Queries.toDF("q_id", "term")
    // literal HANDFUL-of-queries panel: the plain posting-list join-agg is
    // the cheaper plan here (fan-out ≈ |matching postings|, no pivot
    // stages); the vector kernel in [[bm25Scores]] wins only when the
    // panel is corpus-sliced and queries-per-term is large (rrfFusion's
    // arm). Both compute the identical exact micro-unit sums.
    val w = termWeightsMemo(spark, sfDir, "panel")(
      qterms.select(col("term").as("word")).distinct())
    w.join(broadcast(qterms), col("word") === col("term"))
      .groupBy("q_id", "doc_id").agg(sum("w6").as("s6"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("s6"), asc("doc_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").cast("long").as("rn"), col("doc_id"),
        scoreCol.as("score"))
      .orderBy("q_id", "rn")
  }

  /** Stored-index path memo: (session, sfDir) → directory holding the
    * TERM-PARTITIONED BM25 weight index over the FULL corpus vocabulary,
    * written once per session — the build half of the build-once /
    * serve-many lifecycle (VERDICT r9 ask #3). The index rows are the
    * exact (doc_id, w6) micro-unit weights of [[termWeights]]; `word` is
    * the partition column, so a query's probe prunes to exactly its
    * terms' directories at plan time (asserted by `selectedPartitions`
    * in StorageLayoutSpec). Written under the JVM temp dir — a
    * production deployment points this at its warehouse; the path memo,
    * not the path, is the pattern.
    */
  private val bm25IndexMemo = new SessionMemo[String, String]

  private[graft] def bm25IndexDir(spark: SparkSession, sfDir: String): String =
    bm25IndexMemo.dir(spark, sfDir, "graft-bm25-index") { dir =>
      val fullVocab = Tables.documents(spark, sfDir)
        .select(explode(split(col("text"), " ")).as("word")).distinct()
      termWeights(spark, sfDir, fullVocab)
        .write.partitionBy("word").mode("overwrite").parquet(dir)
    }

  /** BM25 ranked retrieval SERVED from the stored term-partitioned index
    * — the registered production lifecycle (VERDICT r9 ask #3): the
    * full-vocabulary weight index is built and written ONCE per session
    * ([[bm25IndexDir]]); every query then reads ONLY its terms'
    * partitions (static partition pruning on the literal `isin` — the
    * scan never touches the rest of the vocabulary) and ranks from
    * stored weights. Results are identical to the scan-time
    * [[bm25TopK]] because w6 depends only on (doc, word) + corpus
    * stats, never on which vocabulary subset was indexed — so this
    * query shares its full DuckDB oracle.
    *
    * Scale shape: serving cost is |matching postings| — the probe scan
    * reads the query terms' partitions only, the broadcast side is the
    * literal query panel, and the only shuffle is the (q_id, doc_id)
    * long-sum hash-agg over pruned postings. The corpus-sized work
    * (tokenize, tf, idf) happened once at index-build; at 100 TB the
    * index is the artifact a crawl pipeline maintains incrementally
    * while serving stays partition-pruned.
    */
  def bm25Served(spark: SparkSession, sfDir: String, k: Int = Bm25K): DataFrame = {
    import spark.implicits._
    val qterms = Bm25Queries.toDF("q_id", "term")
    val panelTerms = Bm25Queries.map(_._2).distinct
    val probe = Tables.cachedScan(spark, bm25IndexDir(spark, sfDir))
      .filter(col("word").isin(panelTerms: _*))
    probe.join(broadcast(qterms), col("word") === col("term"))
      .groupBy("q_id", "doc_id").agg(sum("w6").as("s6"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("s6"), asc("doc_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").cast("long").as("rn"), col("doc_id"),
        scoreCol.as("score"))
      .orderBy("q_id", "rn")
  }

  /** Incremental postings index for [[bm25Incremental]]: raw
    * (doc_id, tf, dl, batch) postings partitioned by term, appended one
    * BATCH at a time, plus a per-batch (batch, n, t) stats table. The
    * load-bearing design point vs [[bm25IndexDir]]'s weight index: w6
    * depends on GLOBAL df/N/T, which change with every appended crawl
    * batch — so an index that must absorb appends stores batch-local
    * FACTS (term frequencies and doc lengths, which never change once
    * written) and computes weights at serve time from current global
    * stats. Appending batch B touches only B's postings and one stats
    * row; nothing already written is read or rewritten. df for a term
    * is the row count of its partition — available post-pruning.
    */
  private val postingsIndexMemo = new SessionMemo[String, String]

  private[graft] def postingsIndexDir(spark: SparkSession, sfDir: String): String =
    postingsIndexMemo.dir(spark, sfDir, "graft-bm25-postings") { dir =>
      // two deterministic "crawl batches" (even / odd doc ids): the first
      // write creates the index, the second is a pure append
      appendPostingsBatch(spark, sfDir, dir, 0)
      appendPostingsBatch(spark, sfDir, dir, 1)
    }

  /** Append one crawl batch's postings + stats row to the standing index
    * at `dir`. Package-private so StorageLayoutSpec can drive the
    * batch-at-a-time lifecycle explicitly. */
  private[graft] def appendPostingsBatch(spark: SparkSession, sfDir: String,
                                         dir: String, batchId: Int): Unit = {
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === batchId)
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"),
        explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"), min("dl").as("dl"))
      .withColumn("batch", lit(batchId))
      .write.partitionBy("word").mode("append").parquet(s"$dir/postings")
    docs.select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), sum("dl").as("t"))
      .withColumn("batch", lit(batchId))
      .write.mode("append").parquet(s"$dir/stats")
  }

  /** BM25 over the INCREMENTALLY-built postings index — the index
    * MAINTENANCE half of the production lifecycle ([[bm25Served]] is the
    * serving half): the corpus arrives as appended batches, each writing
    * only its own postings partitions and one stats row, and serving
    * computes df/idf/weights from the CURRENT global facts — so the
    * ranking over the merged index is exactly the full-corpus ranking
    * (hash-checked against the same oracle as [[bm25TopK]]). The weight
    * arithmetic mirrors [[termWeights]] expression-for-expression (idf
    * rounded once into DECIMAL(18,8), integer-cleared tf normalization,
    * micro-unit longs), so scores are bit-identical to the scan-time and
    * stored-weight forms.
    *
    * Scale shape: serving reads ONLY the panel terms' partitions (static
    * pruning) — df comes from the pruned rows themselves, the stats
    * table is batch-count-sized, and the one shuffle is the
    * (q_id, doc_id) long-sum over matching postings. Appends never
    * rescan the standing index; the recompute-on-serve of df/idf is the
    * price of append-only facts, paid on vocabulary-sized frames.
    */
  def bm25Incremental(spark: SparkSession, sfDir: String, k: Int = Bm25K): DataFrame = {
    import spark.implicits._
    val qterms = Bm25Queries.toDF("q_id", "term")
    val panelTerms = Bm25Queries.map(_._2).distinct
    val dir = postingsIndexDir(spark, sfDir)
    val post = Tables.cachedScan(spark, s"$dir/postings")
      .filter(col("word").isin(panelTerms: _*))
    val stats = Tables.cachedScan(spark, s"$dir/stats")
      .agg(sum("n").as("n"), sum("t").as("t"))
    val idf = post.groupBy("word").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("word"),
        round(log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)), 8)
          .cast("decimal(18,8)").as("idf"))
    post.join(broadcast(idf), "word")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("word"),
        (round(col("idf").cast("double")
            * (lit(22L) * col("tf") * col("t")).cast("double")
            / (lit(10L) * col("tf") * col("t") + lit(3L) * col("t")
               + lit(9L) * col("dl") * col("n")).cast("double"), 6)
          .cast("decimal(18,6)") * lit(1000000L)).cast("long").as("w6"))
      .join(broadcast(qterms), col("word") === col("term"))
      .groupBy("q_id", "doc_id").agg(sum("w6").as("s6"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("s6"), asc("doc_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").cast("long").as("rn"), col("doc_id"),
        scoreCol.as("score"))
      .orderBy("q_id", "rn")
  }

  /** Per-query-document BM25 ranking for [[rrfFusion]]: the query panel is
    * the [[Similarity]] family's deterministic corpus slice (doc_id ≡ 0
    * mod 25 — same docs whose embeddings drive the cosine ranking), and
    * each query's terms are that document's DISTINCT tokens. Returns the
    * top-`kPool` lexical matches per query doc (query doc excluded), exact
    * decimal scoring as in [[bm25TopK]]. Panel rows are (q_id, term) pairs
    * — corpus/25 docs × a vocabulary-bounded term set — broadcast-sized
    * under the same allowance as the cosine query panel.
    */
  private[graft] def bm25PerDocQueries(spark: SparkSession, sfDir: String,
                                       kPool: Int): DataFrame = {
    val qterms = Tables.documents(spark, sfDir).filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
    bm25Scores(spark, sfDir, qterms, excludeSelf = true, memoTag = "perdoc")
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("s6"), asc("doc_id"))))
      .filter(col("rn") <= kPool)
      .select(col("q_id"), col("doc_id"), col("rn"))
  }

  /** Candidate-pool depth each retriever contributes to [[rrfFusion]]. */
  val RrfPool = 20
  /** The RRF rank-discount constant (Cormack, Clarke & Buettcher 2009). */
  val RrfC = 60

  /** Hybrid retrieval via Reciprocal Rank Fusion: for each query document
    * (the deterministic doc_id ≡ 0 mod 25 panel), fuse the top-[[RrfPool]]
    * LEXICAL ranking (BM25 over the query doc's tokens,
    * [[bm25PerDocQueries]]) with the top-[[RrfPool]] SEMANTIC ranking
    * (exact cosine over the aligned embedding, [[Similarity.cosineTopK]])
    * by rrf(d) = Σ_lists 1/([[RrfC]] + rank_list(d)), then keep the fused
    * top-k. Each 1/(c+r) term is rounded once into decimal(18,8), so the
    * fused score is an exact two-term decimal sum and the final ranking is
    * engine-portable — the standard production shape for "vector search +
    * keyword search" retrieval.
    *
    * Scale shape: both inputs are already top-kPool-per-query frames
    * (corpus/25 × kPool narrow rows); the fusion itself is a full outer
    * join on (q_id, doc_id) plus a window rank — nothing corpus-sized
    * moves after the two retrievers' own (documented) plans.
    */
  def rrfFusion(spark: SparkSession, sfDir: String, k: Int = Bm25K): DataFrame = {
    def disc(r: org.apache.spark.sql.Column) =
      round(lit(1.0) / (lit(RrfC) + r), 8).cast("decimal(18,8)")
    val zero = lit(0).cast("decimal(18,8)")
    val lex = bm25PerDocQueries(spark, sfDir, RrfPool)
      .select(col("q_id"), col("doc_id"), col("rn").as("r_lex"))
    val sem = Similarity.cosineTopK(spark, sfDir, RrfPool)
      .select(col("q_id"), col("vec_id").as("doc_id"), col("rn").as("r_sem"))
    lex.join(sem, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(disc(col("r_lex")), zero) + coalesce(disc(col("r_sem")), zero))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("rrf"), asc("doc_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").cast("long").as("rn"), col("doc_id"),
        col("r_lex").cast("long").as("r_lex"), col("r_sem").cast("long").as("r_sem"),
        round(col("rrf").cast("double"), 8).as("rrf"))
      .orderBy("q_id", "rn")
  }

  /** The exact-phrase query panel [[phraseSearch]] serves (interpolated
    * into its DuckDB oracle, so both engines answer the same panel). */
  private[graft] val PhrasePanel: Seq[(Long, String)] = Seq(
    (1L, "hash join"), (2L, "table scan"), (3L, "sort merge"),
    (4L, "stream batch"), (5L, "fast table scan"))

  /** Exact PHRASE search over a positional posting list — the retrieval
    * primitive BM25's bag-of-words scoring cannot express (an occurrence
    * of "hash join" is not an occurrence of "hash" and "join"): per
    * (phrase, doc), the count of positions where ALL the phrase's terms
    * appear at their exact offsets.
    *
    * The plan is ONE join regardless of phrase length — no k-way
    * self-join chain: the token stream carries positions (posexplode),
    * is pruned to the panel's vocabulary BEFORE anything else (so the
    * frame entering the join is |matching postings|, not the corpus
    * token count), and joins the broadcast (phrase, offset, term) panel;
    * a posting matching term t at offset o anchors a candidate start at
    * pos−o, and a (doc, phrase, anchor) group where the match count
    * equals the phrase length is a full occurrence — each offset can
    * match at most once per anchor (positions are unique), so
    * count == length ⇔ every offset matched, repeated-word phrases
    * included. Overlapping occurrences count separately (anchors
    * differ), which is why the oracle enumerates anchor positions too
    * rather than substring-replace counting.
    *
    * Scale shape: the only corpus-sized work is the tokenize scan; the
    * shuffle is the (doc, phrase, anchor) hash-agg over vocabulary-pruned
    * postings, linear in matching postings at any corpus size. A standing
    * deployment would serve the same join from a stored positional index
    * partitioned by term (the [[bm25IndexDir]] lifecycle).
    */
  def phraseSearch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val terms = PhrasePanel.flatMap { case (pid, p) =>
      val ws = p.split(" ")
      ws.zipWithIndex.map { case (w, i) => (pid, p, i, w, ws.length) }
    }.toDF("p_id", "phrase", "off", "term", "plen")
    val vocab = PhrasePanel.flatMap(_._2.split(" ")).distinct
    val pos = Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .filter(col("word").isin(vocab: _*))
    pos.join(broadcast(terms), col("word") === col("term"))
      .groupBy(col("doc_id"), col("p_id"), (col("pos") - col("off")).as("anchor"))
      .agg(count(lit(1)).as("nmatch"), min("plen").as("plen"), min("phrase").as("phrase"))
      .filter(col("nmatch") === col("plen"))
      .groupBy("p_id", "phrase", "doc_id").agg(count(lit(1)).as("n_occ"))
      .orderBy("p_id", "doc_id")
  }

  /** KWIC terms — a slice of the phrase panel's vocabulary, so hits are
    * guaranteed on the synthetic corpus. */
  private[graft] val KwicTerms: Seq[String] = Seq("join", "scan")
  private[graft] val KwicWindow = 3

  /** KEYWORD IN CONTEXT (concordance): every occurrence of a query term
    * with its ±3-token window — the corpus-inspection primitive every
    * linguist's toolbox and every data-curation debugging session runs
    * (grep with token alignment). Map-side ONLY: the token array stays
    * in the row, positions come from `posexplode`, the snippet is an
    * array `slice` + join, and the pushed `isin` filter drops non-hit
    * tokens before anything is materialized — zero shuffle except the
    * output sort. The oracle rebuilds snippets by DuckDB list slicing
    * over `generate_subscripts` — an independent formulation of the
    * window clamp.
    */
  def kwic(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"), posexplode(col("w")).as(Seq("pos", "word")))
      .filter(col("word").isin(KwicTerms: _*))
      .select(col("word").as("term"), col("doc_id"), col("pos").cast("long").as("pos"),
        expr(s"""array_join(slice(w, greatest(pos + 1 - $KwicWindow, 1),
          least(pos + 1 + $KwicWindow, size(w))
            - greatest(pos + 1 - $KwicWindow, 1) + 1), ' ')""").as("snippet"))
      .orderBy("term", "doc_id", "pos")

  /** Skip-gram co-occurrence counts (word2vec / GloVe training-pair
    * extraction, Mikolov et al. 2013): for every token, its context
    * words within ±[[SkipWindow]] positions, counted over the corpus as
    * a symmetric (center, context) matrix — the whole-window sibling of
    * the adjacent-only PMI collocations.
    *
    * Plan (r17): the pair extraction runs in the codegen
    * [[graft.functions.SkipgramPairs]] kernel — one compiled pass per
    * document emitting every (center, context) entry in BOTH directions.
    * The r16 form self-joined positional tokens per distance d ∈ 1..window
    * (tokens × offsets equi-joined on (doc_id, pos + d)) and then counted
    * each direction via a union — which re-planned the whole join subtree
    * per branch: four corpus scans and two corpus-position broadcasts for
    * one map-side extraction. Pair multiplicity is join-identical (one
    * forward + one reversed entry per in-range (i, d)), so the count
    * aggregate — partial-aggregated map-side to vocab²-bounded rows — is
    * unchanged. Single source of truth for the window width is the
    * kernel's constant.
    */
  private[graft] val SkipWindow: Int = graft.functions.TextHash.SkipWindow

  def skipgramPairs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(graft.functions.TextHashFunctions.skipgramPairs(col("text"))).as("p"))
      .select(col("p.center").as("center"), col("p.context").as("context"))
      .groupBy("center", "context").agg(count(lit(1)).as("n"))
      .orderBy("center", "context")
}
