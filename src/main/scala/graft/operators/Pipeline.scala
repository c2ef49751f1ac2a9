package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composed training-data pipeline operators (SURVEY.md §2.B9): benchmark
  * decontamination and the end-to-end "keep set" a pretraining pipeline
  * computes — the documents that survive dedup AND quality filtering AND
  * decontamination in one declarative plan.
  *
  * Scale design: contamination detection is a semi join on 8-byte shingle
  * hashes with NO static broadcast hint — in this formulation the "benchmark"
  * is carved out of the corpus itself (every 97th doc), so its shingle set
  * grows as corpus/97 and a forced broadcast would die at 100×. A shuffled
  * semi join on the hash is scale-safe at any size, and AQE converts it to a
  * broadcast at runtime whenever the benchmark side measures genuinely small
  * (the common case with a real external benchmark). The keep-set plan
  * composes three doc_id-keyed semi/anti joins — Catalyst plans each as a
  * broadcast or shuffle join on the narrow id column, never moving text.
  *
  * Reference provenance: /root/reference is an empty checkout (SURVEY.md
  * §0); n-gram-overlap decontamination follows the methodology popularized
  * by GPT-3's appendix (Brown et al. 2020) and the quality/dedup filter
  * composition mirrors C4 (Raffel et al. 2020).
  *
  * Collision assumption (shared with the Dedup family): shingle equality is
  * decided on 60-bit md5 hashes while the DuckDB oracle compares shingle
  * strings, so a cross-shingle hash collision (~2^-60 per pair, union-bound
  * ~n_shingles^2 / 2^61 per corpus) could diverge from the oracle. Accepted
  * as negligible alongside the band-collision remark in Dedup.
  */
object Pipeline {

  /** Every 97th doc plays the held-out benchmark set. */
  private def isBench = col("doc_id") % 97 === 0

  /** Quality floor for the keep set (q_quality's score is ~0.45–0.75 on
    * this corpus; 0.55 keeps a meaningful majority and drops a real tail).
    */
  val QualityFloor = 0.55

  /** Benchmark decontamination: drop every non-benchmark doc sharing at
    * least one 3-gram shingle with any benchmark doc. Candidate detection
    * is a semi join on the shingle hash, then an anti join back to doc
    * ids — no text moves. Deliberately no broadcast hint on the benchmark
    * side: it is corpus-derived here (see object scaladoc), so the join
    * must stay shuffle-shaped statically and let AQE broadcast only when
    * the runtime size warrants it.
    */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Dedup.shingleSets(spark, sfDir)
    val ex = sh.select(col("doc_id"), explode(col("hs")).as("s"))
    val benchShingles = ex.filter(isBench).select("s").distinct()
    val contaminated = ex.filter(!isBench)
      .join(benchShingles, Seq("s"), "left_semi")
      .select("doc_id").distinct()
    sh.filter(!isBench).select("doc_id")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Shingles a contaminated doc must share with the benchmark before the
    * fractional detector flags it: n_hit·20 ≥ n_sh ⇔ overlap ≥ 5%. */
  val OverlapDen = 20L

  /** Fractional decontamination (the GPT-3 appendix-C refinement of
    * [[decontaminate]]): instead of dropping on ANY shared shingle, report
    * per-doc how many of its distinct 3-gram shingles appear in the
    * benchmark set and flag only docs whose overlap fraction clears 5% —
    * the knob real pipelines tune, since one shared idiom is noise but a
    * half-copied eval answer is contamination. Same scale shape as
    * [[decontaminate]]: hint-free semi-style join on 8-byte shingle hashes,
    * then a doc_id hash-agg; the flag compare is integer (n_hit·20 ≥ n_sh).
    */
  def decontaminateOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Dedup.shingleSets(spark, sfDir)
    val ex = sh.select(col("doc_id"), explode(col("hs")).as("s"))
    val bench = ex.filter(isBench).select("s").distinct().withColumn("hit", lit(1))
    ex.filter(!isBench)
      .join(bench, Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_hit"))
      .select(col("doc_id"), col("n_sh"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_sh"), 6).as("overlap_frac"),
        (col("n_hit") * lit(OverlapDen) >= col("n_sh")).as("contaminated"))
      .orderBy("doc_id")
  }

  /** The end-to-end keep set: non-benchmark docs that are (a) their text's
    * dedup survivor (min doc_id per distinct text), (b) at or above the
    * quality floor, and (c) decontaminated — returned with their quality
    * score. One declarative plan over three reused operators.
    */
  /** Exact-dup survivors (min doc_id per distinct text) — shared by every
    * keep-set variant so survivorship can never diverge between them. */
  private def survivorsFrame(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id")

  /** Docs at/above the quality floor, with quality and n_tokens — shared
    * by the keep-set variants. */
  private def qualityFloorFrame(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.qualityScore(spark, sfDir)
      .filter(col("quality") >= QualityFloor)
      .select("doc_id", "quality", "n_tokens")

  /** Session-scoped memos for the MATERIALIZED keep lists (r17, VERDICT
    * r16 ask #3 — "the composed pipelines re-derive stage frames"): the
    * keep set and the curated keep set are deterministic artifacts of
    * the corpus — exactly what a production curation pipeline writes
    * once and every downstream stage reads — yet q_pipeline_keep_neardup
    * re-derived the full keep-set plan on top of q_pipeline_keep's, and
    * q_pipeline_substr re-derived all five curated stages on top of
    * q_pipeline_curated's. Checkpoint-truncated one-narrow-row-per-
    * surviving-doc frames (the clusterMemo contract). */
  private val keepMemo = new SessionMemo[String, DataFrame]
  private val curatedMemo = new SessionMemo[String, DataFrame]

  /** [[keepSet]] without the presentation sort, served from [[keepMemo]]. */
  private def keepRaw(spark: SparkSession, sfDir: String): DataFrame =
    keepMemo.memo(spark, sfDir)(
      decontaminate(spark, sfDir)
        .join(survivorsFrame(spark, sfDir), Seq("doc_id"), "left_semi")
        .join(qualityFloorFrame(spark, sfDir).select("doc_id", "quality"), "doc_id")
        .select(col("doc_id"), col("quality"))
        .localCheckpoint())

  def keepSet(spark: SparkSession, sfDir: String): DataFrame =
    keepRaw(spark, sfDir).orderBy("doc_id")

  /** [[keepSet]] strengthened from exact-dup to NEAR-dup survivorship: also
    * drop every doc that sits in a near-dup cluster without being its
    * survivor (the component-minimum doc_id from [[Dedup.neardupClusters]]).
    * This is the full pretraining deletion semantics — detect pairs, group
    * into components, keep one per cluster — composed as one more id-keyed
    * anti join on the (tiny: clustered-docs-only) loser list.
    */
  /** Tokens per packed training sequence for [[packSequences]]. */
  val PackLen = 4096L

  /** Sequence packing: assign each document to the fixed-size training
    * sequence (pack) its first token lands in, packing contiguously in
    * doc_id order within each language. pack_id = (running token total
    * BEFORE this doc) div PackLen — the contiguous-chunking formulation of
    * training-sequence packing (deterministic, order-defined, exactly
    * reproducible), not the NP-hard bin-packing variant. One running-sum
    * window per language: partition-parallel across langs at any scale,
    * the same caveat-free shape as the B5 running frames. All-integer
    * arithmetic end to end.
    */
  /** The pack-assignment prefix shared by [[packSequences]] and
    * [[packTexts]] — one definition so the published assignments and the
    * materialized pack fingerprints can never diverge. */
  private def packAssign(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nTok = size(split(col("text"), " ")).cast("long")
    Tables.documents(spark, sfDir)
      .withColumn("n_tokens", nTok)
      .withColumn("cum", sum("n_tokens").over(
        Window.partitionBy("lang").orderBy("doc_id")))
      .withColumn("pack_id", expr(s"(cum - n_tokens) div $PackLen"))
  }

  def packSequences(spark: SparkSession, sfDir: String): DataFrame =
    packAssign(spark, sfDir)
      .select("doc_id", "lang", "n_tokens", "pack_id")
      .orderBy("doc_id")

  /** LM negative-log-likelihood band for [[curatedKeepSet]]: docs outside
    * it read as gibberish (high) or degenerate repetition (low) — the
    * CCNet-style perplexity filter, stated on avg_nll = ln(ppl). */
  val NllLo = 3.0
  val NllHi = 4.0

  /** Token-count band for [[curatedKeepSet]] (C4-style length filter). */
  val LenLo = 15L
  val LenHi = 400L

  /** The COMPLETE curation pipeline in one declarative plan — what a C4 /
    * CCNet-style pretraining preparation actually runs, composed from five
    * already-verified operators: exact-dup survivorship ∧ heuristic
    * quality ≥ [[QualityFloor]] ∧ fractional decontamination (< 5%
    * benchmark overlap) ∧ bigram-LM plausibility band ([[NllLo]], [[NllHi]]
    * on avg_nll) ∧ token-length band. Everything joins on the narrow
    * doc_id key — text never moves past its per-operator scan — and every
    * stage keeps its own scale shape (map-side filters, vocabulary-bounded
    * LM, hint-free shingle joins). Output carries each surviving doc's
    * quality, avg_nll and n_tokens so downstream mixing can re-weight
    * without recomputing.
    */
  def curatedKeepSet(spark: SparkSession, sfDir: String): DataFrame =
    curatedRaw(spark, sfDir).orderBy("doc_id")

  /** [[curatedKeepSet]] without the presentation sort, served from
    * [[curatedMemo]] — the materialized curated keep list
    * q_pipeline_curated and q_pipeline_substr both read. */
  private def curatedRaw(spark: SparkSession, sfDir: String): DataFrame =
    curatedMemo.memo(spark, sfDir) {
      // the quality stage already carries n_tokens (same split-size
      // expression) — the length band rides it, no second tokenize pass
      val qualityAndLen = qualityFloorFrame(spark, sfDir)
        .filter(col("n_tokens") >= LenLo && col("n_tokens") <= LenHi)
      val clean = decontaminateOverlap(spark, sfDir)
        .filter(!col("contaminated")).select("doc_id")
      val lm = Curation.lmPerplexity(spark, sfDir)
        .filter(col("avg_nll") >= NllLo && col("avg_nll") <= NllHi)
        .select("doc_id", "avg_nll")
      clean
        .join(survivorsFrame(spark, sfDir), Seq("doc_id"), "left_semi")
        .join(qualityAndLen, "doc_id")
        .join(lm, "doc_id")
        .select(col("doc_id"), col("quality"), col("avg_nll"), col("n_tokens"))
        .localCheckpoint()
    }

  /** Duplicated-content budget for [[curatedSubstrKeepSet]]: a document
    * whose tokens are MAJORITY-covered by duplicated spans (≥ 500 000
    * ppm) is dropped — the whole-document duplicates sit at 1e6 ppm and
    * fall to this gate even when they are the canonical exact-dup
    * survivor, which is exactly Lee et al.'s ExactSubstr semantics
    * (every occurrence of a duplicated span is removal material, not
    * just the copies). */
  val DupPpmMax = 500000L

  /** The curated keep-set with the EXACT-SUBSTRING gate on top
    * (`q_pipeline_substr`): [[curatedKeepSet]] ∧ suffix-mask
    * dup_ppm ≤ [[DupPpmMax]], carrying the per-doc duplicated-content
    * budget in the output so downstream mixing can re-weight partially
    * duplicated docs instead of recomputing. Composition stays on the
    * narrow doc_id key; the mask is [[SuffixDedup.suffixMask]]'s lazy
    * window count, so the gate adds no construct-time job.
    */
  def curatedSubstrKeepSet(spark: SparkSession, sfDir: String): DataFrame =
    curatedRaw(spark, sfDir)
      .join(SuffixDedup.suffixMask(spark, sfDir)
        .select(col("doc_id"), col("dup_ppm")), "doc_id")
      .filter(col("dup_ppm") <= DupPpmMax)
      .select(col("doc_id"), col("quality"), col("avg_nll"),
        col("n_tokens"), col("dup_ppm"))
      .orderBy("doc_id")

  /** Cross-split leakage audit: for every val/test doc of the
    * [[Sampling.trainValTest]] holdout, how many of its distinct 3-gram
    * shingles also occur in the TRAIN split — the hygiene check a team
    * runs after any split, since eval docs with heavy train overlap
    * measure memorization, not generalization. Same scale shape as the
    * decontamination family: the train shingle set is a hint-free
    * semi-style join on 8-byte hashes, then one doc_id hash-agg.
    */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    // split is a row-local function of doc_id (Sampling.splitCol) — label
    // the shingle rows map-side instead of joining the trainValTest output
    // (which would cost a second documents scan plus its global sort)
    val ex = Dedup.shingleSets(spark, sfDir)
      .select(col("doc_id"), explode(col("hs")).as("s"))
      .withColumn("split", Sampling.splitCol)
    val trainSh = ex.filter(col("split") === "train")
      .select("s").distinct().withColumn("hit", lit(1))
    ex.filter(col("split") =!= "train")
      .join(trainSh, Seq("s"), "left")
      .groupBy("doc_id", "split")
      .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_hit"))
      .select(col("doc_id"), col("split"), col("n_sh"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_sh"), 6).as("leak_frac"))
      .orderBy("doc_id")
  }

  /** Materialize the packed training sequences that [[packSequences]]
    * assigns: per (lang, pack), the member docs concatenated in doc_id
    * order with an `<eod>` separator — the artifact a trainer actually
    * reads. The concat order is pinned by sort_array over (doc_id, text)
    * structs, so the pack text (fingerprinted, not emitted raw) is
    * deterministic and engine-portable; counts and token totals ride
    * along. One window pass + one hash-agg — pack groups are ~packLen
    * tokens each, so no group outgrows an executor regardless of corpus
    * size.
    */
  def packTexts(spark: SparkSession, sfDir: String): DataFrame = {
    packAssign(spark, sfDir)
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        md5(expr("array_join(transform(sort_array(collect_list(struct(doc_id, text))), " +
          "p -> p.text), ' <eod> ')")).as("pack_fp"))
      .orderBy("lang", "pack_id")
  }

  def keepSetNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val losers = Dedup.neardupClustersRaw(spark, sfDir)
      .filter(col("doc_id") =!= col("cluster"))
      .select("doc_id")
    keepRaw(spark, sfDir)
      .join(losers, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** DATASET CARD: the datasheet a corpus release ships — corpus size,
    * token mass, language/source diversity, exact-duplicate rate and
    * mean document length, emitted as (metric, value) rows of EXACT
    * integers only (rates as integer per-mille / ppm via `div`, so no
    * float ever enters the artifact). ONE global aggregate over one
    * corpus scan; the three distinct-counts ride Spark's Expand-based
    * multi-distinct path, still a single pass. The |metrics|-sized
    * `stack` unpivot mirrors q_expectations' shape.
    */
  def datasetCard(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("text")).as("n_distinct_texts"),
        sum(col("n_chars")).as("sum_chars"))
      .select(expr(
        """stack(7,
          |  'n_docs', n_docs,
          |  'n_tokens', n_tokens,
          |  'n_langs', n_langs,
          |  'n_sources', n_sources,
          |  'n_distinct_texts', n_distinct_texts,
          |  'exact_dup_per_mille', (n_docs - n_distinct_texts) * 1000 div n_docs,
          |  'mean_chars_ppm', sum_chars * 1000000 div n_docs)
          |AS (metric, value)""".stripMargin))
      .orderBy("metric")
}
