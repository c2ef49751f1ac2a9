package graft.operators

import graft.Tables
import graft.functions.TextHashFunctions.{jaccardSorted, minHashBands, shingleHashes, simHash60}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deduplication surface (SURVEY.md §2.B9): exact, hash, and three
  * near-duplicate detectors with *identical output semantics* but different
  * scaling strategies — inverted-index join (exact), PPJoin-style prefix
  * filtering (exact, pruned), and MinHash LSH (probabilistic candidates with
  * exact verification). All near-dup queries share one DuckDB oracle: pairs
  * with 3-gram-shingle Jaccard >= 0.8.
  *
  * Scale design: the corpus is never all-pairs'd. Candidates come from a
  * shuffle on a shingle/band/bucket key — data movement is O(index entries),
  * not O(n^2). The exact verify joins only the candidate pair list back to
  * the per-doc shingle sets. Skew (a shingle shared by every doc) is bounded
  * by the prefix filter / band width; at 100 TB the same plans hold with the
  * shingle index bucketed by key.
  *
  * Shingling, MinHash and SimHash math runs in the codegen'd kernels of
  * graft.functions.TextHash (one compiled pass per document) — the
  * interpreted `transform(... md5 ...)` HOF chains they replace owned 79%
  * of the round-1 bench. Documents travel the pipeline as sorted distinct
  * 60-bit shingle-hash arrays; all joins key on 8-byte longs, never shingle
  * strings. Collision assumption: the DuckDB oracle compares shingle
  * STRINGS, so equality-on-hash diverges from it only on a 60-bit md5
  * collision between distinct shingles (~2^-60 per pair; union-bound
  * ~n_shingles^2 / 2^61 per corpus) — accepted as negligible, like the
  * chance band collisions the verify step already screens out.
  *
  * Reference provenance: /root/reference is an empty checkout (SURVEY.md §0);
  * near-dup semantics follow Broder's shingling (SEQUENCES'97) and the
  * MinHash-LSH construction in Mining of Massive Datasets ch.3; prefix
  * filtering follows Xiao et al., PPJoin (WWW'08).
  */
object Dedup {

  /** Jaccard threshold for near-dup pairs (3-gram shingles). The corpus is
    * bimodal — probe: 25 pairs >= 0.9, everything else < 0.4 at sf0.01 — so
    * 0.8 is deep inside the gap and all three strategies agree exactly.
    */
  val ShingleTau = 0.8

  /** Hamming threshold for SimHash pairs; near-dups measure <= 7 bits apart,
    * unrelated docs >= 15 (probed at sf0.01), so 9 sits in the gap AND stays
    * under the 10-band pigeonhole completeness bound (ham <= bands-1).
    */
  val HammingTau = 9

  // ---------------------------------------------------------------- exact

  /** Exact dedup: one survivor (min doc_id) per distinct text. A hash-
    * partitioned groupBy on the full text — at scale group on sha2(text)
    * instead so the shuffle key is 32 bytes, not the document (hashDedup).
    */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  /** Content-hash dedup: shuffle on the 256-bit fingerprint, never the text.
    * This is the 100 TB shape — shuffle volume = 32 B/doc + key.
    */
  def hashDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(sha2(col("text"), 256).as("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("fp")

  // ------------------------------------------------------------- shingles

  /** Per-doc sorted distinct 3-gram shingle-hash array (docs shorter than 3
    * tokens fall back to their token set), computed by the codegen'd
    * ShingleHashes kernel — one compiled pass per document. The inner
    * repartition spreads hashing across all cores instead of the scan's
    * input splits; the closing fence materializes `hs`, and because every
    * call site builds the identical plan, self-joins share ONE cache entry
    * and compute the hashes once per query.
    */
  private[operators] def shingleSets(spark: SparkSession, sfDir: String): DataFrame =
    fence(Tables.documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), shingleHashes(col("text")).as("hs")),
      "doc_id")

  /** Optimizer fence: hash-repartition + persist(MEMORY_AND_DISK).
    *
    * The persist is the load-bearing part: it is a hard plan boundary, so
    * (a) CollapseProject cannot inline the signature expressions into every
    * downstream band-explode / pair-join row, and (b)
    * InferFiltersFromConstraints cannot rewrite a join-key isnotnull into
    * the FULL signature expression pushed down onto the scan (measured in
    * round 1: that pushed filter re-evaluated the whole hash chain per input
    * row, single-threaded — 10-50x the query's real work). Plan-identical
    * call sites share one cache entry, so self-joins compute signatures
    * once.
    *
    * Size honesty: fence sizes differ by an order of magnitude per family.
    * The SHINGLE fence (`shingleSets`) holds ~8 B per shingle and shingle
    * count ≈ token count, so it is corpus-order-sized — the same magnitude
    * as the text itself, NOT small. The bands/simhash/embedding-norm fences
    * hold 16/1/65 longs per doc and genuinely are tiny. MEMORY_AND_DISK is
    * pinned explicitly so the corpus-sized fence degrades to a disk spill
    * (one extra materialization, still one signature computation) instead
    * of silent recomputation or OOM; SCALE.md quantifies the spill cost.
    */
  private[operators] def fence(df: DataFrame, key: String): DataFrame = {
    val r = df.repartition(col(key))
    // guard the re-persist (r17): two fences over plan-identical frames
    // (e.g. jaccardPairs' twin shingle sides) hit the CacheManager's
    // canonical-plan match — the cache was shared correctly, but every
    // Verify/Bench log carried "Asked to cache already cached data";
    // Dataset.storageLevel consults the same canonical-plan lookup, so
    // it is the exact no-op predicate
    if (r.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      r.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else r
  }

  /** `df`'s rows on the driver when the frame is DRIVER-SIZED, else None —
    * the one gate between the driver-local and the distributed forms of
    * the iterative graph loops ([[TextAnalysis.textrank]],
    * [[connectedComponents]]). Driver-sized means row count × Spark's
    * per-row size estimate (`EstimationUtils.getSizePerRow` of the output)
    * ≤ `spark.sql.autoBroadcastJoinThreshold`: the size Spark itself
    * already collects and ships to every executor as a broadcast join
    * side. A threshold of -1 (broadcasts off) returns None without a job.
    * Costs one count over `df` plus the collect, so `df` should be
    * checkpointed (both callers pass their loop input, checkpointed
    * lazily so that the count is the job that materializes it).
    */
  private[operators] def collectIfDriverSized(df: DataFrame): Option[Array[Row]] = {
    val limit = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (limit < 0) None
    else {
      val rowSize = EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output)
      // toRdd.count is one map-only job; Dataset.count adds a shuffle stage
      if (rowSize * df.queryExecution.toRdd.count() <= limit) Some(df.collect()) else None
    }
  }

  /** Verify candidate (doc_a, doc_b) pairs against the exact Jaccard
    * threshold. Joins the candidate list back to two independently-built
    * shingle-hash frames; the Jaccard itself is a codegen'd two-pointer
    * merge over the sorted hash arrays (no per-pair set allocation).
    * UNSORTED — presentation callers add their own orderBy; plan-internal
    * consumers (connected components) skip the range-partition sort.
    */
  private def verifyPairs(spark: SparkSession, sfDir: String, cand: DataFrame): DataFrame = {
    val sa = shingleSets(spark, sfDir).withColumnRenamed("doc_id", "doc_a").withColumnRenamed("hs", "hsa")
    val sb = shingleSets(spark, sfDir).withColumnRenamed("doc_id", "doc_b").withColumnRenamed("hs", "hsb")
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"), jaccardSorted(col("hsa"), col("hsb")).as("j"))
      .filter(col("j") >= ShingleTau)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("jac"))
  }

  /** Exact near-dup via inverted index: explode shingle hashes, self-join on
    * the 8-byte hash, then — because shingle-hash sets are distinct — the
    * per-pair match COUNT from that join IS the intersection size. The two
    * set sizes ride along with the index entries (two ints per row) and
    * aggregate as `min` (constant per doc), so exact Jaccard falls out of
    * the single groupBy — no join back to the corpus, no broadcast builds,
    * and the map-side partial aggregate means the widened rows never
    * inflate the shuffle beyond the candidate-pair count. Complete because
    * jaccard >= tau > 0 implies at least one shared shingle.
    */
  def jaccardPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val ia = shingleSets(spark, sfDir)
      .select(col("doc_id").as("doc_a"), size(col("hs")).as("na"), explode(col("hs")).as("s"))
    val ib = shingleSets(spark, sfDir)
      .select(col("doc_id").as("doc_b"), size(col("hs")).as("nb"), explode(col("hs")).as("s"))
    ia.join(ib, "s").filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("ni"), min("na").as("na"), min("nb").as("nb"))
      .withColumn("j", col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
      .filter(col("j") >= ShingleTau)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("jac"))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact near-dup with PPJoin-style prefix filtering: each doc indexes only
    * its first ceil((1-tau)*|S|)+1 shingles under a global total order; any
    * pair with jaccard >= tau must collide inside both prefixes. The join
    * relies on the TWO-SIDED prefix lemma (Xiao et al. WWW'08, complete for
    * ANY fixed total order): jaccard(A,B) >= tau implies
    * |A∩B| >= ceil(tau * max(|A|,|B|)) >= ceil(tau*|S|) for each
    * S in {A,B}; let x be the SMALLEST intersection element under the
    * global order — at least |A∩B|-1 intersection elements sort after x, so
    * x's rank within S is at most |S| - ceil(tau*|S|) + 1
    * <= ceil((1-tau)*|S|) + 1. The same x therefore lies inside BOTH
    * prefixes, and the prefix-prefix equi join below sees every qualifying
    * pair. (The one-sided bound alone would not justify a join that
    * truncates both sides.)
    *
    * The order used is the shingle hash value itself: `hs` is already a
    * sorted distinct hash array, so the prefix is a literal `slice` — no
    * document-frequency shuffle, no broadcast, no per-doc collect_list
    * aggregate, no second cache fence. md5-60 hash order is effectively a
    * random permutation of the vocabulary; probed at sf0.1 it admits ~238k
    * candidate pairs vs ~130k for rarest-first ordering, 1.13M for the
    * plain inverted index, and 12.5M all-pairs. The ~2x candidate overhead
    * vs rarest-first buys a plan with three fewer stages and no driver-side
    * broadcast build — round 2's rarest-first formulation was the query most
    * sensitive to machine contention precisely because of that machinery.
    */
  def ppjoinPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val prefLen = ceil(lit(1.0 - ShingleTau) * size(col("hs"))).cast("int") + lit(1)
    val pref = shingleSets(spark, sfDir)
      .select(col("doc_id"), explode(slice(col("hs"), lit(1), prefLen)).as("s"))
    val pa = pref.select(col("doc_id").as("doc_a"), col("s"))
    val pb = pref.select(col("doc_id").as("doc_b"), col("s"))
    val cand = pa.join(pb, "s").filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verifyPairs(spark, sfDir, cand).orderBy("doc_a", "doc_b")
  }

  /** The near-dup pair query WRITTEN AS ITS SPECIFICATION — an explicit
    * crossJoin + `jaccard >= tau` filter — relying on
    * [[graft.plans.SimJoinRewriteRule]] to plan it as a prefix-filtered
    * equi join. Same output as [[ppjoinPairs]]/[[jaccardPairs]] (one shared
    * oracle); what this entry demonstrates is the OPTIMIZER path: the user
    * states all-pairs semantics declaratively and the library's Catalyst
    * rule removes the CartesianProduct (asserted in SimJoinRewriteSpec —
    * 12.5M evaluated pairs at sf0.1 becomes a ~240k-collision hash join).
    *
    * Install contract (no session mutation): the rule must already be
    * active, either injected by GraftExtensions at session build
    * ([[graft.Session.builder]] sets `spark.sql.extensions` — every
    * session in the repo is built from it) or added to
    * `spark.experimental.extraOptimizations` BY THE CALLER. Absent both,
    * this fails fast with the install instruction instead of silently
    * planning a 100 TB cartesian product; it never changes the session
    * itself.
    */
  def simJoinDeclarative(spark: SparkSession, sfDir: String): DataFrame = {
    val rule = graft.plans.SimJoinRewriteRule
    val active =
      spark.sessionState.optimizer.extendedOperatorOptimizationRules.contains(rule) ||
        spark.experimental.extraOptimizations.contains(rule)
    if (!active) throw new IllegalStateException(
      "SimJoinRewriteRule is not installed in this session; build it with " +
        ".config(\"spark.sql.extensions\", \"graft.GraftExtensions\") (or add the rule " +
        "to spark.experimental.extraOptimizations yourself). Refusing to plan the " +
        "declarative sim join as a cartesian product.")
    val a = shingleSets(spark, sfDir).select(col("doc_id").as("doc_a"), col("hs").as("hsa"))
    val b = shingleSets(spark, sfDir).select(col("doc_id").as("doc_b"), col("hs").as("hsb"))
    a.crossJoin(b)
      .filter(col("doc_a") < col("doc_b") &&
        jaccardSorted(col("hsa"), col("hsb")) >= lit(ShingleTau))
      .select(col("doc_a"), col("doc_b"),
        round(jaccardSorted(col("hsa"), col("hsb")), 6).as("jac"))
      .orderBy("doc_a", "doc_b")
  }

  /** Shingles of a doc that must be cross-doc duplicates before
    * [[dupNgramFractions]] calls the doc mostly-duplicated: n_shared·5 ≥
    * n_sh·4 ⇔ shared fraction ≥ 80%. */
  val DupNgramNum = 5L
  val DupNgramDen = 4L

  /** Cross-document duplicate-n-gram accounting (the corpus-level signal
    * behind suffix-style substring dedup — Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"): for each doc, how many
    * of its distinct 3-gram shingles also occur in at least one OTHER doc,
    * and the resulting shared fraction, flagged at ≥80%. Differs from
    * [[TextAnalysis.repetition]] (intra-doc) and from the pair generators
    * (this is per-doc, not per-pair). Document frequency is one hash-agg
    * over the exploded shingle index — `hs` is per-doc distinct, so
    * count(*) per hash IS the document frequency; the per-doc readout
    * counts each doc's GLOBALLY UNIQUE shingles (nd = 1 rows carry their
    * single owner doc) and subtracts from size(hs), so nothing
    * corpus-shingle-sized is ever joined back. The mostly_dup compare is
    * integer.
    */
  def dupNgramFractions(spark: SparkSession, sfDir: String): DataFrame = {
    // r17: `hs` is per-doc DISTINCT, so a shingle with document frequency
    // 1 has exactly ONE (doc, s) row — its owner doc rides the frequency
    // aggregate as max(doc_id). n_shared = n_sh − (this doc's globally
    // unique shingles), with n_sh = size(hs) read map-side off the fence.
    // The r16 form joined the full shingle-domain frequency table BACK
    // onto every exploded (doc, s) row (a corpus-shingle-sized broadcast
    // probe) and re-grouped all of it by doc; this shape shuffles only the
    // nd=1 survivors and joins two doc-count-sized frames (guide §2.3).
    val ss = shingleSets(spark, sfDir)
    val uniq = ss.select(col("doc_id"), explode(col("hs")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("nd"), max(col("doc_id")).as("d"))
      .filter(col("nd") === 1)
      .groupBy(col("d").as("doc_id")).agg(count(lit(1)).as("n_uniq"))
    ss.select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"))
      .filter(col("n_sh") > 0)
      .join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        (col("n_sh") - coalesce(col("n_uniq"), lit(0L))).as("n_shared"))
      .select(col("doc_id"), col("n_sh"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_sh"), 6).as("shared_frac"),
        (col("n_shared") * DupNgramNum >= col("n_sh") * DupNgramDen).as("mostly_dup"))
      .orderBy("doc_id")
  }

  /** Longest cross-document duplicated token SPAN per doc — the signal
    * behind substring-level dedup (Lee et al. 2022 remove duplicated
    * spans, not whole documents): where [[dupNgramFractions]] reports HOW
    * MUCH of a doc is duplicated, this reports the longest CONTIGUOUS
    * duplicated stretch, the unit a span-removal pass would actually cut.
    * A position's 3-gram is "duplicated" when it occurs in ≥ 2 distinct
    * docs; the longest run of consecutive duplicated positions over r
    * 3-grams covers r+2 tokens.
    *
    * Scale shape: positional 3-grams hash to the engine-portable 60-bit
    * md5 key (the samplers'/winnowing formula — the ORACLE recomputes the
    * identical hash, so the dup flags agree bit-for-bit rather than
    * probabilistically); document frequency is one hash aggregate over the
    * per-doc-distinct (doc_id, h) projection; the join back is the usual
    * hint-free 8-byte equi-join. The runs come from the classic
    * gaps-and-islands window (pos − row_number), which partitions by
    * doc_id over DUPLICATED positions only — per-doc state, no global
    * sort, no per-doc list materialization.
    */
  def dupSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val runs = dupRunStats(toks)
      .groupBy("doc_id").agg(max("run").as("max_run"))
    toks
      .select(col("doc_id"),
        greatest(size(col("w")).cast("long") - 2L, lit(0L)).as("n_grams"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("max_run"), lit(0L)).as("max_dup_run"),
        when(coalesce(col("max_run"), lit(0L)) > 0L, col("max_run") + 2L)
          .otherwise(0L).as("dup_span_tokens"))
      .orderBy("doc_id")
  }

  /** Maximal runs of cross-doc-duplicated trigram positions per doc:
    * (doc_id, grp, run, start) — shared by [[dupSpans]] (reports the
    * longest) and [[spanScrub]] (cuts it). Input: (doc_id, w) with w the
    * token array.
    */
  private def dupRunStats(toks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tg = toks
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(w)-3), i -> " +
        "cast(conv(substring(md5(concat_ws(' ', w[i], w[i+1], w[i+2])),1,15),16,10) as bigint))"))
        .as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
    val docFreq = tg.select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
    tg.join(docFreq, "h").filter(col("nd") >= 2)
      .select("doc_id", "pos")
      .withColumn("grp",
        col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "grp")
      .agg(count(lit(1)).as("run"), min("pos").as("start"))
  }

  /** SPAN SCRUB — the apply half of span-level dedup ([[dupSpans]] is the
    * detect half): cut each doc's longest cross-doc duplicated span (ties:
    * earliest) and emit the cleaned token stream's length and md5
    * fingerprint. This is what "deduplicating training data" means at the
    * substring level (Lee et al. 2022): the duplicated stretch goes, the
    * unique remainder stays — removing whole docs would throw away their
    * unique content, keeping them double-counts the span.
    *
    * The cut is token-range arithmetic: a run of r duplicated trigram
    * positions starting at s covers tokens [s, s+r+1], so cleaned =
    * tokens[0, s) ++ tokens[s+r+2, n). Map-side slice/concat per doc —
    * the only shuffles are dupRunStats' (document frequency + the per-doc
    * run window); text rides to the cut in its scan partition. The
    * fingerprint is over the REJOINED token stream in both engines, so
    * no-cut docs compare identically too.
    */
  def spanScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    // per doc: the longest run, earliest on ties — min over (-run, start)
    val best = dupRunStats(toks)
      .groupBy("doc_id")
      .agg(min(struct((-col("run")).as("nr"), col("start"))).as("b"))
      .select(col("doc_id"), (-col("b.nr")).as("run"), col("b.start").as("start"))
    toks.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        coalesce(col("start"), lit(-1L)).as("cut_start"),
        when(col("run").isNotNull, col("run") + 2L).otherwise(0L).as("cut_tokens"),
        when(col("run").isNotNull,
          concat(slice(col("w"), lit(1), col("start").cast("int")),
            slice(col("w"), (col("start") + col("run") + 3L).cast("int"), size(col("w")))))
          .otherwise(col("w")).as("cw"))
      .select(col("doc_id"), col("n_tokens"), col("cut_start"), col("cut_tokens"),
        size(col("cw")).cast("long").as("n_clean"),
        md5(array_join(col("cw"), " ")).as("clean_fp"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------- minhash

  /** MinHash LSH near-dup: 64-permutation signature over the shingle-hash
    * array, 16 bands of 4 rows — all computed by the codegen'd MinHashBands
    * kernel in one pass per doc — band-bucket join for candidates, exact
    * Jaccard verify. Probabilistic recall ~1 at tau=0.8 given the bimodal
    * corpus; output is identical to the exact strategies. Shuffle key =
    * (band, mixed 4-row signature) — constant width regardless of doc size.
    */
  def minhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairsRaw(spark, sfDir).orderBy("doc_a", "doc_b")

  /** [[minhashPairs]] without the presentation sort — the pair feed for
    * [[neardupClusters]], which immediately re-shuffles by node id and
    * would waste the range-partition exchange a global sort costs.
    */
  private[graft] def minhashPairsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val bandsDf = fence(shingleSets(spark, sfDir)
      .select(col("doc_id"), minHashBands(col("hs")).as("bands")),
      "doc_id") // fence: materialize the 16 band keys before the self-join
    def side(pairCol: String): DataFrame =
      bandsDf.select(col("doc_id").as(pairCol),
        posexplode(col("bands")).as(Seq("band", "key")))
    val cand = side("doc_a").join(side("doc_b"), Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verifyPairs(spark, sfDir, cand)
  }

  /** Containment numerator/denominator: the smaller shingle set must be
    * ≥ 90% inside the other (inter·10 ≥ min(sz)·9 — integer compare). */
  val ContainNum = 9L
  val ContainDen = 10L

  /** ASYMMETRIC containment near-dup: pairs where the smaller doc's
    * shingle set sits ≥ 90% inside the other's — the quote/excerpt/subset
    * relation symmetric Jaccard structurally misses (a 20-shingle doc
    * fully contained in a 500-shingle doc has containment 1.0 but Jaccard
    * 0.04, far under any sane τ). The dedup decision it feeds: drop or
    * down-weight the contained doc, keep the container.
    *
    * Scale shape: the same inverted-index equi-join as [[jaccardPairs]] —
    * candidates are pairs sharing ≥1 shingle, intersection = per-pair
    * match count, both set sizes ride as ints and collapse with min() —
    * and the containment test is integer. No prefix filter applies (the
    * PPJoin prefix lemma is Jaccard-specific; containment's candidate
    * bound is the index join itself), which is honest: containment search
    * IS harder than similarity search, and the index join is its standard
    * shape (Xiao et al. use asymmetric prefixes; at this τ the plain
    * index join is exact and subquadratic on shared-shingle pairs).
    */
  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val ex = shingleSets(spark, sfDir)
      .select(col("doc_id"), size(col("hs")).as("sz"), explode(col("hs")).as("s"))
    val a = ex.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"), col("s"))
    val b = ex.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"), col("s"))
    a.join(b, "s").filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"), min("sz_a").as("sz_a"), min("sz_b").as("sz_b"))
      .filter(col("inter") * ContainDen >= least(col("sz_a"), col("sz_b")) * ContainNum)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"), col("sz_b"),
        round(col("inter").cast("double")
          / least(col("sz_a"), col("sz_b")), 6).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash ESTIMATE-vs-EXACT audit — the sketch-accuracy companion that
    * q_cms_counts gives frequencies: for every verified near-dup pair,
    * the 64-permutation MinHash estimate (matching-component fraction)
    * next to the exact Jaccard and the signed error. The affine hash
    * family is deterministic, so — unlike HLL — the estimate is
    * engine-reproducible and this audit carries a FULL oracle (DuckDB
    * recomputes all 64 minima from the md5-60 shingle hashes). n/64 has
    * at most six decimal digits, so the round-6 estimate is exact.
    * Pair set = the verified pairs (candidate recall 1 at this τ,
    * asserted by the shared near-dup oracle), so the audit measures the
    * sketch, not the bucketing.
    */
  def minhashEstimate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextHashFunctions.{minHashSig => sigFn}
    val pairs = minhashPairsRaw(spark, sfDir)
    val sigs = fence(shingleSets(spark, sfDir)
      .select(col("doc_id"), sigFn(col("hs")).as("sig")), "doc_id")
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("siga")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sigb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("cast(size(filter(zip_with(siga, sigb, (x, y) -> x = y), m -> m)) as bigint)")
          .as("n_match"),
        col("jac").as("jac_exact"))
      .withColumn("jac_est", round(col("n_match") / lit(64.0), 6))
      .withColumn("err", round(col("jac_est") - col("jac_exact"), 6))
      .select("doc_a", "doc_b", "n_match", "jac_est", "jac_exact", "err")
      .orderBy("doc_a", "doc_b")
  }

  /** Band-width sweep configs for [[minhashBandCurve]]: rows-per-band over
    * the 64-value signature. The configs are HIERARCHICALLY ALIGNED (each
    * r doubles the previous, bands split on block boundaries), so an
    * r-row band match implies both constituent r/2-row bands match —
    * candidate sets NEST: cand(16) ⊆ cand(8) ⊆ cand(4) ⊆ cand(2). That
    * makes candidate count and recall monotone in r BY CONSTRUCTION (the
    * probe-curve discipline), which the spec asserts. */
  val BandCurveRows: Seq[Int] = Seq(2, 4, 8, 16)

  /** Candidate pairs of one banding config: b = 64/r bands of r signature
    * values each, band key = the joined value string (exact — key equality
    * ⟺ the r values equal, no mixing collisions to excuse), candidates =
    * docs sharing any (band, key). A banded hash equi-join like every
    * registered candidate generator — never all-pairs. */
  private[graft] def bandCandidates(sigs: DataFrame, r: Int): DataFrame = {
    val b = graft.functions.TextHash.NumHashes / r
    val keys = sigs.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${b - 1}), i -> array_join(transform(slice(sig, i*$r+1, $r), x -> cast(x as string)), ','))"))
      .as(Seq("band", "key")))
    keys.select(col("doc_id").as("doc_a"), col("band"), col("key"))
      .join(keys.select(col("doc_id").as("doc_b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** MINHASH BAND-WIDTH TUNING CURVE (`q_minhash_band_curve`, r16) — the
    * dial a dedup team actually turns: the banding scheme's S-curve
    * threshold t ≈ (1/b)^(1/r) against the exact Jaccard-≥-[[ShingleTau]]
    * ground truth, one readout row per config in [[BandCurveRows]]
    * (t ≈ 0.18, 0.50, 0.77, 0.92). Per config: candidate-pair count,
    * true-pair count, hits, precision and recall — precision climbs and
    * recall falls as bands get taller, and the numbers say where THIS
    * corpus's operating point is, instead of leaving the (b, r) choice to
    * folklore.
    *
    * Nested configs (see [[BandCurveRows]]) ⇒ n_cand and recall are
    * monotone non-increasing in r by construction; precision is NOT
    * order-asserted (a taller band can drop true and false candidates in
    * any ratio) — the coded-ranking lesson from `q_ivfpq_probe_curve`
    * applied to banding. Ground truth is the COMPLETE inverted-index
    * exact-Jaccard pair set ([[jaccardPairs]] — never all-pairs), and
    * the deterministic affine family makes every candidate set replayable:
    * the DuckDB oracle recomputes signatures, all four bandings and the
    * truth join, so the curve VALUES hash-check. n_true rides the same
    * full-outer aggregate as the hit counts (no driver action).
    *
    * At 100 TB: ONE banded equi-join at the finest config serves the
    * whole sweep (r17 — the probe-curve shared-pass discipline applied
    * to banding): because the configs nest on block boundaries, an
    * r-row band matches iff every constituent finest-level band in its
    * block matches, so the per-pair BITMASK of matching finest bands
    * (bit_or over the candidate join, exact — band keys are the joined
    * value strings, no mixing) decides candidacy at EVERY config with
    * pure aligned-block bit arithmetic. The r16 form replayed the
    * explode + self-join + distinct + truth full-outer 4×; this form
    * pays one explode (32 keys/doc, not 60), one self-join, one pair
    * aggregate, one truth join, one grouped readout — same values, same
    * oracle (which still replays all four bandings independently). */
  def minhashBandCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextHashFunctions.{minHashSig => sigFn}
    val sigs = fence(shingleSets(spark, sfDir)
      .select(col("doc_id"), sigFn(col("hs")).as("sig")), "doc_id")
    val truth = jaccardPairs(spark, sfDir).select("doc_a", "doc_b")
    val r0 = BandCurveRows.min                          // finest config
    val b0 = graft.functions.TextHash.NumHashes / r0    // finest band count
    val keys = sigs.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${b0 - 1}), i -> array_join(transform(slice(sig, i*$r0+1, $r0), x -> cast(x as string)), ','))"))
      .as(Seq("band", "key")))
    // per-pair mask of matching finest bands (bit i set ⟺ band i's r0
    // values all equal) — the single shared candidate pass
    val masks = keys.select(col("doc_id").as("doc_a"), col("band"), col("key"))
      .join(keys.select(col("doc_id").as("doc_b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(expr("bit_or(shiftleft(1L, band))").as("m"))
    // candidacy at config r: some ALIGNED block of r/r0 consecutive
    // finest bands fully matches — AND the mask against its shifts, then
    // test the block-anchor bits
    def candAt(r: Int): Column = {
      val k = r / r0
      val anded = (0 until k).map(s => s"(m >> $s)").mkString(" & ")
      val anchors = (0 until b0 / k).map(i => 1L << (i * k)).reduce(_ | _)
      expr(s"(($anded) & ${anchors}L) != 0")
    }
    val flags = masks.select(col("doc_a") +: col("doc_b") +:
      BandCurveRows.map(r => candAt(r).as(s"c$r")): _*)
    val agg = flags
      .join(truth.withColumn("t", lit(1L)), Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("t")).as("n_true"),
        BandCurveRows.flatMap(r => Seq(
          count(when(col(s"c$r"), lit(1L))).as(s"nc$r"),
          sum(when(col(s"c$r") && col("t").isNotNull, 1L).otherwise(0L)).as(s"nh$r"))): _*)
    agg.select(inline(array(BandCurveRows.map { r =>
        struct(lit(r.toLong).as("rows_per_band"),
          lit((graft.functions.TextHash.NumHashes / r).toLong).as("n_bands"),
          col(s"nc$r").as("n_cand"), col("n_true"), col(s"nh$r").as("n_hits"))
      }: _*)))
      .select(col("rows_per_band"), col("n_bands"),
        col("n_cand"), col("n_true"), col("n_hits"),
        expr("n_hits * 1000000 div n_cand").as("precision_ppm"),
        expr("n_hits * 1000000 div n_true").as("recall_ppm"))
      .orderBy("rows_per_band")
  }

  /** Near-dup clusters: connected components over the near-dup pair graph,
    * labeled by the component's minimum doc_id, plus the survivor flag a
    * deletion list needs (survivor = the component minimum — "keep one doc
    * per cluster"). This is the step that turns a pair REPORT into an
    * actionable dedup DECISION.
    *
    * Algorithm: iterative join-based min-label propagation ("hash-min",
    * Rastogi et al., Finding Connected Components in MapReduce, ICDE'13):
    * every node starts at min(self, neighbors) and each round takes the min
    * of its own label and its neighbors' labels, converging in O(diameter)
    * rounds — near-dup components are dense (candidate pairs come from
    * shared bands, so components are clique-like with diameter 1-2), making
    * the round count 1-3 in practice; the pointer-halving shortcut in
    * [[connectedComponents]] additionally caps adversarial path-shaped
    * graphs at O(log n) rounds. Per round: one equi join pairs + one
    * groupBy min, all keyed on 8-byte doc ids — never text. The pair feed
    * is the UNSORTED minhash pipeline (the presentation sort would be an
    * immediately-discarded range exchange). At 100 TB scale the same loop
    * holds (label frame = one (long, long) row per clustered doc); a pair
    * list under the [[collectIfDriverSized]] gate skips the rounds and is
    * labeled on the driver by a union-find with the same fixpoint.
    */
  def neardupClusters(spark: SparkSession, sfDir: String): DataFrame =
    neardupClustersRaw(spark, sfDir).orderBy("doc_id")

  /** Session-scoped memo for the TRAINED cluster map (the standing dedup
    * survivor index), keyed on (session identity, sfDir) — the same
    * sharing contract as `Similarity.centroidMemo` (VERDICT r8 ask #8):
    * pair generation and the connected-components fixpoint are
    * deterministic, so memoizing changes no result, only stops the two
    * registered consumers (`q_neardup_clusters`,
    * `q_pipeline_keep_neardup`) from re-running the banded candidate
    * pipeline and the iterative label loop in one session — exactly how a
    * production pipeline treats its dedup index (computed once, then read
    * by every downstream stage). The stored frame holds one (long, long,
    * bool) row per clustered doc, lineage-free either way: below the
    * [[collectIfDriverSized]] gate it is a local frame whose rows the memo
    * keeps on the driver; above it, checkpoint-truncated blocks that
    * survive `catalog.clearCache()`, so the memo holds a block reference,
    * not driver data. Spec-planted pair
    * frames go through [[connectedComponents]] directly, which does NOT
    * memoize.
    */
  private val clusterMemo = new SessionMemo[String, DataFrame]

  /** [[neardupClusters]] without the presentation sort, for plan-internal
    * consumers ([[Pipeline.keepSetNearDup]]'s loser anti join). Served
    * from [[clusterMemo]], so all consumers in a session share ONE
    * candidate-generation + components run.
    */
  private[operators] def neardupClustersRaw(spark: SparkSession, sfDir: String): DataFrame =
    clusterMemo.memo(spark, sfDir)(
      connectedComponents(minhashPairsRaw(spark, sfDir).select("doc_a", "doc_b")))

  /** Connected components over an ARBITRARY undirected pair frame
    * (doc_a, doc_b) — the reusable core of [[neardupClusters]], callable on
    * any pair list (minhash, simhash, embedding pairs, or an external edge
    * table). Returns (doc_id, cluster, is_survivor) for every node that
    * appears in a pair; algorithm and scale notes on [[neardupClusters]].
    *
    * Each round is hash-min neighbor propagation PLUS a pointer-halving
    * shortcut (`l(x) ← l(l(x))`, Shiloach–Vishkin-style pointer jumping):
    * labels are always node ids with their own label row, so one extra
    * self-join per round follows the label chain two hops. Propagation
    * alone converges in O(diameter) rounds; with the shortcut chains
    * collapse geometrically — O(log n) rounds even on adversarial
    * path-shaped graphs, at the cost of one more equi join per round.
    * Labels only ever decrease and are bounded below by the component
    * minimum, so the combined operator converges to exactly the hash-min
    * fixpoint.
    *
    * Iteration mechanics (this is the one genuinely iterative operator, so
    * its driver-side shape matters as much as its shuffles):
    *  - the pair list is `localCheckpoint`ed ONCE up front: the edge list
    *    is re-read every round, and without the checkpoint the symmetric
    *    union would compute the (possibly expensive) upstream candidate
    *    pipeline twice, then every round would re-plan the whole lineage;
    *  - a DRIVER-SIZED pair list of bigint ids ([[collectIfDriverSized]]
    *    states the gate) is collected and labeled by [[componentMinima]],
    *    a union-find whose roots are component minima — the very fixpoint
    *    the rounds below converge to — and returned as a local frame:
    *    O(1) jobs instead of several per round. The rounds run only above
    *    the gate (or with broadcasts off, or other id types), so a pair
    *    list no driver can hold still iterates on the cluster;
    *  - convergence is decided by a single scalar aggregate per round:
    *    labels are monotonically non-increasing, so the label SUM is
    *    strictly smaller iff any label changed — no per-round compare
    *    join, no second action (sum is carried as decimal(38,0), exact for
    *    any node count × id range);
    *  - each round's labels are CHECKPOINT-TRUNCATED, not merely persisted
    *    (r9 fix): `step`+`shortcut` reference the previous labels four
    *    times, so under persist alone the analyzed LOGICAL plan still
    *    nests and grows ~4× per round — driver-side analysis and the
    *    per-action explain-string work go exponential long before any
    *    data does (observed: a 20k-vector corpus whose label graph needed
    *    ~12 rounds OOM'd the DRIVER building the plan description).
    *    Per-round truncation is the GraphX/Pregel discipline; blocks are
    *    reclaimed by the ContextCleaner once unreferenced.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // lazy: the first action over it (the gate's count, or the first
    // round) materializes the blocks, saving the eager checkpoint's own job
    val p = truncate(pairs, eager = false)
    val local =
      if (p.schema.forall(_.dataType == LongType)) collectIfDriverSized(p) else None
    local match {
      case Some(rows) =>
        val spark = p.sparkSession
        import spark.implicits._
        componentMinima(rows.iterator.map(r => (r.getLong(0), r.getLong(1))))
          .map { case (v, c) => (v, c, v == c) }
          .toDF("doc_id", "cluster", "is_survivor")
      case None => distributedComponents(p)
    }
  }

  /** Materialize a loop frame, truncating its lineage (without truncation
    * the iterative loop's plan grows per round and analysis cost
    * compounds). RELIABLE checkpoint when the session has a checkpoint
    * dir — lineage-free blocks survive executor loss, which is what a
    * multi-node 100 TB run requires; localCheckpoint otherwise
    * (single-process sessions like this harness: executor loss == driver
    * loss, so the reliability gap is moot there and the dir may not
    * exist). */
  private def truncate(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Union-find over `pairs` with path compression, every union pointing
    * the larger root at the smaller — so each root is its component's
    * minimum and the result maps every node to its hash-min label. */
  private def componentMinima(pairs: Iterator[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var y = x
      while (y != root) { val next = parent(y); parent(y) = root; y = next }
      root
    }
    for ((a, b) <- pairs) {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toSeq.map(v => v -> find(v))
  }

  /** The above-gate form of [[connectedComponents]]: hash-min +
    * pointer-halving rounds over the checkpointed pair list `p`, each
    * round's labels truncated (see its iteration-mechanics notes). */
  private def distributedComponents(p: DataFrame): DataFrame = {
    // symmetric edge list: propagate labels in both directions (lazy — two
    // map-side reads of the checkpointed blocks, nothing recomputes)
    val edges = p.union(p.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    def labelSum(lbl: DataFrame): java.math.BigDecimal = {
      val s = lbl.agg(sum(col("cluster").cast("decimal(38,0)"))).first().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s // empty node set
    }
    var labels = truncate(edges
      .select(col("doc_a").as("doc_id"), col("doc_b").as("lbl"))
      .union(edges.select(col("doc_a").as("doc_id"), col("doc_a").as("lbl")))
      .groupBy("doc_id").agg(min("lbl").as("cluster")))
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 32) { // 32 = safety valve (log2-bound)
      // truncate, don't just persist: the next round's plan references
      // `labels` four times, so an untruncated tree grows ~4x per round
      // (see the iteration-mechanics scaladoc)
      val next = truncate(ccRound(labels, edges))
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $rounds rounds — " +
          "unconverged labels must never be mistaken for components")
    truncate(labels
      .select(col("doc_id"), col("cluster"),
        (col("doc_id") === col("cluster")).as("is_survivor")))
  }

  /** ONE hash-min + pointer-halving round of [[connectedComponents]] —
    * the loop body the fixpoint iterates, exposed package-private so
    * PlanHygieneSpec can assert the PER-ROUND physical plan (two hash
    * equi-joins + one min-aggregate; never a nested loop), not just the
    * checkpoint-truncated serve plan. `labels` is (doc_id, cluster),
    * `edges` the symmetric pair list. */
  private[graft] def ccRound(labels: DataFrame, edges: DataFrame): DataFrame = {
    val stepped = labels.join(edges, col("doc_id") === col("doc_a"))
      .select(col("doc_b").as("doc_id"), col("cluster").as("lbl"))
      .union(labels.select(col("doc_id"), col("cluster").as("lbl")))
      .groupBy("doc_id").agg(min("lbl").as("cluster"))
    val grand = stepped.select(col("doc_id").as("p"), col("cluster").as("gp"))
    stepped.join(grand, col("cluster") === col("p"))
      .select(col("doc_id"), least(col("cluster"), col("gp")).as("cluster"))
  }

  /** First 8 MinHash signature values per doc as columns — the direct
    * oracle-checked validation of the MinHashSig kernel (the DuckDB oracle
    * recomputes the identical affine-family mins from md5-60 shingle
    * hashes, constants interpolated from TextHash).
    */
  def minhashSignatures(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextHashFunctions.{minHashSig => sigFn}
    val sig = Tables.documents(spark, sfDir)
      .select(col("doc_id"), sigFn(shingleHashes(col("text"))).as("sig"))
    sig.select(col("doc_id") +: (0 until 8).map(i =>
        element_at(col("sig"), i + 1).as(s"s$i")): _*)
      .orderBy("doc_id")
  }

  /** Incremental (batch-vs-index) dedup: the OPERATIONAL 100 TB shape. A
    * corpus is deduped once; every day a new batch arrives and must be
    * checked against the EXISTING band index, not the whole corpus
    * recomputed. Here the "index" is the even-doc_id half of the documents
    * table and the "new batch" is the odd half; the result is the new-batch
    * docs that survive (no near-dup at Jaccard >= tau against any indexed
    * doc), i.e. the rows safe to append.
    *
    * Shape: new-batch signatures are computed fresh (one codegen'd kernel
    * pass over the batch only); the index side reuses the SAME fenced band
    * frame every corpus-at-once query uses — in production that side is a
    * stored table bucketed by (band, key), so the probe is a co-located
    * join against batch-sized input and NOTHING over the old corpus is
    * recomputed. Candidates band-join, verify exactly, and the survivor
    * set is one anti join on the new ids. In-batch (new-vs-new) duplicates
    * are the corpus-at-once operators' job composed over the batch alone —
    * this operator isolates the batch-vs-index step.
    */
  def incrementalSurvivors(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = shingleSets(spark, sfDir)
    val bandsDf = fence(ss.select(col("doc_id"), minHashBands(col("hs")).as("bands")),
      "doc_id") // identical plan to minhashPairs' band frame → shared cache entry
    def side(pred: Column => Column, idCol: String): DataFrame =
      bandsDf.filter(pred(col("doc_id"))).select(col("doc_id").as(idCol),
        posexplode(col("bands")).as(Seq("band", "key")))
    val oldIdx = side(_ % 2 === 0, "doc_old")
    val newIdx = side(_ % 2 === 1, "doc_new")
    val cand = newIdx.join(oldIdx, Seq("band", "key"))
      .select("doc_new", "doc_old").distinct()
    val sn = ss.select(col("doc_id").as("doc_new"), col("hs").as("hsn"))
    val so = ss.select(col("doc_id").as("doc_old"), col("hs").as("hso"))
    val dupNew = cand.join(sn, "doc_new").join(so, "doc_old")
      .filter(jaccardSorted(col("hsn"), col("hso")) >= ShingleTau)
      .select("doc_new").distinct()
    Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 1)
      .select("doc_id")
      .join(dupNew.withColumnRenamed("doc_new", "doc_id"), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Bloom sizing for [[incrementalSurvivorsBloom]]: 2^17 bits (16 KB) and
    * 5 probes. Plan-time constants — in production m is sized from the
    * index's row-count METADATA (a known quantity, not a corpus scan):
    * m ≈ -n·ln(fpr)/ln(2)^2. A 10^10-doc index at 1% FPR is ~12 GB of
    * bits — past comfortable broadcast range, the filter shards by
    * fingerprint prefix and ships per-partition; the query shape below is
    * unchanged.
    */
  val BloomBits = 1 << 17
  val BloomK = 5

  /** EXACT incremental dedup with a Bloom pre-filter — the production
    * shape of "new batch vs standing index" at 100 TB: the index's content
    * fingerprints are folded into a 16 KB bit array (one aggregation,
    * map-side partial bit_or), broadcast, and every arriving doc tests k=5
    * bits locally. Definite-new docs (any bit clear — the vast majority of
    * a fresh crawl) BYPASS the anti-join entirely; only maybe-duplicates
    * (all bits set) shuffle into the exact fingerprint anti-join, so false
    * positives cost a join row, never a wrong answer. Output is EXACT —
    * identical to the plain anti-join (asserted in DedupSpec) — which is
    * why this stays oracle-checkable while the filter itself is
    * probabilistic. Same double-hashing construction as Spark's own
    * runtime-filter bloom (h1 + i·h2, Kirsch & Mitzenmacher 2006); all
    * probes are plain column arithmetic — codegen'd, no UDF, no driver
    * build. Index = even doc_ids, batch = odd (the same split as
    * q_dedup_incremental's near-dup variant).
    */
  def incrementalSurvivorsBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val batch = fence(bloomFlagged(spark, sfDir),
      "doc_id") // fence: hash + 5 probes once; feeds both branches below
    val index = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 0).select(col("text"))
    val definiteNew = batch.filter(!col("maybe_dup")).select("doc_id")
    val verifiedNew = batch.filter(col("maybe_dup"))
      .join(index, Seq("text"), "left_anti").select("doc_id")
    definiteNew.union(verifiedNew).orderBy("doc_id")
  }

  /** The routing half of [[incrementalSurvivorsBloom]]: every odd-id (new
    * batch) doc with its Bloom verdict — (doc_id, text, maybe_dup). Split
    * out so DedupSpec can measure the false-positive rate directly.
    */
  private[graft] def bloomFlagged(spark: SparkSession, sfDir: String): DataFrame = {
    val m = BloomBits
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        xxhash64(col("text")).as("h1"),
        xxhash64(lit("graft-bloom"), col("text")).as("h2"))
    // (h1 + i·h2) mod m, computed as (h1 mod m + i·(h2 mod m)) mod m so the
    // sum stays ≤ m·(k+1) and can't overflow ANSI long arithmetic
    def pos(i: Int) = pmod(
      pmod(col("h1"), lit(m.toLong)) + lit(i.toLong) * pmod(col("h2"), lit(m.toLong)),
      lit(m.toLong))
    // ---- build: fold the index side's probe positions into dense words
    val setWords = docs.filter(col("doc_id") % 2 === 0)
      .select(explode(array((0 until BloomK).map(pos): _*)).as("p"))
      .select((col("p") / 64).cast("int").as("w"),
        expr("shiftleft(1L, cast(p % 64 as int))").as("bit"))
      .groupBy("w").agg(expr("bit_or(bit)").as("bits"))
    val bloom = spark.range(m / 64).select(col("id").cast("int").as("w"))
      .join(setWords, Seq("w"), "left").na.fill(0L, Seq("bits"))
      .agg(sort_array(collect_list(struct(col("w"), col("bits")))).as("wb"))
      .select(expr("transform(wb, x -> x.bits)").as("bloom_bits"))
    // ---- probe: k local bit tests per arriving doc, AND-ed
    val probed = (0 until BloomK).foldLeft(
      docs.filter(col("doc_id") % 2 === 1).crossJoin(broadcast(bloom))) {
      (d, i) => d.withColumn(s"p$i", pos(i))
    }
    val tests = (0 until BloomK).map { i =>
      expr(s"(element_at(bloom_bits, cast(p$i div 64 as int) + 1)" +
        s" & shiftleft(1L, cast(p$i % 64 as int))) != 0")
    }.reduce(_ && _)
    probed.select(col("doc_id"), col("text"), tests.as("maybe_dup"))
  }

  // -------------------------------------------------------------- simhash

  /** Per-doc 60-bit SimHash fingerprint over 3-gram shingles: bit b of the
    * fingerprint is the sign of sum_{s in shingles} (+1 if bit b of
    * md5-60(s) else -1). Charikar STOC'02. One codegen'd pass per doc; no
    * explode, no extra shuffle.
    */
  private def simhashRaw(spark: SparkSession, sfDir: String): DataFrame =
    fence(shingleSets(spark, sfDir)
      .select(col("doc_id"), simHash60(col("hs")).as("simhash")),
      "doc_id") // fence: materialize the fingerprint before banding / pair joins

  def simhashFingerprints(spark: SparkSession, sfDir: String): DataFrame =
    simhashRaw(spark, sfDir).orderBy("doc_id")

  /** SimHash near-dup pairs (hamming <= 9) via 10-band pigeonhole: two
    * fingerprints <= 9 bits apart must agree on at least one of 10 disjoint
    * 6-bit bands, so the band-bucket join is a complete candidate generator.
    * Final filter recomputes exact hamming with xor+bit_count.
    */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    def sides(pairCol: String, hashCol: String): DataFrame =
      simhashRaw(spark, sfDir)
        .select(col("doc_id").as(pairCol), col("simhash").as(hashCol),
          posexplode(expr("transform(sequence(0, 9), j -> shiftright(simhash, j*6) & 63)"))
            .as(Seq("band", "key")))
    sides("doc_a", "ha").join(sides("doc_b", "hb"), Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("cast(bit_count(ha ^ hb) as bigint)").as("hamming"))
      // filter BEFORE distinct: chance band collisions die map-side instead
      // of shuffling into the dedup exchange
      .filter(col("hamming") <= HammingTau)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------- embedding near-dup

  /** Cosine threshold for embedding near-dup; probed max pair cosine is 0.51
    * and p99.9 is 0.38 at sf0.01, so 0.45 selects a meaningful tail.
    */
  val CosineTau = 0.45

  /** Block count for the exact-audit pair join: the n^2 comparison work is
    * tiled into B^2 block pairs so it spreads across the cluster as ordinary
    * equi-join partitions. Replication is x B on ONE side only (the other
    * side moves once), so B ~ sqrt(target parallelism) is the right order.
    */
  private val EmbeddingBlocks = 16

  /** Embedding-cosine near-dup pairs at loose τ = [[CosineTau]],
    * CLUSTER-LOCAL (SemDeDup-style, r9): pairs are generated by a plain
    * hash equi join on the deterministic k-means cluster id and verified
    * with exact cosine — see [[embeddingPairsClusteredRaw]] for the full
    * semantics and the 100 TB argument. The former exact global all-pairs
    * form (B²-tiled, corpus²-compute — correct but a scale-killer at
    * 100×) is demoted to the unregistered [[embeddingPairsExact]] audit
    * tool, the same role q_minhash_est's estimator audit plays for the
    * MinHash family.
    */
  def embeddingPairs(spark: SparkSession, sfDir: String): DataFrame =
    embeddingPairsClusteredRaw(spark, sfDir).orderBy("vec_a", "vec_b")

  /** Embedding near-dup CLUSTERS: the same pair→component→survivor
    * completion [[neardupClusters]] gives text near-dups, over the
    * cluster-local embedding-cosine pair graph — semantic dedup's deletion
    * list. Reuses [[connectedComponents]] unchanged (it is id-agnostic);
    * the pair feed skips the presentation sort.
    */
  /** Session-scoped memos for the TRAINED embedding cluster maps — the
    * loose-τ (SemDeDup-style) and tight-τ (sign-LSH) semantic deletion
    * lists (r17): the exact [[clusterMemo]] contract applied to the
    * embedding family, whose two registered cluster queries re-ran the
    * pair generation + iterative component loop every rep. Both maps are
    * deterministic and lineage-free out of [[connectedComponents]];
    * the k-parameterized ScaleCurve sibling below stays unmemoized. */
  private val embClusterMemo = new SessionMemo[String, DataFrame]
  private val embTightClusterMemo = new SessionMemo[String, DataFrame]

  def embeddingClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val comps = embClusterMemo.memo(spark, sfDir)(
      connectedComponents(embeddingPairsClusteredRaw(spark, sfDir)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))))
    comps.select(col("doc_id").as("vec_id"), col("cluster"), col("is_survivor"))
      .orderBy("vec_id")
  }

  /** k-parameterized sibling (package-private): ScaleCurve grows k with
    * the corpus to measure the bounded-tile claim; the registered query
    * keeps the oracle-parity k. */
  private[graft] def embeddingClusters(spark: SparkSession, sfDir: String, k: Int,
                                       memoTag: String = ""): DataFrame =
    connectedComponents(embeddingPairsClusteredRaw(spark, sfDir, k, memoTag)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster"), col("is_survivor"))
      .orderBy("vec_id")

  /** Cluster-local loose-τ pair generator: SELF-JOIN ON THE K-MEANS
    * CLUSTER ID (a plain hash equi join — bucket-only, no B²-tile stage,
    * no corpus broadcast), exact cosine ≥ [[CosineTau]] within each
    * cluster. This is SemDeDup's tractability trade (Abbas et al.)
    * applied to the PAIR GRAPH itself: at loose τ (cos 0.45, ~63°) no
    * sign-LSH banding is both complete and selective — OR-amplifying to
    * recall ≈ 1 at 63° admits essentially every pair (per-plane
    * disagreement 0.35 vs the bulk's 0.44 leaves no margin; see the r8
    * analysis in the scaladoc above) — so the scale answer is the one the
    * SemDeDup paper prescribes: partition semantically first, compare
    * within partitions. Cross-cluster pairs are excluded BY DEFINITION
    * (the oracle applies the identical k-means + same-cluster condition,
    * so this is the query's contract, not silent recall loss); the exact
    * global graph remains available as the unregistered
    * [[embeddingPairsExact]] audit tool, and DedupSpec pins
    * clustered == exact ∩ same-cluster plus the measured global recall.
    *
    * At 100 TB: k grows with the corpus (k ≈ n / target-cell-size), so
    * per-cluster tiles stay bounded and Σ n_c² ≪ n²; the k-means rounds
    * stay one map-side pass + a k×64-cell aggregate regardless of k, and
    * the trained centroids are shared session-wide
    * ([[Similarity.kmeansAssigned]]'s memo) with q_kmeans/q_semdedup.
    */
  private[graft] def embeddingPairsClusteredRaw(spark: SparkSession, sfDir: String,
                                                k: Int = Similarity.KmeansK,
                                                memoTag: String = ""): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val m = Similarity.assignedVectors(spark, sfDir, k, memoTag)
    val a = m.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nn").as("na"), col("cluster"))
    val b = m.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nn").as("nb"), col("cluster"))
    a.join(b, "cluster").filter(col("vec_a") < col("vec_b"))
      // sqrt(na)*sqrt(nb), NOT sqrt(na*nb): must stay bit-identical to the
      // oracle's normalization order
      .withColumn("cos", dot(col("va"), col("vb")) / (sqrt(col("na")) * sqrt(col("nb"))))
      .filter(col("cos") >= CosineTau)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
  }

  /** Tight-τ verify threshold: cos ≥ 0.9 is the regime where embeddings of
    * genuinely duplicated content live (re-crawls, templated boilerplate,
    * paraphrases land ≥ 0.95 under any competent encoder). */
  val TightCosineTau = 0.9

  /** Sign-LSH topology for the tight-τ candidate generator — EXACTLY the
    * text family's SimHash shape: 60 sign bits, 10 bands of 6, pigeonhole-
    * complete for signature hamming ≤ 9. */
  val EmbSimHashPlanes = 60
  val EmbSimHashBands = 10

  /** Tight-τ embedding near-dup pairs — the SUB-QUADRATIC companion to the
    * exact-loose [[embeddingPairs]] (r6 ask #6): candidates come from an
    * equi join on (band, 6-bit band key) of a 60-plane sign signature —
    * bucket-only, NO B²-tile stage, no corpus broadcast — then exact
    * cosine verifies at [[TightCosineTau]].
    *
    * Candidate recall, stated honestly (deterministic md5 planes, random-
    * plane analysis): per-plane disagreement for a pair at angle θ is θ/π.
    * Pigeonhole GUARANTEES capture at signature hamming ≤ 9; beyond that
    * capture is probabilistic. At the true-duplicate similarities this
    * operator exists for (cos ≥ 0.99, θ/π ≈ 0.045: mean hamming 2.7,
    * P[ham ≤ 9] ≈ 0.9996; cos 0.95 → ≈ 0.97) recall is effectively 1 —
    * measured 1.0 on planted duplicates in DedupSpec. At exactly cos 0.9
    * (mean hamming 8.6) band capture decays — the documented boundary of
    * the LSH regime; below it the exact tiled form or [[Similarity.semDedup]]'s
    * cluster-local tiles are the right tool. This testdata's max pair
    * cosine is 0.51 (no true tight pairs), so the oracle checks the
    * zero-pair result exactly and the planted-pair spec carries the
    * completeness evidence.
    *
    * Scale shape: signature = one codegen'd pass (60 literal dot products,
    * one long); candidates = 10 equi joins' worth of (band, key) buckets in
    * ONE join (posexplode'd keys), data movement O(Σ bucket²) — on a
    * deduplicated web corpus the buckets are near-dup families, not random
    * mass. Verify joins vectors back by id. No stage depends on n².
    */
  def embeddingPairsTight(spark: SparkSession, sfDir: String): DataFrame =
    embeddingPairsTightRaw(vectorsWithSig(spark, sfDir)).orderBy("vec_a", "vec_b")

  /** Tight-τ embedding CLUSTERS over the full corpus: every vector labeled
    * with its near-dup component (singletons label themselves) plus the
    * survivor flag — the semantic deletion list at production τ. Oracle:
    * exact 0.9-pairs via cross join + recursive-CTE min-label components,
    * COALESCE'd over the full vector list (the same construction as
    * q_neardup_clusters' oracle).
    */
  def embeddingClustersTight(spark: SparkSession, sfDir: String): DataFrame = {
    val comps = embTightClusterMemo.memo(spark, sfDir)(
      connectedComponents(embeddingPairsTightRaw(vectorsWithSig(spark, sfDir))
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))))
    // the singleton COALESCE only needs the id column — read it straight
    // off the table rather than re-deriving the signature fence per serve
    Tables.embeddings(spark, sfDir).select(col("vec_id"))
      .join(comps.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster"), col("vec_id")).as("cluster"),
        coalesce(col("is_survivor"), lit(true)).as("is_survivor"))
      .orderBy("vec_id")
  }

  /** Fenced (vec_id, v, n, sig) frame: cast + norm + 60-bit sign signature
    * in one codegen'd pass per vector. Package-private so DedupSpec can
    * drive the planted-duplicate completeness probe through the same code.
    */
  private[graft] def vectorsWithSig(spark: SparkSession, sfDir: String): DataFrame =
    vectorsWithSigFrom(Tables.embeddings(spark, sfDir))

  private[graft] def vectorsWithSigFrom(embeddings: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    fence(embeddings.select(col("vec_id"), v.as("v"),
        graft.functions.VectorFunctions.dot(v, v).as("n"))
      .withColumn("sig",
        Similarity.hyperplaneSignBits(col("v"), EmbSimHashPlanes, 64)),
      "vec_id")
  }

  private[graft] def embeddingPairsTightRaw(vs: DataFrame): DataFrame = {
    val bandBits = EmbSimHashPlanes / EmbSimHashBands
    // (band, key) index: band b's key is bits [b*6, b*6+6) of the signature
    val keys = (0 until EmbSimHashBands).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)).as("key")))
    // the index carries only (id, band, key) — 8-byte rows; vectors join
    // back onto the deduplicated candidate pairs, never into the band index
    def side(idCol: String): DataFrame =
      vs.select(col("vec_id").as(idCol), explode(array(keys: _*)).as("bk"))
        .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = side("vec_a").join(side("vec_b"), Seq("band", "key"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    import graft.functions.VectorFunctions.dot
    cand
      .join(vs.select(col("vec_id").as("vec_a"), col("v").as("va"), col("n").as("na")), "vec_a")
      .join(vs.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("n").as("nb")), "vec_b")
      .withColumn("cos", dot(col("va"), col("vb")) / (sqrt(col("na")) * sqrt(col("nb"))))
      .filter(col("cos") >= TightCosineTau)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
  }

  /** EXACT global all-pairs loose-τ pair graph — UNREGISTERED AUDIT TOOL
    * (not in SparkEntry.queries since r9; the registered q_dedup_embedding
    * is the cluster-local [[embeddingPairsClusteredRaw]]). Kept because it
    * is the ground truth the specs measure the cluster-local generator's
    * containment and recall against, and because exact loose-threshold
    * similarity is inherently quadratic in COMPARISONS — at τ = 0.45 the
    * matching pairs sit ~63° apart, where no LSH candidate generator is
    * both complete and selective. What must NOT be quadratic-on-one-machine
    * is the plan: instead of a BroadcastNestedLoopJoin (whose build side is
    * the whole corpus), the pair space is tiled into B² blocks via a tiny
    * generated block-pair relation and the join is a plain shuffled equi
    * join on the block id — every executor gets an even n²/B² tile and no
    * vector is broadcast.
    */
  private[graft] def embeddingPairsExact(spark: SparkSession, sfDir: String): DataFrame =
    embeddingPairsExactRaw(spark, sfDir).orderBy("vec_a", "vec_b")

  private def embeddingPairsExactRaw(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val B = EmbeddingBlocks
    val v = col("embedding").cast("array<double>")
    val a = fence(Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("vec_a"), v.as("va"), dot(v, v).as("na")),
      "vec_a") // fence: cast + norm once per vector, not once per pair
      .withColumn("ba", (col("vec_a") % B).cast("int"))
    // the b side derives from the SAME cached frame by renaming — one
    // corpus scan, one cache entry for both self-join sides
    val b = a.select(col("vec_a").as("vec_b"), col("va").as("vb"), col("na").as("nb"))
      .withColumn("bb", (col("vec_b") % B).cast("int"))
    // all B^2 ordered block pairs from one range — no join builds this
    val blockPairs = spark.range(B.toLong * B)
      .select((col("id") / B).cast("int").as("ba"), (col("id") % B).cast("int").as("bb"))
    a.join(broadcast(blockPairs), "ba") // x B replication of the left side
      .join(b, "bb")                    // equi hash join: the n^2/B^2 tiles
      .filter(col("vec_a") < col("vec_b"))
      // codegen'd DotProduct: the pair loop stays boxing-free (graft.functions)
      // sqrt(na)*sqrt(nb), NOT sqrt(na*nb): must stay bit-identical to the
      // oracle's normalization order
      .withColumn("cos", dot(col("va"), col("vb")) / (sqrt(col("na")) * sqrt(col("nb"))))
      .filter(col("cos") >= CosineTau)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
  }
}
