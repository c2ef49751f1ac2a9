package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT SUBSTRING DEDUP AT SPAN GRAIN (r15 — VERDICT r14 ask #3): the
  * suffix-array route to Lee et al. 2022's actual dedup unit ("Deduplicating
  * Training Data Makes Language Models Better" — their ExactSubstr dedup
  * removes duplicated SPANS, not documents). `q_dup_span` approximates the
  * longest duplicated run at trigram grain; this operator finds duplicated
  * token substrings of ARBITRARY length exactly:
  *
  *   1. build per-document suffix ranks by DISTRIBUTED PREFIX DOUBLING
  *      (Manber & Myers 1990, the doubling formulation): rank_0 = dense
  *      rank of the token, rank_r = dense rank of the pair
  *      (rank_{r-1}(p), rank_{r-1}(p + 2^{r-1}) or −1 past the doc end) —
  *      O(log L) rounds, each ONE bounded sort-join exchange (the
  *      connected-components loop discipline);
  *   2. order suffixes by the final rank (the generalized suffix array);
  *   3. for each ADJACENT pair in suffix order — adjacency maximizes LCP,
  *      so the global longest duplicated substring is an adjacent pair's
  *      LCP — walk the rank tables from the top power down, advancing
  *      2^lvl tokens whenever rank_lvl agrees at the shifted offsets
  *      (the classic O(log L) LCP query), then cap by both suffixes'
  *      remaining lengths (rank equality is sentinel-padded).
  *
  * Spans never cross documents (each suffix is a document tail; a position
  * past its doc end keys as the shared −1 sentinel, and two suffixes of
  * unequal remaining length diverge AT that sentinel coordinate, so padded
  * rank equality implies true token agreement up to the min-length cap).
  *
  * Dense ranks are computed scale-safely: distinct keys → ONE range
  * exchange → partition-local row_number + broadcast partition offsets
  * (the offsets come from a partition-count collect, bounded by the
  * partition count, and the global index is independent of where the
  * sampled range boundaries fall). No corpus-wide single-partition window
  * anywhere. Every round is localCheckpoint-truncated like the
  * connected-components loop, so plan lineage stays round-local.
  *
  * Exactness: ranks, suffix order, walk and caps are all integer and
  * total-ordered — the DuckDB oracle unrolls every doubling round and the
  * descending walk as materialized CTEs (the q_pca_power/BpeCtes
  * precedent) and the top spans hash-check, span fingerprints included.
  *
  * The round count is DERIVED from the corpus (r16 — VERDICT r15 ask #2
  * + the ADVICE boundary finding): R = the smallest count whose walk
  * reach 2^R − 1 covers the longest document, from a one-cell max
  * aggregate (the heapsCurve derived-width discipline). The r15 form
  * hardcoded R = 7 and guarded `maxLen > 2^R`, which silently capped a
  * 128-token identical twin at lcp 127 (the walk's reach is 2^R − 1, not
  * 2^R); the derivation makes the in-plan guard structurally unreachable,
  * and it is also tightened to `>= 2^R` so even a hand-built ladder
  * fails loud, never one token short.
  *
  * The ladder and walk serve only the span readouts. Both MASK queries
  * are the fixed-window count of [[windowsOf]] (a word count keyed by
  * the window), proven equal to the suffix-array mask; their DuckDB twin
  * replays the suffix array, so the hash gate checks one against the
  * other.
  */
object SuffixDedup {

  /** Doubling-round FALLBACK for oracle generation only: used when no
    * corpus derivation has run in this JVM (a filtered Verify that never
    * ran `q_suffix_dedup`; a longer corpus trips the oracle's reach
    * guard). The driver corpora max out near 95 tokens, where R = 7. */
  val SuffixRoundsDefault = 7

  /** The most recently DERIVED round count. Verify dumps `oracleSql`
    * AFTER all queries ran in the same JVM, so the oracle generators
    * below interpolate exactly the round count `q_suffix_dedup` computed
    * with (one corpus per Verify run — the driver's contract). */
  private val lastRounds =
    new java.util.concurrent.atomic.AtomicInteger(SuffixRoundsDefault)

  /** Smallest R with walk reach 2^R − 1 ≥ maxLen. */
  private[graft] def roundsFor(maxLen: Long): Int = {
    var r = 1
    while (((1L << r) - 1) < maxLen) r += 1
    r
  }

  /** R = ⌈log₂(max doc tokens + 1)⌉ from a one-cell corpus aggregate. */
  private[graft] def derivedRounds(docs: DataFrame): Int = {
    val row = docs.agg(max(size(split(col("text"), " ")).cast("long"))).collect()(0)
    roundsFor(if (row.isNullAt(0)) 1L else row.getLong(0))
  }

  /** Spans reported by [[suffixDedup]] — the top duplicated spans by
    * (length, position), the readout an ExactSubstr pass ranks removal
    * candidates with. */
  val SuffixTopK = 20

  /** Minimum span length worth reporting (a single shared token is not a
    * duplicated "span"). */
  val SuffixMinLcp = 2

  /** (doc_id, pos, w) token stream, pos 1-based within its document. */
  private def tokensOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("w"))

  /** Order-preserving 1-based dense index of the DISTINCT `keys` rows of
    * `df`, without a global single-partition window: distinct → range
    * exchange on the keys → partition-local row_number + broadcast
    * cumulative offsets. The result is deterministic regardless of where
    * the sampled range boundaries fall (each distinct row's global
    * position in key order is fixed); the input is localCheckpointed
    * first so the sampled partitioning cannot shift between the count
    * pass and the ranking pass. Matches DuckDB's
    * `dense_rank() OVER (ORDER BY keys)` exactly. */
  private def denseIndex(df: DataFrame, keys: Seq[String], out: String): DataFrame = {
    val d = df.select(keys.map(col): _*).distinct()
      .repartitionByRange(keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val counts = d.groupBy("pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, n)) => (pid, acc + n) }
      .sliding(2).collect { case Array((_, off), (pid, _)) => (pid, off) }.toMap
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = counts.map { case (pid, _) => (pid, offsets.getOrElse(pid, 0L)) }
      .toSeq.toDF("pid", "off")
    d.withColumn("lrk", row_number().over(
        Window.partitionBy("pid").orderBy(keys.map(col): _*)))
      .join(broadcast(offDf), "pid")
      .select(keys.map(col) :+ (col("off") + col("lrk")).as(out): _*)
  }

  /** One doubling round: (doc_id, pos, rk) → ranks of the
    * (rk, rk@pos+gap | −1) pairs. Exactly one bounded sort-join exchange
    * plus the denseIndex exchange; localCheckpointed so round r+1's plan
    * does not re-expand round r's lineage (the ccRound discipline). */
  private[graft] def rankRound(prev: DataFrame, gap: Long): DataFrame =
    rankRoundBody(prev, gap).localCheckpoint()

  /** The round WITHOUT its checkpoint — exposed so PlanHygieneSpec can
    * assert the per-round plan on full lineage (hash equi-joins + the
    * range-partitioned dense index; no nested loop, no single-partition
    * exchange anywhere). */
  private[graft] def rankRoundBody(prev: DataFrame, gap: Long): DataFrame = {
    val nxt = prev.select(col("doc_id"), (col("pos") - gap).as("pos"),
      col("rk").as("rk2"))
    val pairs = prev.join(nxt, Seq("doc_id", "pos"), "left")
      .select(col("doc_id"), col("pos"), col("rk").as("r1"),
        coalesce(col("rk2"), lit(-1L)).as("r2"))
    val idx = denseIndex(pairs, Seq("r1", "r2"), "rk")
    pairs.join(idx, Seq("r1", "r2"))
      .select(col("doc_id"), col("pos"), col("rk"))
  }

  /** rank_0 alone (dense word ranks) — the probe entry PlanHygieneSpec
    * feeds to [[rankRoundBody]]. */
  private[graft] def rank0Of(docs: DataFrame): DataFrame = {
    val t = tokensOf(docs)
    val w0 = denseIndex(t.select("w"), Seq("w"), "rk")
    t.join(w0, "w").select(col("doc_id"), col("pos"), col("rk"))
      .localCheckpoint()
  }

  /** Session memo for the full rank-table ladder (rank_0 .. rank_R, each
    * localCheckpointed) — deterministic construction, so memoizing only
    * stops bench reps from re-running the doubling rounds. */
  private val ranksMemo = new SessionMemo[String, IndexedSeq[DataFrame]]

  /** Un-memoized ladder construction over an arbitrary documents frame —
    * the kmeansAssignedFrom precedent, so specs can plant corpora with
    * known duplicated spans. The ladder length is the DERIVED round
    * count + 1 (rank_0 .. rank_R); a planted corpus with longer docs
    * simply gets more rounds, no constant to edit. */
  private[graft] def buildRanks(docs: DataFrame): IndexedSeq[DataFrame] = {
    val rounds = derivedRounds(docs)
    (1 to rounds).scanLeft(rank0Of(docs))((prev, r) =>
      rankRound(prev, 1L << (r - 1))).toIndexedSeq
  }

  private[graft] def suffixRanks(spark: SparkSession, sfDir: String): IndexedSeq[DataFrame] = {
    val ladder = ranksMemo.memo(spark, sfDir)(buildRanks(Tables.documents(spark, sfDir)))
    lastRounds.set(ladder.length - 1)
    ladder
  }

  /** Span length at which both mask queries mark tokens as duplicated
    * content, and so the [[windowsOf]] window length (Lee et al. use 50
    * BPE tokens at web scale; 10 here sits cleanly above this corpus's
    * ~6-token random-collision ceiling — 31-word vocabulary, ~1e9
    * position pairs at sf0.01 — while catching the planted full-document
    * duplicates at lcp ≈ 90). */
  val MaskMinLen = 10

  /** Session memo for the capped adjacency-LCP frame — the expensive
    * half (suffix order + the 2·R-join walk), shared by the span top-k
    * and the stored LCP index; checkpointed so consumers replan from a
    * materialized leaf. */
  private val lcpsMemo = new SessionMemo[String, DataFrame]

  private def adjacentLcpsMemo(spark: SparkSession, sfDir: String): DataFrame =
    lcpsMemo.memo(spark, sfDir)(
      adjacentLcps(Tables.documents(spark, sfDir), suffixRanks(spark, sfDir))
        .localCheckpoint())

  /** The registered query: top [[SuffixTopK]] duplicated spans by
    * (lcp DESC, doc_a, pos_a, doc_b, pos_b) with the span's md5
    * fingerprint (sliced from the source document — a 20-row bounded
    * join). */
  def suffixDedup(spark: SparkSession, sfDir: String): DataFrame =
    spanTopK(Tables.documents(spark, sfDir), adjacentLcpsMemo(spark, sfDir))

  private val lcpIndexMemo = new SessionMemo[String, String]

  /** Persist the adjacency-LCP artifact — the EXPENSIVE half of the
    * suffix family (⌈log₂ L⌉ doubling rounds + the 2·R-join walk) — as an
    * on-disk index: the Lee et al. production stance (they keep the
    * suffix array itself; we keep its adjacency-LCP readout, the frame
    * every downstream consumer folds). One write per corpus; serving
    * reads per-row facts (da, pa, db, pb, lcp). */
  private[graft] def lcpIndexDir(spark: SparkSession, sfDir: String): String =
    lcpIndexMemo.dir(spark, sfDir, "graft-suffix-lcp-index") { dir =>
      adjacentLcpsMemo(spark, sfDir).write.mode("overwrite").parquet(dir)
    }

  /** `q_suffix_spans_served` (r16): the top-span readout off the STORED
    * adjacency-LCP artifact — zero ladder or walk recompute anywhere in
    * the serve plan (asserted store+documents-only off the analyzed
    * relations; documents joins in only for the 20-row span-fingerprint
    * slice). Completes the suffix family's lifecycle next to
    * [[suffixMaskIncremental]]: scan-time build, stored serve,
    * incremental mask — the BM25/ANN/IVF discipline. Bit-equal to
    * [[suffixDedup]] (same frame, materialized), so both share
    * [[suffixDedupOracleSql]] verbatim. */
  def suffixSpansServed(spark: SparkSession, sfDir: String): DataFrame =
    spanTopK(Tables.documents(spark, sfDir),
      Tables.cachedScan(spark, lcpIndexDir(spark, sfDir)))

  /** THE REMOVAL STEP (`q_suffix_mask`) — what Lee et al.'s ExactSubstr
    * dedup actually does to the corpus: every token covered by some
    * duplicated span of ≥ [[MaskMinLen]] tokens is flagged, per
    * document. By the fixed-window reduction ([[windowsOf]]) that is
    * exactly the coverage of the [[MaskMinLen]]-token windows occurring
    * at ≥ 2 positions — a word count with the window as the key, so the
    * mask needs no suffix ranks and no LCP walk. Output: per-doc token
    * counts, duplicated-token counts and the exact ppm — the per-document
    * removal budget an ExactSubstr pass reports. */
  def suffixMask(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    windowMaskFrom(docs, windowsOf(docs))
  }

  /** Covered-token count per document from qualifying spans
    * (doc_id, pos, pend), both bounds inclusive — the gaps-and-islands
    * interval union (the q_dup_span idiom): per doc in start order, a
    * span opens a new island iff it starts past the running max of prior
    * ends; island coverage = max(end) − min(start) + 1 (each later span
    * in an island starts at or before the running covered frontier, so
    * the union is contiguous). O(spans) rows end-to-end; the only window
    * is per-document. Output schema is the [[suffixMask]] contract. */
  private[graft] def islandMask(docs: DataFrame, spans: DataFrame): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val covered = spans
      .withColumn("pmax", max(col("pend")).over(
        byPos.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isl", sum(when(col("pmax").isNull || col("pos") > col("pmax"), 1L)
        .otherwise(0L)).over(byPos))
      .groupBy("doc_id", "isl").agg(min("pos").as("s"), max("pend").as("e"))
      .groupBy("doc_id").agg(sum(col("e") - col("s") + 1).as("nd"))
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("nd"), lit(0L)).as("n_dup_tokens"),
        expr("coalesce(nd, 0) * 1000000 div n_tokens").as("dup_ppm"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // Incremental substring masking (r16 — VERDICT r15 ask #3)
  // ---------------------------------------------------------------------

  /** THE FIXED-WINDOW REDUCTION that makes substring masking INCREMENTAL:
    * a token is covered by some duplicated span of length ≥ L iff it is
    * covered by some duplicated window of length EXACTLY L.
    *
    * Proof. (⊇) An L-window is a span of length L. (⊆) Let t lie in
    * [p, p + m − 1] with m = lcp(p, q) ≥ L. For every offset
    * j ∈ [0, m − L], lcp(p + j, q + j) ≥ m − j ≥ L, so the L-window at
    * p + j is duplicated; s = min(max(p, t − L + 1), p + m − L) is such
    * a start with t ∈ [s, s + L − 1]. ∎
    *
    * So the ≥[[MaskMinLen]] mask needs NO suffix ranks at all — only
    * per-window occurrence counts — and both mask queries are served
    * this way: [[suffixMask]] counts the corpus's windows at scan time,
    * [[suffixMaskIncremental]] counts stored postings. Window postings
    * are per-row facts of their own document, which a stored index can
    * APPEND: the Lee et al. production shape, where a new crawl batch is
    * masked against the standing corpus without re-ranking it. Both
    * queries share ONE oracle, the suffix-array replay of
    * [[suffixMaskOracleSql]].
    *
    * The posting key is the window's exact token content, so the serve
    * is token-exact like the suffix walk (no fingerprint collisions to
    * excuse); at 100 TB the key would be the 128-bit md5 of the window
    * (16 bytes/posting, collision odds ~2⁻¹²⁸·n² — the Lee et al.
    * storage trade) with everything else unchanged. */
  private[graft] def windowsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= MaskMinLen)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(w) - $MaskMinLen), i -> array_join(slice(w, i + 1, $MaskMinLen), ' '))"))
        .as(Seq("p0", "win")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("win"))

  /** Append one document batch's window postings to a stored index dir —
    * tokenizes ONLY the batch; the standing corpus is never re-read. */
  private[graft] def appendWindowFrame(docs: DataFrame, dir: String, batch: Long): Unit =
    windowsOf(docs).withColumn("batch", lit(batch))
      .write.mode("append").parquet(dir)

  private val winIndexMemo = new SessionMemo[String, String]

  /** Two-parity-batch window index over the corpus — the appendable
    * lifecycle fixture every other incremental family uses. */
  private def winIndexDir(spark: SparkSession, sfDir: String): String =
    winIndexMemo.dir(spark, sfDir, "graft-suffix-win-index") { dir =>
      val docs = Tables.documents(spark, sfDir)
      appendWindowFrame(docs.filter(col("doc_id") % 2 === 0), dir, 0L)
      appendWindowFrame(docs.filter(col("doc_id") % 2 === 1), dir, 1L)
    }

  /** `q_suffix_mask_incremental`: serve the ExactSubstr mask off the
    * STORED window-posting index (two appended batches) — one
    * index-grain count aggregate + one semi-join back to the postings +
    * the per-doc island fold; the corpus text is touched only for the
    * n_tokens readout. Result hash-equals [[suffixMask]], which runs the
    * same body over the corpus's windows, so both share one oracle. */
  def suffixMaskIncremental(spark: SparkSession, sfDir: String): DataFrame =
    windowMaskFrom(Tables.documents(spark, sfDir),
      Tables.cachedScan(spark, winIndexDir(spark, sfDir)))

  /** The serve body over any postings frame (doc_id, pos, win): windows
    * occurring at ≥ 2 distinct positions qualify; their starts fold into
    * per-doc coverage with fixed span length [[MaskMinLen]]. Both joins
    * are hint-free hash equi-joins on the window key — the duplicated-
    * window side grows with true duplication, never broadcast. */
  private[graft] def windowMaskFrom(docs: DataFrame, idx: DataFrame): DataFrame = {
    val dup = idx.groupBy("win").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("win")
    val starts = idx.join(dup, Seq("win"), "left_semi")
      .select(col("doc_id"), col("pos"),
        (col("pos") + lit(MaskMinLen.toLong) - 1).as("pend"))
    islandMask(docs, starts)
  }

  private[graft] def suffixDedupFrom(docs: DataFrame,
                                     ranks: IndexedSeq[DataFrame]): DataFrame =
    spanTopK(docs, adjacentLcps(docs, ranks))

  /** Suffix order + adjacent pairs + the descending LCP walk + the
    * min-length cap and round guard — every adjacent pair with its exact
    * LCP (unfiltered). The shared expensive half. The walk runs
    * `ranks.length − 1` levels (the ladder's own derived round count),
    * reaching 2^R − 1 ≥ max doc length by construction. */
  private[graft] def adjacentLcps(docs: DataFrame,
                                  ranks: IndexedSeq[DataFrame]): DataFrame = {
    val rounds = ranks.length - 1
    val rFinal = ranks(rounds)
    val sa = denseIndex(rFinal.select("rk", "doc_id", "pos"),
      Seq("rk", "doc_id", "pos"), "gidx")
    val a = sa.select(col("gidx"), col("doc_id").as("da"), col("pos").as("pa"))
    val b = sa.select((col("gidx") - 1).as("gidx"), col("doc_id").as("db"),
      col("pos").as("pb"))
    var wk = a.join(b, "gidx").select(col("da"), col("pa"), col("db"), col("pb"))
      .withColumn("lcp", lit(0L))
    for (lvl <- (rounds - 1) to 0 by -1) {
      val x = ranks(lvl).select(col("doc_id").as("xd"), col("pos").as("xp"),
        col("rk").as("xa"))
      val y = ranks(lvl).select(col("doc_id").as("yd"), col("pos").as("yp"),
        col("rk").as("yb"))
      wk = wk
        .join(x, col("xd") === col("da") && col("xp") === col("pa") + col("lcp"), "left")
        .join(y, col("yd") === col("db") && col("yp") === col("pb") + col("lcp"), "left")
        .withColumn("lcp", col("lcp") +
          when(col("xa").isNotNull && col("yb").isNotNull && col("xa") === col("yb"),
            lit(1L << lvl)).otherwise(lit(0L)))
        .select(col("da"), col("pa"), col("db"), col("pb"), col("lcp"))
    }
    val lens = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("len"))
    val mx = lens.agg(max(col("len")).as("mx"))
    val capped = wk
      .join(lens.select(col("doc_id").as("da"), col("len").as("la")), "da")
      .join(lens.select(col("doc_id").as("db"), col("len").as("lb")), "db")
      .crossJoin(broadcast(mx))
      .select(col("da"), col("pa"), col("db"), col("pb"),
        // guard BEFORE the cap, structurally unreachable with the derived
        // ladder (2^R − 1 ≥ maxLen by construction) but kept loud for a
        // hand-built one: the walk's reach is 2^R − 1, so a doc of
        // EXACTLY 2^R tokens would already under-report (ADVICE r15)
        expr(s"""CASE WHEN mx >= ${1L << rounds} THEN
                 CAST(raise_error('suffixDedup: walk reach ${(1L << rounds) - 1} < max doc tokens — the rank ladder is too short for this corpus') AS BIGINT)
                 ELSE least(lcp, la - pa + 1, lb - pb + 1) END""").as("lcp"))
    capped
  }

  private def spanTopK(docs: DataFrame, al: DataFrame): DataFrame =
    al.filter(col("lcp") >= SuffixMinLcp)
      .orderBy(desc("lcp"), col("da"), col("pa"), col("db"), col("pb"))
      .limit(SuffixTopK)
      .join(docs.select(col("doc_id").as("da"), col("text")), "da")
      .select(col("lcp"), col("da").as("doc_a"), col("pa").as("pos_a"),
        col("db").as("doc_b"), col("pb").as("pos_b"),
        md5(array_join(slice(split(col("text"), " "),
          col("pa").cast("int"), col("lcp").cast("int")), " ")).as("span_fp"))
      .orderBy(desc("lcp"), col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"))

  /** Full DuckDB oracle: every doubling round and every walk level
    * unrolled as materialized CTEs (at the DERIVED round count the
    * engine ran with — see [[lastRounds]]); dense_rank/row_number
    * reproduce the distributed dense indexes exactly. */
  def suffixDedupOracleSql: String =
    s"""WITH ${suffixCtes(lastRounds.get)},
       |top AS (SELECT * FROM fin WHERE lcp >= $SuffixMinLcp
       |        ORDER BY lcp DESC, da, pa, db, pb LIMIT $SuffixTopK)
       |SELECT CAST(t.lcp AS BIGINT) AS lcp, t.da AS doc_a, CAST(t.pa AS BIGINT) AS pos_a,
       |  t.db AS doc_b, CAST(t.pb AS BIGINT) AS pos_b,
       |  md5(array_to_string(list_slice(string_split(d.text, ' '), t.pa, t.pa + t.lcp - 1), ' ')) AS span_fp
       |FROM top t JOIN documents d ON d.doc_id = t.da
       |ORDER BY lcp DESC, doc_a, pos_a, doc_b, pos_b""".stripMargin

  /** Oracle for [[suffixMask]] AND [[suffixMaskIncremental]] (one oracle,
    * two registered queries over the window count): the suffix-array
    * replay's fin frame folded into per-doc interval-union coverage — an
    * independent route to the same mask. */
  def suffixMaskOracleSql: String =
    s"""WITH $suffixMaskCtes
       |SELECT l.doc_id, CAST(l.len AS BIGINT) AS n_tokens,
       |  CAST(coalesce(c.nd, 0) AS BIGINT) AS n_dup_tokens,
       |  CAST(coalesce(c.nd, 0) * 1000000 // l.len AS BIGINT) AS dup_ppm
       |FROM ln l LEFT JOIN cnt c USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** The full coverage CTE chain (no WITH) — suffix replay + the mask
    * fold, exposing `ln` (doc lengths) and `cnt` (covered counts); the
    * pipeline-gate oracle composes it beside the curated stages. The
    * fold mirrors [[islandMask]]'s gaps-and-islands algebra: new island
    * when a span starts past the running max of prior ends, island
    * coverage = max(end) − min(start) + 1. */
  def suffixMaskCtes: String =
    s"""${suffixCtes(lastRounds.get)},
       |md AS (SELECT doc_id, pos, max(lcp) AS md FROM (
       |    SELECT da AS doc_id, pa AS pos, lcp FROM fin
       |    UNION ALL SELECT db, pb, lcp FROM fin)
       |  GROUP BY 1, 2 HAVING max(lcp) >= $MaskMinLen),
       |isp AS (SELECT doc_id, pos, pos + md - 1 AS e,
       |    CASE WHEN pos > coalesce(max(pos + md - 1) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(-1 AS BIGINT)) THEN 1 ELSE 0 END AS ni
       |  FROM md),
       |isg AS (SELECT doc_id, pos, e,
       |    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS isl
       |  FROM isp),
       |cnt AS (SELECT doc_id, sum(mx - mn + 1) AS nd FROM
       |  (SELECT doc_id, isl, min(pos) AS mn, max(e) AS mx FROM isg GROUP BY 1, 2)
       |  GROUP BY 1)""".stripMargin

  /** The shared CTE body (no WITH): tokens → doubling rounds → suffix
    * order → adjacency → walk → `fin` = every adjacent pair with its
    * capped exact LCP, plus `ln` (doc lengths). */
  private def suffixCtes(suffixRounds: Int): String = {
    val rounds = (1 to suffixRounds).map { r =>
      val gap = 1L << (r - 1)
      s"""sp$r AS MATERIALIZED (SELECT a.doc_id, a.pos, a.rk AS r1, coalesce(b.rk, -1) AS r2
         |  FROM sr${r - 1} a LEFT JOIN sr${r - 1} b
         |    ON b.doc_id = a.doc_id AND b.pos = a.pos + $gap),
         |sr$r AS MATERIALIZED (SELECT doc_id, pos,
         |    dense_rank() OVER (ORDER BY r1, r2) AS rk FROM sp$r)""".stripMargin
    }.mkString(",\n")
    val walk = ((suffixRounds - 1) to 0 by -1).map { lvl =>
      s"""wk$lvl AS MATERIALIZED (SELECT w.da, w.pa, w.db, w.pb,
         |    w.lcp + CASE WHEN x.rk IS NOT NULL AND y.rk IS NOT NULL AND x.rk = y.rk
         |                 THEN ${1L << lvl} ELSE 0 END AS lcp
         |  FROM wk${lvl + 1} w
         |  LEFT JOIN sr$lvl x ON x.doc_id = w.da AND x.pos = w.pa + w.lcp
         |  LEFT JOIN sr$lvl y ON y.doc_id = w.db AND y.pos = w.pb + w.lcp)""".stripMargin
    }.mkString(",\n")
    s"""t AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, toks[i] AS w
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))),
       |ln AS MATERIALIZED (SELECT doc_id, max(pos) AS len FROM t GROUP BY 1),
       |mxl AS (SELECT max(len) AS mx FROM ln),
       |sr0 AS MATERIALIZED (SELECT doc_id, pos, dense_rank() OVER (ORDER BY w) AS rk FROM t),
       |$rounds,
       |sa AS MATERIALIZED (SELECT doc_id, pos,
       |    row_number() OVER (ORDER BY rk, doc_id, pos) AS gidx FROM sr$suffixRounds),
       |adj AS MATERIALIZED (SELECT a.doc_id AS da, a.pos AS pa, b.doc_id AS db, b.pos AS pb
       |  FROM sa a JOIN sa b ON b.gidx = a.gidx + 1),
       |wk$suffixRounds AS (SELECT da, pa, db, pb, CAST(0 AS BIGINT) AS lcp FROM adj),
       |$walk,
       |fin AS MATERIALIZED (SELECT w.da, w.pa, w.db, w.pb,
       |    CASE WHEN (SELECT mx FROM mxl) >= ${1L << suffixRounds}
       |         THEN error('suffixDedup oracle: walk reach ${(1L << suffixRounds) - 1} < max doc tokens — the interpolated round count is too small for this corpus')
       |         ELSE least(w.lcp, la.len - w.pa + 1, lb.len - w.pb + 1) END AS lcp
       |  FROM wk0 w JOIN ln la ON la.doc_id = w.da JOIN ln lb ON lb.doc_id = w.db)""".stripMargin
  }
}
