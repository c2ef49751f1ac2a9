package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan hygiene over the ENTIRE registered query surface: build every
  * `SparkEntry.queries` physical plan at sf0.001 and assert the
  * scale-safety invariants SCALE.md claims — no CartesianProduct and no
  * BroadcastNestedLoopJoin anywhere (since r9 both q_theta_join names run
  * the banded equi-join plan; the broadcast-NLJ demo form is unregistered
  * and lives only in RelationalSpec). A regression that silently
  * degrades a join to a nested loop (a lost equi-condition, a dropped
  * broadcast, a rewrite rule gone wrong) fails here by name before it
  * ever reaches a benchmark.
  *
  * For the driver-iterative queries (q_textrank, the
  * q_neardup_clusters connected-components family, the k-means Lloyd
  * trainer), `fn(spark, sf)` builds only the final presentation plan.
  * TextRank and connected components have two paths, split by one gate
  * (`Dedup.collectIfDriverSized`: row count × per-row size ≤
  * `spark.sql.autoBroadcastJoinThreshold`). Under it — this fixture at
  * the default threshold — the graph is collected and iterated on the
  * driver, and the plan is a local frame. Above it, or at -1, each round
  * runs on Spark and is checkpoint-truncated out of the final plan. The
  * per-round tests at the bottom therefore assert every iterative LOOP
  * BODY of the distributed path directly, on its FULL lineage (a
  * stricter check than the checkpointed form the loops actually run):
  * the textrank rank update ([[TextAnalysis.textrankRound]]), one
  * hash-min + pointer-halving components round ([[Dedup.ccRound]]), and
  * one Lloyd assignment/re-centroid round
  * ([[Similarity.lloydRoundCells]] — map-side only, zero joins). Round r
  * differs from round 1 only in label values / centroid literals, so one
  * round's plan represents all rounds. The BPE trainer no longer
  * iterates Spark jobs at all (driver-local replay over the collected
  * vocabulary).
  *
  * The suite runs on its own fresh session, so the first test also checks
  * that constructing every registered query leaves the session as it was
  * built: the same conf, planner strategies and optimizer rules. The
  * session is freed with its memos and artifacts after the suite.
  */
class PlanHygieneSpec extends SparkSpec {

  override lazy val spark: org.apache.spark.sql.SparkSession = SparkSpec.spark.newSession()

  override def afterAll(): Unit =
    try super.afterAll() finally graft.operators.SessionMemos.evict(spark)

  /** Every node `pf` matches in `p`, including inside each
    * AdaptiveSparkPlanExec's input plan (see the BNLJ test below). */
  private def deepCollect[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    p.collect(pf) ++
      p.collect { case a: AdaptiveSparkPlanExec => a }
        .flatMap(a => deepCollect(a.inputPlan)(pf))

  /** Documented exceptions — EMPTY since r9: no registered query may plan
    * a deliberate nested loop (the theta-join BNLJ demo is unregistered). */
  private val allowNestedLoop = Set.empty[String]

  test("no query plans a CartesianProduct") {
    def arming = (spark.conf.getAll, spark.experimental.extraStrategies,
      spark.experimental.extraOptimizations)
    val (conf0, strategies0, rules0) = arming
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: ${offenders.sorted.mkString(", ")}")
    // constructing the queries must not change the session they run on
    val (conf1, strategies1, rules1) = arming
    assert(conf1 == conf0, "query construction changed the session conf: " +
      s"${(conf1.toSet diff conf0.toSet).mkString(", ")} (was " +
      s"${(conf0.toSet diff conf1.toSet).mkString(", ")})")
    assert(strategies1 == strategies0, s"query construction added strategies: $strategies1")
    assert(rules1 == rules0, s"query construction added optimizer rules: $rules1")
  }

  /** BNLJ whose broadcast side is BOUNDED by documented design (not a
    * scalar aggregate): the brute-force cosine scorers broadcast the
    * corpus/25 query panel — the honest all-pairs baseline their ANN
    * siblings exist to replace at scale — and the nearest-centroid
    * classifier broadcasts the langs x 64 centroid table, whose
    * cardinality is fixed by the VALUE DOMAIN (languages), not the corpus.
    */
  private val allowBoundedBroadcast =
    Set("q_cosine_topk", "q_hard_negatives", "q_centroid_classify",
      // the IVF recall evals embed the exact integer-L2 companion scan
      // (broadcast query panel) beside the list-pruned serving arms; the
      // serving queries themselves (q_ivf_topk / q_jl_ivf_topk) join
      // candidates by cluster id — hash equi-joins, no nested loop, so
      // they need no entry here
      "q_ivf_audit", "q_jl_ivf_recall", "q_ivf_probe_curve",
      // the composed probe curves and the residual-vs-raw recall eval
      // embed the SAME exact integer-L2 companion (broadcast query panel)
      // as q_ivf_probe_curve / q_pq_recall — r16: they previously escaped
      // this sweep only by cache-visibility accident (the shared
      // l2TopKCached persist hides the companion subtree when another
      // suite has warmed it first, so the sweep was suite-order-dependent;
      // reproduced at the r15 baseline with `testOnly SimilaritySpec
      // PlanHygieneSpec`). The serving arms inside all three remain hash
      // equi-joins on the cluster id.
      "q_jl_probe_curve", "q_ivfpq_probe_curve", "q_pqres_recall",
      // hybrid retrieval's lexical arm shares the cosine family's kernel
      // shape (per-query 0/1 vocab masks broadcast against per-doc weight
      // vectors, one codegen'd dot per pair — the broadcast side is the
      // bounded query panel), and its semantic arm IS q_cosine_topk at
      // pool depth 20 (q_bm25_topk's literal panel uses the plain
      // posting-list equi-join and needs no allowance)
      "q_rrf_fusion",
      // semantic decontamination broadcasts the BENCHMARK slice — in
      // production a fixed-size eval set while the corpus grows, so the
      // broadcast side does not scale with the input
      "q_semantic_decontaminate",
      // the recall audit composes q_cosine_topk (bounded panel) with the
      // bucketed ANN — same allowance as q_ivf_audit's exact companion
      "q_ann_recall",
      // PQ-ADC scores M LUT lookups per (query, candidate) pair against
      // the broadcast query-panel LUTs — the cosine family's panel
      // allowance; at scale the candidate side is an IVF list (FAISS
      // IVFADC), not the whole corpus
      "q_pq_topk",
      // the PQ recall audit embeds the exact integer-L2 companion scan
      // (broadcast panel) alongside both approximate arms — the same
      // exact-companion allowance as q_ivf_audit / q_ann_recall
      "q_pq_recall",
      // the JL projected-vs-exact recall audit is the cosine family's
      // broadcast-panel scan with a 16-term distance per pair — the
      // exact-companion allowance again; at scale the projected table is
      // what an ANN index ingests, and the exact arm is the droppable
      // audit (the q_ivf_audit stance)
      "q_rand_proj_topk")

  test("every BroadcastNestedLoopJoin broadcasts a global aggregate (a scalar row)") {
    // a BNLJ is scale-safe in exactly one shape: the broadcast side is a
    // global (groupless) aggregate — one row of corpus totals joined onto
    // every row (N for idf, min count for rates, ...) — plus the two
    // documented bounded-broadcast baselines above. Anything else is a
    // real nested loop and fails by name. The walk descends INTO
    // AdaptiveSparkPlanExec (whose children are Nil, so a plain collect
    // over an AQE-planned query inspects nothing — the round-5 version of
    // this test had exactly that blind spot).
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def isScalarSide(p: SparkPlan): Boolean =
      deepCollect(p) {
        case a: BaseAggregateExec if a.groupingExpressions.isEmpty => a
      }.nonEmpty
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      if (allowNestedLoop(name) || allowBoundedBroadcast(name)) None
      else {
        val bad = deepCollect(fn(spark, sf).queryExecution.executedPlan) {
          case j: BroadcastNestedLoopJoinExec
            if !isScalarSide(j.left) && !isScalarSide(j.right) => j
        }
        if (bad.nonEmpty) Some(name) else None
      }
    }
    assert(offenders.isEmpty,
      s"non-scalar nested-loop joins in: ${offenders.sorted.mkString(", ")}")
  }

  test("loose-τ embedding queries plan no B²-tile stage (r9: the last scale-killer)") {
    // the demoted exact-audit form (Dedup.embeddingPairsExact) builds its
    // tile space from a generated block-pair Range; the registered
    // cluster-local queries must plan a plain hash equi join on the
    // k-means cluster id with no generated-range tile source anywhere
    for (name <- Seq("q_dedup_embedding", "q_embedding_clusters")) {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("Range ("), s"$name plans a generated tile range:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name plans a BNLJ")
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian")
    }
  }

  /** VERDICT r9 ask #2 — mechanize the broadcast-side allowance: every
    * EXPLICIT broadcast site (`broadcast()` / `.hint("broadcast")`) in a
    * registered plan must broadcast a frame that is PROVABLY bounded by
    * plan structure, or carry an explicit allowlist entry. Planner-chosen
    * broadcasts are out of scope (they are size-thresholded by the
    * planner/AQE and vanish at scale); this test guards the sites where
    * the ENGINE asserts boundedness — the place r8's B²-tile and r9's
    * growing-benchmark broadcast both slipped through.
    *
    * A hinted subtree proves bounded when (recursively):
    *   - literal leaves: LocalRelation / Range / OneRowRelation — panels
    *     written into the plan;
    *   - a groupless Aggregate — one scalar row of corpus totals;
    *   - a grouped Aggregate whose grouping keys reference only
    *     VALUE-DOMAIN columns (word/term/lang/... below) — output
    *     cardinality bounded by the vocabulary / label domain, not the
    *     corpus row count (the Heaps-law allowance SCALE.md documents);
    *   - a Filter with a `col < literal` / `col <= literal` conjunct on a
    *     bare column — a plan-time cap (the q_semantic_decontaminate
    *     benchmark slice);
    *   - a GlobalLimit;
    *   - a scan of DIMENSION tables only (region/nation/customer/
    *     supplier/part — the star schema's sublinear side; fact tables
    *     lineitem/orders/events/documents/embeddings prove nothing);
    *   - any Project/Filter/Sort/Window/Distinct/Generate/Repartition
    *     over a bounded frame, a Join of two bounded frames, a Union of
    *     bounded frames.
    * Anything else (in particular a fact-table scan or a memoized
    * LogicalRDD block with no bounding node above it) is an UNBOUNDED
    * broadcast and fails by query name unless allowlisted. The allowlist
    * is asserted EXACT — an entry whose query no longer plans an
    * unbounded broadcast fails as stale — so the list can only ever
    * shrink or be consciously grown in review.
    */
  private val ValueDomainCols =
    Set("word", "w", "term", "lang", "source", "event_type",
      // the association/PMI item aliases: a/b/c are words (the k=2 pair
      // and k=3 triple keys), so aggregates grouped on them are vocab²/
      // vocab³-bounded — the same Heaps-law allowance as "word" itself
      "a", "b", "c",
      // the word co-occurrence graph's node labels (r17): textrank's
      // per-round rank frame aggregates on dst (aliased back to word) —
      // graph nodes ARE words, so the rank broadcast each round ships a
      // vocab-bounded frame, the allowance "word" itself rides
      "src", "dst",
      // sketch lattices: the CMS cell struct rc = (row, cell) has domain
      // CmsDepth × CmsWidth (cell is a literal-modulus hash), and the HLL
      // bracket's (register, cell) pair is 2^p × 2^r — plan-constant
      // lattices, not corpus-derived keys
      "rc", "r", "cell",
      // time-domain keys: an epoch-day/hour column is bounded by the
      // calendar span, not the corpus row count — the same allowance the
      // gapfill/chi2 domain frames ride (r11, q_rolling_dau's day panel);
      // h_bucket is chi2's hour-div-6 lattice (4 values, plan-constant)
      "day", "h_bucket",
      // dimension-index keys (r15): the covariance raw-moment store's
      // (i, j) cells live on the plan-constant 64-dim lattice — an
      // aggregate grouped on them is d/d²-bounded, corpus-independent
      // (q_pca_cov_recentered's broadcast mean/first-moment frames)
      "i", "j")

  /** Corpus-slice query panels, documented since r6: the ~corpus/25 query
    * side of the brute-force scorers (at-scale substitute = the ANN/IVF
    * family) and the panel-derived probe lists the IVF family broadcasts
    * into their cluster equi-joins. One entry per registered query that
    * NEEDS it. */
  private val allowPanelBroadcast = Set(
    "q_cosine_topk", "q_hard_negatives", "q_ann_topk", "q_ann_served",
    "q_ann_incremental", "q_ivf_topk", "q_ivf_served", "q_ivf_incremental",
    "q_ivf_audit", "q_ivf_probe_curve", "q_ann_recall",
    "q_jl_ivf_topk", "q_jl_ivf_recall",
    "q_rrf_fusion", "q_pq_topk",
    // IVFADC's probe list (panel × nprobe rows) broadcasts into a hash
    // EQUI-join on cluster id — candidate generation is list-pruned, so
    // unlike its PQ parent this query plans no nested loop at all (the
    // BNLJ test above verifies that for free); only the panel-derived
    // broadcast side needs the family allowance
    "q_ivfpq_topk", "q_pq_recall",
    // r16 members of the same two family allowances: the residual IVFADC
    // broadcasts its panel-derived probe list (panel × nprobe rows, each
    // carrying one M·Ks-bounded LUT) into the hash equi-join on cluster
    // id, exactly like q_ivfpq_topk; the recall audit and the two probe
    // curves additionally broadcast the probe lists of the arms they
    // sweep — every broadcast side is panel-derived (vec_id % 25) and
    // nprobe/LUT-bounded, never the growing corpus side
    "q_ivfpq_residual", "q_pqres_recall",
    "q_ivfpq_probe_curve", "q_jl_probe_curve",
    // the stored-index IVFADC serve broadcasts the identical panel-derived
    // probe+LUT list as its in-plan twin q_ivfpq_topk
    "q_ivfpq_incremental",
    // the JL recall audit broadcasts the same corpus/25 query panel as
    // the rest of the cosine family (projected + raw vectors per query)
    "q_rand_proj_topk",
    // r17: the naive-Bayes scorers broadcast the TRAINED model from the
    // session memo (checkpointed V×|langs| likelihood grid + |langs|
    // priors). The grid is guard-bounded by plan construction — its
    // build raises past 1e7 rows (TextAnalysis.nbGrid's in-plan
    // raise_error) — so the checkpointed frame the serve path ships is
    // proven ≤ 1e7 narrow rows, the documented swap point to a shuffled
    // hash join; the walker just cannot see through the LogicalRDD
    "q_naive_bayes", "q_nb_holdout")

  test("every explicit broadcast side is provably bounded or allowlisted (r10)") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation

    val dimTables = Set("region", "nation", "customer", "supplier", "part")
    val factTables = Set("lineitem", "orders", "events", "documents", "embeddings")
    def tableOf(path: String): Option[String] = {
      val base = path.split('/').last.stripSuffix(".parquet")
      if (dimTables(base) || factTables(base)) Some(base) else None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def hasCap(cond: Expression): Boolean = conjuncts(cond).exists {
      case LessThan(_: AttributeReference, Literal(_, _)) => true
      case LessThanOrEqual(_: AttributeReference, Literal(_, _)) => true
      case GreaterThan(Literal(_, _), _: AttributeReference) => true
      case GreaterThanOrEqual(Literal(_, _), _: AttributeReference) => true
      case _ => false
    }
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: LocalRelation | _: OneRowRelation | _: Range => true
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          val ts = fs.location.rootPaths.flatMap(rp => tableOf(rp.toString))
          ts.nonEmpty && ts.forall(dimTables)
        case _ => false
      }
      case a: Aggregate =>
        a.groupingExpressions.isEmpty ||
          a.groupingExpressions.forall(_.references.map(_.name).toSet.subsetOf(ValueDomainCols)) ||
          bounded(a.child)
      // a DISTINCT whose keys are all value/time-domain columns is the
      // same bound as the grouped Aggregate above (analyzed plans carry
      // Deduplicate; the optimizer rewrites it to Aggregate later)
      case d: Deduplicate =>
        d.keys.forall(_.references.map(_.name).toSet.subsetOf(ValueDomainCols)) ||
          bounded(d.child)
      case _: GlobalLimit => true
      case f: Filter => hasCap(f.condition) || bounded(f.child)
      case j: Join => bounded(j.left) && bounded(j.right)
      case u: Union => u.children.forall(bounded)
      case other if other.children.size == 1 => bounded(other.children.head)
      case _ => false
    }
    def unboundedHints(p: LogicalPlan): Seq[LogicalPlan] = p.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) && !bounded(h.child) =>
        h.child
    }

    val verdicts = SparkEntry.queries.toSeq.map { case (name, fn) =>
      name -> unboundedHints(fn(spark, sf).queryExecution.analyzed)
    }
    val offenders = verdicts.collect {
      case (name, bad) if bad.nonEmpty && !allowPanelBroadcast(name) => name
    }
    assert(offenders.isEmpty,
      s"unbounded explicit broadcast in: ${offenders.sorted.mkString(", ")}\n" +
        "— broadcast a scalar/vocab-grouped aggregate, cap the side with a " +
        "plan-time literal, or (for a documented corpus-slice panel) add an " +
        "allowlist entry with its scale story")
    // exactness: an allowlist entry must still be load-bearing
    val stale = allowPanelBroadcast.filter(n =>
      verdicts.toMap.get(n).forall(_.isEmpty))
    assert(stale.isEmpty, s"stale broadcast allowlist entries: ${stale.mkString(", ")}")
  }

  /** Queries that plan a WindowExec with NO partition spec — Spark moves
    * every input row of such a window into one task. Each entry says what
    * bounds that window's input: a value domain (vocabulary, days,
    * distinct values, a plan constant), or a table that grows with the
    * data. The list is asserted EXACT, like [[allowPanelBroadcast]]. */
  private val allowUnpartitionedWindow = Set(
    // rank readout over the converters' whole-second latency histogram: value domain
    "q_funnel_latency",
    // cumulative sums over ≤ HeapsMaxBuckets doc-id buckets: a plan constant
    "q_heaps_curve",
    // ntile over every customer row: grows with the customer table (q_ntile_dist is the scale twin)
    "q_ntile",
    // cumulative revenue over the parts dimension: grows with the part table
    "q_pareto_abc",
    // running sum and total over the day domain: calendar span
    "q_reach_curve",
    // three ntile windows over one row per customer: grows with the users
    "q_rfm",
    // coordinates for the query panel's vocabulary: bounded by the panel
    "q_rrf_fusion",
    // rank readouts over session duration and depth histograms: value domain
    "q_session_stats",
    // running min over distinct prices: value domain, but n rows when every price is distinct
    "q_skyline",
    // at-risk suffix sum over the day-offset histogram: calendar span
    "q_survival_curve",
    // rank and running sum over the vocabulary
    "q_vocab_coverage",
    // frequency-rank ids over the vocabulary
    "q_vocab_encode",
    // frequency rank over the vocabulary
    "q_zipf_slope")

  test("every unpartitioned window is allowlisted with what bounds its input") {
    import org.apache.spark.sql.execution.window.WindowExec
    val flagged = SparkEntry.queries.toSeq.collect {
      case (name, fn) if deepCollect(fn(spark, sf).queryExecution.executedPlan) {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }.nonEmpty => name
    }.toSet
    val offenders = flagged diff allowUnpartitionedWindow
    assert(offenders.isEmpty,
      s"unpartitioned windows in: ${offenders.toSeq.sorted.mkString(", ")} — " +
        "partition the window, or add an allowlist entry saying what bounds its input")
    val stale = allowUnpartitionedWindow diff flagged
    assert(stale.isEmpty, s"stale window allowlist entries: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("a representative iterative-loop round plans no nested loop") {
    // the textrank rank-update round, on full (uncheckpointed) lineage —
    // covers the per-round plans the registry-wide tests never see
    val graph = operators.TextAnalysis.textrankGraph(spark, sf)
    val ranks0 = graph.select(org.apache.spark.sql.functions.col("src").as("word"))
      .distinct()
      .withColumn("rank", org.apache.spark.sql.functions.lit(1.0))
    val plan = operators.TextAnalysis.textrankRound(graph, ranks0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "textrank round plans a cartesian")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "textrank round plans a BNLJ")
  }

  test("a connected-components round plans two hash equi-joins, never a nested loop (r13)") {
    import org.apache.spark.sql.functions.col
    // the real corpus edge shape: the minhash pair list, symmetrized like
    // connectedComponents does, with round-0 labels — full lineage
    val pairs = operators.Dedup.minhashPairsRaw(spark, sf).select("doc_a", "doc_b")
    val edges = pairs.union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val labels0 = edges.select(col("doc_a").as("doc_id"), col("doc_a").as("cluster"))
      .distinct()
    val plan = operators.Dedup.ccRound(labels0, edges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cc round plans a cartesian")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "cc round plans a BNLJ")
  }

  test("a suffix doubling round plans hash equi-joins and a range-partitioned dense index — no nested loop, no single-partition exchange (r15)") {
    val docs = Tables.documents(spark, sf)
    val r0 = operators.SuffixDedup.rank0Of(docs)
    val plan = operators.SuffixDedup.rankRoundBody(r0, 1L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "suffix round plans a cartesian")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "suffix round plans a BNLJ")
    // the dense index must never degrade to a corpus-wide global window:
    // no single-partition exchange may appear anywhere in the round
    assert(!plan.contains("SinglePartition"),
      s"suffix round plans a single-partition exchange:\n$plan")
    // the range exchange itself lives BEHIND the denseIndex checkpoint
    // (lineage-truncated out of the round plan) — assert it on the
    // pre-checkpoint frame directly: distinct pairs must range-exchange,
    // never hash into one partition
    val pairs = r0.select(org.apache.spark.sql.functions.col("rk").as("r1"),
      org.apache.spark.sql.functions.col("rk").as("r2"))
    val idxPlan = pairs.distinct()
      .repartitionByRange(org.apache.spark.sql.functions.col("r1"),
        org.apache.spark.sql.functions.col("r2"))
      .queryExecution.executedPlan.toString
    assert(idxPlan.contains("rangepartitioning"),
      "dense index construction lost its range exchange")
  }

  test("a k-means Lloyd round is map-side assignment + one aggregate, no join at all (r13)") {
    val plan = operators.Similarity.lloydRoundFor(spark, sf)
      .queryExecution.executedPlan.toString.toLowerCase
    Seq("sortmergejoin", "broadcasthashjoin", "shuffledhashjoin",
      "cartesianproduct", "broadcastnestedloopjoin").foreach(j =>
      assert(!plan.contains(j), s"lloyd round unexpectedly plans $j"))
    assert(plan.contains("hashaggregate"), "lloyd round must aggregate cells")
  }
}
