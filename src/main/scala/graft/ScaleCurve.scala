package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** Measured scaling curve for the dedup family (VERDICT r6 ask #3 / r7 #6)
  * and, since r9, the EMBEDDING family (r8 ask #7): runs each operator at
  * n and 10n rows and reports wall seconds plus total shuffle-write
  * RECORDS (the partition-count-independent data-movement measure),
  * backing SCALE.md's growth claims with numbers.
  *
  * Text corpus: the sf0.1 documents table replicated 10x with every token
  * suffixed by the replica index — replicas share NO shingles, so true
  * near-dup density (and the verified pair count) scales exactly linearly
  * and any super-linear cost growth is the engine's, not the data's.
  *
  * Embedding corpus: the sf0.1 embeddings table replicated 10x where
  * replica r applies a deterministic per-replica SIGN PATTERN to the
  * components (md5(r,dim) parity; r=0 keeps the original). Sign flips
  * preserve norms and within-replica geometry exactly — each replica is
  * an isometric copy, so per-replica pair structure is identical — while
  * cross-replica cosines are sign-scrambled away from 1.0 (no artificial
  * exact-duplicate families that would make pair OUTPUT itself grow
  * super-linearly and pollute the engine-cost measurement).
  */
object ScaleCurve {
  def main(args: Array[String]): Unit = {
    val srcSf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outBase = if (args.length > 1) args(1) else "/tmp/graft_scale"
    // optional comma-separated row filter (dev loop: measure only the rows
    // under study; fixtures are built lazily, so unneeded corpora are
    // never written)
    val rowFilter: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.builder(32)
      // measure the AT-SCALE plan at BOTH factors: auto-broadcast at toy
      // scale short-circuits the index shuffle on one factor but not the
      // other (observed r9: ppjoin's inverted index broadcast at n and
      // shuffled at 10n, making the growth ratio meaningless), so shuffle
      // rows would compare a broadcast plan against a shuffle plan.
      // DELIBERATE broadcasts (bounded query panels via broadcast()/hint)
      // are unaffected by the threshold.
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // shuffle-record listener: stage-level write records, reset per query
    val shuffleRecords = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        shuffleRecords.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    })

    lazy val docs = Tables.documents(spark, srcSf)
    def corpusDir(factor: Int): String = {
      val dir = s"$outBase/x$factor"
      val n = docs.count()
      val replicated = (0 until factor).map { r =>
        docs.select(
          (col("doc_id") + lit(r * n)).as("doc_id"),
          (if (r == 0) col("text")
           else array_join(transform(split(col("text"), " "),
             t => concat(t, lit(s"_$r"))), " ")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionAll _)
      replicated.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    lazy val dirs = Seq(1 -> corpusDir(1), 10 -> corpusDir(10))

    // SHARED-VOCABULARY text corpus (r9 ask #6): replicas keep their
    // tokens, so every replica shares the query panel's vocabulary — the
    // common real regime for BM25, where a 10x corpus carries ~10x
    // matching postings. The disjoint-vocab fixture above deliberately
    // measures the OTHER regime (cost tracks |matching postings|, which
    // stays 1x when replicas share nothing with the panel); this one
    // measures the linear-growth regime the docstring asserts.
    def corpusDirShared(factor: Int): String = {
      val dir = s"$outBase/shared_x$factor"
      val n = docs.count()
      val replicated = (0 until factor).map { r =>
        docs.select((col("doc_id") + lit(r * n)).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionAll _)
      replicated.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    lazy val sharedDirs = Seq(1 -> corpusDirShared(1), 10 -> corpusDirShared(10))

    // embedding corpora: isometric sign-flipped replicas (see scaladoc)
    lazy val emb = Tables.embeddings(spark, srcSf)
    def embDir(factor: Int): String = {
      val dir = s"$outBase/emb_x$factor"
      val n = emb.count()
      val md = java.security.MessageDigest.getInstance("MD5")
      def sign(r: Int, d: Int): Float =
        if (r == 0) 1f
        else if ((md.digest(s"scale_${r}_$d".getBytes("UTF-8"))(0) & 1) == 0) 1f else -1f
      val replicated = (0 until factor).map { r =>
        val signs = Seq.tabulate(64)(d => sign(r, d))
        emb.select(
          (col("vec_id") + lit(r * n)).as("vec_id"),
          zip_with(col("embedding"), typedlit(signs), (x, s) => x * s).as("embedding"),
          col("label"))
      }.reduce(_ unionAll _)
      replicated.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    lazy val embDirs = Seq(1 -> embDir(1), 10 -> embDir(10))

    // events replicas (r10 late): user_id and event_id offset per replica —
    // 10x users over the SAME time span, so per-user timelines and the
    // per-type hour/value domains keep their shape while the row count
    // scales; the domain-frame operators (ks/cusum/gapfill) should show
    // ~flat post-agg shuffle while the per-user window ops (twap) track
    // rows linearly
    def eventsDir(factor: Int): String = {
      val ev = Tables.events(spark, srcSf)
      val dir = s"$outBase/ev_x$factor"
      val n = ev.agg(max("event_id")).head.getLong(0) + 1
      val u = ev.agg(max("user_id")).head.getLong(0) + 1
      val replicated = (0 until factor).map { r =>
        ev.select((col("event_id") + lit(r * n)).as("event_id"), col("ts"),
          (col("user_id") + lit(r * u)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionAll _)
      replicated.write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    lazy val eventsDirs = Seq(1 -> eventsDir(1), 10 -> eventsDir(10))

    // orders replicas (r10 late): key-offset copies; the snapshot-diff mod
    // classes (97/89/13) keep their density, so diff OUTPUT and both
    // snapshot scans scale together — shuffle must track rows, never rows²
    def ordersDir(factor: Int): String = {
      val ord = Tables.orders(spark, srcSf)
      val dir = s"$outBase/ord_x$factor"
      val n = ord.agg(max("o_orderkey")).head.getLong(0) + 1
      val replicated = (0 until factor).map { r =>
        ord.select((col("o_orderkey") + lit(r * n)).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority"))
      }.reduce(_ unionAll _)
      replicated.write.mode("overwrite").parquet(s"$dir/orders.parquet")
      dir
    }
    lazy val ordersDirs = Seq(1 -> ordersDir(1), 10 -> ordersDir(10))

    // customer replicas (r11 late): key-offset copies scatter to NEW
    // coordinates under the spatial join's quadratic mixing, so point
    // DENSITY grows with the factor inside the fixed space — the honest
    // adversarial axis for a radius join (the output itself is
    // O(density²); at constant density the grid join is linear)
    def customerDir(factor: Int): String = {
      val c = Tables.customer(spark, srcSf)
      val dir = s"$outBase/cust_x$factor"
      val n = c.agg(max("c_custkey")).head.getLong(0) + 1
      val replicated = (0 until factor).map { r =>
        c.select((col("c_custkey") + lit(r * n)).as("c_custkey"),
          col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      }.reduce(_ unionAll _)
      replicated.write.mode("overwrite").parquet(s"$dir/customer.parquet")
      dir
    }
    lazy val customerDirs = Seq(1 -> customerDir(1), 10 -> customerDir(10))

    // part replicas (r10 late): key-offset copies KEEP the price/size
    // domains, so the skyline's grouped sweep frame is constant while the
    // row count scales — the domain-frame claim, measurable
    def partDir(factor: Int): String = {
      val p = Tables.part(spark, srcSf)
      val dir = s"$outBase/part_x$factor"
      val n = p.agg(max("p_partkey")).head.getLong(0) + 1
      val replicated = (0 until factor).map { r =>
        p.select((col("p_partkey") + lit(r * n)).as("p_partkey"),
          col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
          col("p_retailprice"))
      }.reduce(_ unionAll _)
      replicated.write.mode("overwrite").parquet(s"$dir/part.parquet")
      dir
    }
    lazy val partDirs = Seq(1 -> partDir(1), 10 -> partDir(10))

    // ANTI-CORRELATED part fixture (r11, VERDICT ask #5): every point is
    // good on exactly one criterion — price scattered over the key domain
    // by a prime stride and size EQUAL to price, so a higher price always
    // costs a strictly larger size and no point dominates any other:
    // the frontier IS the whole input (Börzsönyi et al.'s anti-correlated
    // worst case, taken to its limit). This is the honest boundary for
    // both skyline forms: the composed sweep's "domain-bounded" grouped
    // frame becomes n distinct prices, and the native node's final gather
    // receives all n rows as candidates (the measured gather count is
    // what the node's scaladoc cites). The staircase frontier keeps the
    // final pass O(n log n); the r10 candidate list was O(n²) here.
    def partAntiDir(factor: Int): String = {
      val dir = s"$outBase/part_anti_x$factor"
      val n = 20000L * factor
      spark.range(n).select(
        col("id").as("p_partkey"),
        pmod(col("id") * 7919L, lit(n)).cast("double").as("p_retailprice"),
        (pmod(col("id") * 7919L, lit(n)) + 1L).cast("int").as("p_size"))
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      dir
    }
    lazy val partAntiDirs = Seq(1 -> partAntiDir(1), 10 -> partAntiDir(10))

    // lineitem replicas (r10 late): order-key offset; quantity/price
    // domains constant → the median/MAD histograms stay fixed while rows
    // scale, and pareto's part dimension is key-offset so it scales with
    // the fact
    def lineitemDir(factor: Int): String = {
      val li = Tables.lineitem(spark, srcSf)
      val dir = s"$outBase/li_x$factor"
      val n = li.agg(max("l_orderkey")).head.getLong(0) + 1
      val p = li.agg(max("l_partkey")).head.getLong(0) + 1
      val replicated = (0 until factor).map { r =>
        li.select((col("l_orderkey") + lit(r * n)).as("l_orderkey"),
          (col("l_partkey") + lit(r * p)).as("l_partkey"),
          col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"),
          col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      }.reduce(_ unionAll _)
      replicated.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      dir
    }
    lazy val lineitemDirs = Seq(1 -> lineitemDir(1), 10 -> lineitemDir(10))

    import graft.operators.{Dedup, Funnels, Relational, Similarity, TextAnalysis, Windows}
    type Fn = (String, Int) => org.apache.spark.sql.DataFrame
    val queries: Seq[(String, Fn)] = Seq(
      "jaccard"     -> ((d, _) => Dedup.jaccardPairs(spark, d)),
      "ppjoin"      -> ((d, _) => Dedup.ppjoinPairs(spark, d)),
      "minhash"     -> ((d, _) => Dedup.minhashPairs(spark, d)),
      "containment" -> ((d, _) => Dedup.containmentPairs(spark, d)),
      "incremental" -> ((d, _) => Dedup.incrementalSurvivors(spark, d)),
      // retrieval (r9): this corpus's replicas share NO vocabulary with
      // the panel, so cost tracks |matching postings| and stays ~1x — the
      // semi-join-before-shuffle discipline; the bm25_shared row below
      // measures the complementary linear-posting regime
      "bm25"        -> ((d, _) => TextAnalysis.bm25TopK(spark, d)),
      // r10: Apriori k=2 — replicas carry disjoint vocabularies, so the
      // frequent set grows 10x but baskets stay the same size; item
      // stream, pair fan-out and pair-support aggregate should all track
      // the corpus ~linearly (the prune keeps fan-out per-doc-bounded)
      "assoc"       -> ((d, _) => graft.operators.Curation.assocRules(spark, d)),
      // r12 (VERDICT ask #6): SON on the same rule set — candidate mining
      // is chunk-local (no candidate broadcast), so its shuffle should
      // track the item stream like Apriori's while the driver-collected
      // candidate set stays floor-bounded in both vocab regimes
      "son"         -> ((d, _) => graft.operators.Curation.sonRules(spark, d)),
      // r13 (VERDICT ask #8): FP-Growth — no candidate generation at all;
      // the pattern-base pair expansion is map-side over per-doc paths,
      // so the only corpus-tracking costs are the doc grouping exchange
      // and the pair-key partial agg; 10x vocab grows the f-list 10x but
      // paths stay basket-sized
      "fpg"         -> ((d, _) => graft.operators.Curation.fpGrowthRules(spark, d)),
      // r11 (VERDICT ask #4): one more prune-then-join level — growth must
      // stay ~linear if the closure prune (all 2-subsets frequent, joined
      // BEFORE the triple count) holds in the 10x-vocab regime
      "assoc3"      -> ((d, _) => graft.operators.Curation.assocRules3(spark, d)),
      // r11: positional skip-gram self-join — the (doc_id, pos+d) equi
      // key makes the join corpus-token-linear; on this disjoint-vocab
      // fixture the pair OUTPUT also grows ~10x (each replica brings its
      // own vocabulary), so rows_x ≈ shuffle_x ≈ 10 is the honest shape
      "skipgram"    -> ((d, _) => TextAnalysis.skipgramPairs(spark, d)),
      // r11: phrase panel shares no vocabulary with the suffixed replicas,
      // so matching postings stay ~1x — the prune-before-join discipline,
      // same claim as the bm25 row
      "phrase"      -> ((d, _) => TextAnalysis.phraseSearch(spark, d)),
      // the suffix array measured, not just argued — ladder build
      // (⌈log₂ L⌉ bounded exchanges, each linear in suffixes), walk
      // (2·R joins) and the top-span readout. Replicas keep per-replica
      // duplication (suffixed tokens preserve in-replica spans), so true
      // span structure scales linearly and any super-linear growth is the
      // engine's. The memo keys on the dir: each factor pays its own
      // build + serve, like for like
      "suffix"      -> ((d, _) => graft.operators.SuffixDedup.suffixDedup(spark, d)),
      // the mask on the same corpus, off the stored window postings +
      // the count aggregate — shuffle must track corpus tokens ~linearly
      "suffix_incr" -> ((d, _) => graft.operators.SuffixDedup.suffixMaskIncremental(spark, d)))
    // shared-vocab regime (r10, ask #6): replicas keep the panel's terms,
    // so matching postings — and the one corpus shuffle — grow ~10x for a
    // 10x corpus. Linear in postings is the operator's honest cost model.
    val sharedQueries: Seq[(String, Fn)] = Seq(
      "bm25_shared" -> ((d, _) => TextAnalysis.bm25TopK(spark, d)),
      // complementary regime: vocabulary fixed, 10x docs — the frequent
      // set is constant, the item stream and pair supports grow with the
      // corpus; still linear if the prune-before-pairs discipline holds
      "assoc_shared" -> ((d, _) => graft.operators.Curation.assocRules(spark, d)),
      // fixed vocabulary, 10x docs: SON's chunk mining state stays |A|²-
      // bounded while the exact recount grows with the corpus — same
      // linear claim as assoc_shared, no broadcast axis at all
      "son_shared"  -> ((d, _) => graft.operators.Curation.sonRules(spark, d)),
      // fixed vocabulary, 10x docs: the f-list is constant, paths and the
      // pair partial-agg grow with the corpus — linear like the siblings
      "fpg_shared"  -> ((d, _) => graft.operators.Curation.fpGrowthRules(spark, d)),
      // fixed vocabulary, 10x docs: frequent triples constant, the item
      // stream and triple supports grow with the corpus
      "assoc3_shared" -> ((d, _) => graft.operators.Curation.assocRules3(spark, d)),
      // r11: every replica carries the panel's terms — matching postings
      // and the anchor-group shuffle grow ~10x for a 10x corpus (the
      // bm25_shared regime for positional retrieval)
      "phrase_shared" -> ((d, _) => TextAnalysis.phraseSearch(spark, d)))
    // embedding family (r9): kmeans runs FIRST per dir so the memoized
    // trainer cost lands in its row; semdedup/cluster rows then measure
    // the post-training increment — consistently at both factors, so the
    // growth ratios compare like with like
    val embQueries: Seq[(String, Fn)] = Seq(
      "kmeans"        -> ((d, _) => Similarity.kmeans(spark, d)),
      "semdedup"      -> ((d, _) => Similarity.semDedup(spark, d)),
      "emb_clusters"  -> ((d, _) => Dedup.embeddingClusters(spark, d)),
      // k ∝ n (r10, ask #5): k = 10 at n, k = 100 at 10n — the SemDeDup
      // prescription (bounded per-cluster tiles) measured rather than
      // asserted. The fixed-k rows above keep k = 10 at both factors, so
      // the two columns isolate exactly what growing k buys. kmeans_kn
      // runs FIRST (same protocol as the fixed-k kmeans row) so the
      // k-proportional trainer cost — per-round shuffle k x 64 x
      // partitions, corpus-INDEPENDENT — lands in its own row and the
      // dedup rows measure the post-training tile movement.
      // distinct memo namespace (ADVICE r10): without it the x1 cell's
      // k=10 hits the fixed-k row's warm memo and measures serve-only
      // while x10 trains k=100 — build-vs-serve, not n-vs-10n
      "kmeans_kn"     -> ((d, f) => Similarity.kmeansK(spark, d, 10 * f, memoTag = "#kn")),
      // the dedup rows SERVE the kmeans_kn-trained centroids (same #kn
      // namespace) at both factors, so each measures pure post-training
      // tile movement — without the tag their x10 cell silently retrains
      // k=100 under the untagged key while x1 serves (measured: 920k vs
      // the honest 40k shuffle)
      "semdedup_kn"   -> ((d, f) => Similarity.semDedup(spark, d, 10 * f, memoTag = "#kn")),
      "emb_clusters_kn" -> ((d, f) => Dedup.embeddingClusters(spark, d, 10 * f, memoTag = "#kn")),
      "tight_clusters" -> ((d, _) => Dedup.embeddingClustersTight(spark, d)),
      "ann_topk"      -> ((d, _) => Similarity.annTopK(spark, d)),
      // r10: the benchmark slice is PLAN-CAPPED (vec_id < BenchmarkCap),
      // so on this replica fixture the bench side stays fixed-size while
      // the corpus grows — map-side dot compute and shuffle rows must now
      // both track the corpus ~linearly (the r9 form's bench side grew
      // with the fixture and compute went x100)
      "semantic_decon" -> ((d, _) => Similarity.semanticDecontaminate(spark, d)),
      // pca_cov is ONE scan whose 2080-cell aggregate partial-combines
      // map-side — shuffle rows ~flat (2080 x partitions) while the
      // map-side product fan-out grows linearly. Every PCA trainer runs
      // on this matrix, so it is the family's one scale row.
      "pca_cov"       -> ((d, _) => Similarity.pcaCov(spark, d)))
    // r10 late additions: per-user-window vs domain-frame cost shapes on
    // the events fixture, snapshot diff on the orders fixture, and the
    // stateless hashed vectorizer on both text regimes
    val eventsQueries: Seq[(String, Fn)] = Seq(
      "twap"    -> ((d, _) => Windows.twapPerUser(spark, d)),
      "ks_hist" -> ((d, _) => Funnels.ksTest(spark, d)),
      "cusum"   -> ((d, _) => Funnels.cusumChangepoint(spark, d)),
      "gapfill" -> ((d, _) => Windows.gapfillHourly(spark, d)),
      "welch"   -> ((d, _) => Funnels.abtestWelch(spark, d)),
      "attribution" -> ((d, _) => Funnels.attribution(spark, d)),
      // r11: the per-user-window shape (collected sequences ride the one
      // user_id exchange — shuffle tracks rows like twap) vs two more
      // domain-frame shapes (cells / daily grid constant: post-agg
      // shuffle ~flat while the map-side scan grows)
      "ewma"     -> ((d, _) => Windows.ewmaPerUser(spark, d)),
      "chi2"     -> ((d, _) => Funnels.chi2Independence(spark, d)),
      "seasonal" -> ((d, _) => Windows.seasonalNaive(spark, d)),
      // r11 late: sliding-window distinct, three cost shapes on one ask —
      // exact (the (day,user) frame + 7x expansion: shuffle tracks active
      // users), sketched (per-day HLL partials combine map-side; the 7x
      // shift moves |days| sketch ROWS — shuffle ~flat in corpus rows),
      // and cumulative (collapses to min-day per user + a running sum:
      // one user-tracking exchange, no expansion at all)
      "rolling_dau"     -> ((d, _) => Funnels.rollingDau(spark, d)),
      "rolling_wau_hll" -> ((d, _) => Funnels.rollingWauSketch(spark, d)),
      "reach_curve"     -> ((d, _) => Funnels.reachCurve(spark, d)),
      // r11 late: the exact-histogram cube (memo keys on the dir, so each
      // factor pays build+serve like mv_incr — shuffle must track the
      // domain-bounded histogram cells, not corpus rows), the cohort
      // revenue curve (one user exchange + calendar²-bounded cells) and
      // the funnel latency quantiles (per-user fold + latency histogram)
      "quantile_cube"  -> ((d, _) => graft.operators.Aggregates.quantileCubeServed(spark, d)),
      "ltv_cohort"     -> ((d, _) => Funnels.ltvCohort(spark, d)),
      "funnel_latency" -> ((d, _) => Funnels.funnelLatency(spark, d)))
    val customerQueries: Seq[(String, Fn)] = Seq(
      "spatial_join" -> ((d, _) => Relational.spatialJoin(spark, d)))
    val ordersQueries: Seq[(String, Fn)] = Seq(
      "table_diff" -> ((d, _) => Relational.tableDiff(spark, d)),
      "gini"       -> ((d, _) => Windows.giniRevenue(spark, d)),
      "ols_trend"  -> ((d, _) => graft.operators.Aggregates.olsTrend(spark, d)))
    val partQueries: Seq[(String, Fn)] = Seq(
      "skyline" -> ((d, _) => Relational.skylineParts(spark, d)),
      // the native node's exchange carries per-task LOCAL FRONTIERS, so
      // its shuffle should sit orders of magnitude under the composed
      // sweep's row-linear join at any factor
      "skyline_native" -> ((d, _) => Relational.skylinePartsCustom(spark, d)))
    // the same two forms at their adversarial boundary: frontier = input
    val partAntiQueries: Seq[(String, Fn)] = Seq(
      "skyline_anti"        -> ((d, _) => Relational.skylineParts(spark, d)),
      "skyline_native_anti" -> ((d, _) => Relational.skylinePartsCustom(spark, d)))
    val lineitemQueries: Seq[(String, Fn)] = Seq(
      "mad_hist"   -> ((d, _) => graft.operators.Aggregates.madHist(spark, d)),
      "pareto_abc" -> ((d, _) => Windows.paretoAbc(spark, d)),
      // r11: incremental MV maintenance — two batch appends + the segment
      // refold; maintenance is one map-combined hash-agg per batch, so
      // shuffle must track fact rows while the serve fold stays
      // cells-sized (the memo keys on the dir, so each factor builds its
      // own segment store — build+serve is the measured quantity at BOTH
      // factors, like for like)
      "mv_incr"    -> ((d, _) => graft.operators.MaterializedView.mvIncremental(spark, d)))
    val featureQueries: Seq[(String, Fn)] = Seq(
      "feature_hash" -> ((d, _) => graft.operators.Curation.featureHash(spark, d)))
    val featureSharedQueries: Seq[(String, Fn)] = Seq(
      "feature_hash_shared" -> ((d, _) => graft.operators.Curation.featureHash(spark, d)))

    println(f"${"query"}%-14s ${"factor"}%6s ${"rows"}%10s ${"wall_s"}%8s ${"shuffle_rows"}%13s")
    // thunked dir refs: a filtered run only materializes the corpora its
    // rows actually read
    val allWork: Seq[((String, Fn), () => Seq[(Int, String)])] =
      queries.map((_, () => dirs)) ++ sharedQueries.map((_, () => sharedDirs)) ++
        embQueries.map((_, () => embDirs)) ++
        eventsQueries.map((_, () => eventsDirs)) ++
        customerQueries.map((_, () => customerDirs)) ++
        ordersQueries.map((_, () => ordersDirs)) ++
        partQueries.map((_, () => partDirs)) ++
        partAntiQueries.map((_, () => partAntiDirs)) ++
        lineitemQueries.map((_, () => lineitemDirs)) ++
        featureQueries.map((_, () => dirs)) ++
        featureSharedQueries.map((_, () => sharedDirs))
    val work = allWork.collect {
      case ((name, fn), dsF) if rowFilter.forall(_.contains(name)) => ((name, fn), dsF())
    }
    val results = for (((name, fn), ds) <- work; (factor, dir) <- ds) yield {
      spark.catalog.clearCache(); System.gc()
      shuffleRecords.set(0)
      val t0 = System.nanoTime()
      // materialize the query's OWN physical plan: a `.count()` would let
      // the optimizer prune un-referenced aggregate expressions — for the
      // domain-frame rows (ks/cusum/gapfill/gini) that deletes the entire
      // window pipeline and measures a distinct-keys query instead
      // (observed: 6 shuffle rows for a 100k-event CUSUM)
      val rows = fn(dir, factor).queryExecution.toRdd.count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are async (private bus): settle before reading
      var sr = shuffleRecords.get()
      var settled = false
      while (!settled) {
        Thread.sleep(300)
        val now = shuffleRecords.get()
        settled = now == sr
        sr = now
      }
      println(f"$name%-14s $factor%6d $rows%10d $wall%8.2f $sr%13d")
      (name, factor, rows, wall, sr)
    }
    // growth summary: a 10x corpus must cost ~10x, nowhere near 100x
    println(f"${"query"}%-14s ${"wall_x"}%7s ${"shuffle_x"}%10s ${"rows_x"}%7s")
    results.groupBy(_._1).foreach { case (name, rs) =>
      val r1 = rs.find(_._2 == 1).get
      val r10 = rs.find(_._2 == 10).get
      println(f"$name%-14s ${r10._4 / r1._4}%7.1f ${r10._5.toDouble / r1._5}%10.1f " +
        f"${r10._3.toDouble / r1._3}%7.1f")
    }
    spark.stop()
  }
}
