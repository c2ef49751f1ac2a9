package graft

import org.apache.spark.sql.functions._

/** Executable evidence for SCALE.md's storage-layout claims: bucketing
  * both sides of a fact⋈fact join on the join key deletes the per-query
  * shuffle, and partitioning by a filter column prunes whole partitions at
  * plan time. These are writer-side configurations — the query code is the
  * unchanged join/filter.
  */
class StorageLayoutSpec extends SparkSpec {

  test("co-bucketed fact-fact join plans with no shuffle exchange") {
    val wh = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_extendedprice").write
      .format("parquet").option("path", s"$wh/lb")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("l_bucketed")
    Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderpriority").write
      .format("parquet").option("path", s"$wh/ob")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("o_bucketed")
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("l_bucketed")
        .join(spark.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // and the join still returns every lineitem row
      assert(j.count() == Tables.lineitem(spark, sf).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS l_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }

  /** Count the partition directories a scan actually selected — the
    * mechanical proof of pruning (a plan-string grep can't distinguish
    * "filter present" from "files skipped"). */
  private def selectedPartitions(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.selectedPartitions.partitionCount
    }.sum

  test("partitioned layout prunes non-matching partitions at plan time") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)
    val nTypes = Tables.events(spark, sf).select("event_type").distinct().count().toInt
    val one = spark.read.parquet(dir).filter(col("event_type") === "click")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    // STATIC pruning, counted: exactly one of the partition directories
    // survives into the scan
    assert(nTypes > 1)
    assert(selectedPartitions(one) == 1,
      s"static pruning read ${selectedPartitions(one)} of $nTypes partitions:\n$plan")
    val want = Tables.events(spark, sf).filter(col("event_type") === "click").count()
    assert(one.count() == want)
  }

  test("dynamic partition pruning: a dim filter prunes the date-partitioned fact at runtime") {
    // the 100 TB layout: the fact table date-partitioned by event day, a
    // filter arriving only through a joined dim — static pruning can't see
    // it, Spark's DPP injects the dim's day set into the fact scan's
    // partition filters at runtime (VERDICT r8 ask #3: the date-partitioned
    // + dynamic half SURVEY §4.2 had no end-to-end exercise for)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"),
        expr("ts div 86400000000000").as("day"))
    ev.write.partitionBy("day").mode("overwrite").parquet(dir)
    val nDays = ev.select("day").distinct().count().toInt
    assert(nDays > 2, s"fixture needs multiple day partitions, got $nDays")
    val days = ev.select("day").distinct().as[Long].collect().sorted
    // dim: one tagged row per day, only 2 days carry the wanted tag. Two
    // DPP preconditions shape the fixture: the dim key must be INT (the
    // partition directories read back type-inferred as int; a cast on the
    // fact's join key opts the scan out of the PartitionPruning rule), and
    // the dim must be a real SCAN with a Filter node above it — a local
    // relation would have its filter constant-folded away, leaving no
    // selective predicate for the rule to find.
    val dimDir = java.nio.file.Files.createTempDirectory("graft-dpp-dim").toString
    days.map(d => (d.toInt, if (d <= days(1)) "wanted" else "other"))
      .toSeq.toDF("day", "tag").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val fact = spark.read.parquet(dir)
    val j = fact.join(dim.filter(col("tag") === "wanted"), "day")
    val n = j.count()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic pruning expression in the fact scan:\n${plan.linesIterator.take(40).mkString("\n")}")
    // correctness: exactly the two wanted days' events survive
    val want = ev.filter(col("day") <= days(1)).count()
    assert(n == want)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in final plan)") {
    // the runtime half of the skew story: q_join_salted is the WRITER-side
    // mitigation; here Spark's adaptive skew-join handles the same shape
    // with no query change. 90% of fact rows share one key; thresholds are
    // lowered so the optimization fires at test scale.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      // shuffle sizes are COMPRESSED bytes — thresholds sized well under
      // the skewed partition's ~180 KB of md5 padding
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    withConf(confs: _*) {
      // deterministic skew: most rows collapse onto key 0; md5 padding is
      // incompressible so the skewed partition clears the byte threshold.
      // repartition(8) gives the map side 8 tasks — AQE splits a skewed
      // partition at MAPPER granularity, so a single-mapper stage (one
      // parquet file here) would be unsplittable regardless of size.
      val fact = Tables.lineitem(spark, sf).repartition(8)
        .select(when(col("l_orderkey") % 10 < 9, 0L)
          .otherwise(col("l_orderkey") % 50).as("k"),
          md5(col("l_orderkey").cast("string")).as("pad"))
      // the dim side must feed the join exchange DIRECTLY: OptimizeSkewedJoin
      // matches SMJ(Sort(ShuffleStage), Sort(ShuffleStage)) — an aggregate
      // (e.g. a distinct) between Sort and stage opts the join out
      val dim = spark.range(0, 50).select(col("id").as("k"))
      val j = fact.join(dim, "k")
      // materialize THROUGH j's own QueryExecution (a count() would spawn a
      // separate execution and leave this plan un-finalized)
      val n = j.collect().length
      assert(n == fact.count(), "inner join on a covering dim must keep every fact row")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed partition:\n${plan.linesIterator.take(40).mkString("\n")}")
    }
  }

  test("selective dim join injects a runtime bloom filter into the fact side") {
    // the at-scale shape: a filtered dimension joined to a big fact —
    // Spark's InjectRuntimeFilter should guard the fact scan with a bloom
    // filter built from the dim's join keys, cutting shuffle input before
    // the join. Thresholds lowered so the optimization fires at test scale.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    withConf(confs: _*) {
      val dim = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val fact = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      val j = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("BloomFilter"),
        s"no runtime bloom filter injected:\n${plan.linesIterator.take(30).mkString("\n")}")
      // unchanged result vs the plain join
      val want = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(j.count() == want)
    }
  }

  test("stored term-partitioned inverted index serves BM25 with a pruned probe") {
    // SCALE.md's production BM25 shape, executed: the per-(doc, word)
    // weight index is built ONCE over the full corpus vocabulary and
    // stored partitioned by term; a query then reads ONLY its terms'
    // partitions (plan-time pruning) and ranks from stored weights —
    // identical results to the scan-time q_bm25_topk, because w6 depends
    // only on (doc, word) + corpus stats, not on which vocabulary subset
    // was indexed.
    import graft.operators.TextAnalysis
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25-idx").toString
    val fullVocab = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("word")).distinct()
    TextAnalysis.termWeights(spark, sf, fullVocab)
      .write.partitionBy("word").mode("overwrite").parquet(dir)
    val qterms = TextAnalysis.Bm25Queries.toDF("q_id", "term")
    val panelTerms = TextAnalysis.Bm25Queries.map(_._2).distinct
    val probe = spark.read.parquet(dir)
      .filter(col("word").isin(panelTerms: _*))
    // plan-time proof: the scan selects exactly the panel's partitions
    val nVocab = fullVocab.count().toInt
    assert(selectedPartitions(probe) == panelTerms.size,
      "probe did not prune to the query terms' partitions")
    assert(panelTerms.size < nVocab, "fixture vacuous: panel covers the vocabulary")
    val served = probe
      .join(broadcast(qterms), col("word") === col("term"))
      .groupBy("q_id", "doc_id").agg(sum("w6").as("s6"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(desc("s6"), asc("doc_id"))))
      .filter(col("rn") <= TextAnalysis.Bm25K)
      .select(col("q_id"), col("rn").cast("long").as("rn"), col("doc_id"),
        round(col("s6").cast("double") / lit(1e6), 6).as("score"))
      .orderBy("q_id", "rn")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val scanTime = TextAnalysis.bm25TopK(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(served == scanTime, "stored-index ranking diverges from the scan-time form")
  }

  test("registered q_bm25_served prunes to the panel's partitions and matches q_bm25_topk") {
    // the REGISTERED serving lifecycle (r10): the session-memoized
    // full-vocabulary index is written once; the registered query's scan
    // selects exactly the panel terms' partition directories, and the
    // ranking is row-identical to the scan-time operator
    import graft.operators.TextAnalysis
    import spark.implicits._
    val served = SparkEntry.queries("q_bm25_served")(spark, sf)
    val panelTerms = TextAnalysis.Bm25Queries.map(_._2).distinct
    val probe = spark.read.parquet(TextAnalysis.bm25IndexDir(spark, sf))
      .filter(col("word").isin(panelTerms: _*))
    assert(selectedPartitions(probe) == panelTerms.size,
      "served probe did not prune to the query terms' partitions")
    assert(served.as[(Long, Long, Long, Double)].collect().toSeq ==
      SparkEntry.queries("q_bm25_topk")(spark, sf)
        .as[(Long, Long, Long, Double)].collect().toSeq,
      "q_bm25_served diverges from q_bm25_topk")
    // serve-many: a second invocation reuses the stored index (same dir)
    assert(TextAnalysis.bm25IndexDir(spark, sf) == TextAnalysis.bm25IndexDir(spark, sf))
  }

  test("incremental postings index: batch appends serve the exact full-corpus BM25 ranking") {
    // index MAINTENANCE (r10): drive the append lifecycle explicitly —
    // build with batch 0 only, serve (a ranking over half the corpus),
    // append batch 1, serve again — the second serving must equal the
    // full-corpus scan-time ranking exactly, because the index stores
    // append-only facts (tf, dl, per-batch stats) and recomputes the
    // global df/idf at serve time. Also proves the first serving really
    // used only batch 0 (a stale-weights index would have frozen batch-0
    // idf into batch-1 scores instead).
    import graft.operators.TextAnalysis
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-incr-post").toString
    TextAnalysis.appendPostingsBatch(spark, sf, dir, 0)
    val post0 = spark.read.parquet(s"$dir/postings")
    assert(post0.select("batch").distinct().as[Int].collect().toSet == Set(0))
    TextAnalysis.appendPostingsBatch(spark, sf, dir, 1)
    val post01 = spark.read.parquet(s"$dir/postings")
    assert(post01.select("batch").distinct().as[Int].collect().toSet == Set(0, 1))
    // append-only: batch 0's row count is untouched by the batch-1 append
    assert(post01.filter(col("batch") === 0).count() == post0.count())
    // the registered query (memoized two-batch index) == scan-time BM25
    val served = SparkEntry.queries("q_bm25_incremental")(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val scanTime = TextAnalysis.bm25TopK(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(served == scanTime, "incremental-index ranking diverges from the scan-time form")
  }

  test("incremental LSH index: batch appends serve the exact in-plan ANN ranking") {
    // the ANN twin of the postings lifecycle — and the instructive
    // contrast: signatures are PER-ROW facts, so appended segments are
    // servable with zero recompute (no stats fold). Build with batch 0,
    // append batch 1 (batch-0 rows untouched), serve == q_ann_topk.
    import graft.operators.Similarity
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-incr-spec").toString
    Similarity.appendAnnBatch(spark, sf, dir, 0)
    val seg0 = spark.read.parquet(dir)
    assert(seg0.select("batch").distinct().as[Int].collect().toSet == Set(0))
    Similarity.appendAnnBatch(spark, sf, dir, 1)
    val seg01 = spark.read.parquet(dir)
    assert(seg01.select("batch").distinct().as[Int].collect().toSet == Set(0, 1))
    assert(seg01.filter(col("batch") === 0).count() == seg0.count())
    val served = SparkEntry.queries("q_ann_incremental")(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val inPlan = SparkEntry.queries("q_ann_topk")(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(served == inPlan, "incremental-index ANN ranking diverges from q_ann_topk")
  }

  test("registered q_ann_served matches q_ann_topk from the stored bucket index") {
    import spark.implicits._
    val served = SparkEntry.queries("q_ann_served")(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val inPlan = SparkEntry.queries("q_ann_topk")(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(served == inPlan, "q_ann_served diverges from q_ann_topk")
    // and the served plan reads the stored index, not the embeddings
    // table — walk INTO AdaptiveSparkPlanExec (children Nil, the
    // PlanHygieneSpec blind-spot lesson)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def deepCollect[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
      p.collect(pf) ++
        p.collect { case a: AdaptiveSparkPlanExec => a }
          .flatMap(a => deepCollect(a.inputPlan)(pf))
    val scans = deepCollect(
      SparkEntry.queries("q_ann_served")(spark, sf).queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toString).mkString(",")
      }
    assert(scans.nonEmpty && scans.forall(p => p.contains("graft-ann-index")),
      s"served plan scans something other than the stored index: $scans")
  }
}
