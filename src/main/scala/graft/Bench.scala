package graft

/** Benchmark entrypoint (driver contract: ONE compact JSON line last on
  * stdout; full per-query detail in bench_out.json).
  *
  * Failure-honest + noise-resistant (VERDICT r7 ask #3):
  *   - each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and reports
  *     the MIN — the estimator least sensitive to host-level contention,
  *     which has poisoned round-over-round comparison twice (r5, r7);
  *   - a query that throws is recorded with an "err" string and sec=-1, so a
  *     time-to-exception can never masquerade as a fast run (BENCH_r07
  *     recorded 30 AnalysisExceptions as ~0.08 s "timings");
  *   - the summary line carries n_err and a noise indicator
  *     (first-rep total / min total — 1.0 on a quiet host);
  *   - per-query detail carries shuffle_rows and jobs from the final
  *     (warm) rep — noise-free plan metrics for round-over-round
  *     comparison (VERDICT r9 ask #8).
  *
  * COMPARABILITY NOTE (ADVICE r9): session memos change min-of-N
  * semantics for their consumers — rep 1 pays the one-time train/build,
  * later reps serve, and the reported min is the WARM serving time.
  * Cutovers: r9 memoized k-means centroids, the near-dup cluster map and
  * the bigram-LM table (q_kmeans, q_neardup_clusters,
  * q_pipeline_keep_neardup, q_lm_perplexity, q_pipeline_curated); r10
  * memoized BM25 term weights, the cosine vector frame, the stored
  * BM25/LSH indexes (q_bm25_topk, q_rrf_fusion, the cosine family,
  * q_bm25_served, q_ann_served), and — late r10 — the PQ codebooks
  * (q_pq_topk, q_ivfpq_topk, q_pq_recall), the HLL/CMS sketch cubes
  * (q_hll_cube, q_cms_cube) and the CSV/JSONL/ORC source copies
  * (q_*_source: rep 1 pays the one-time text/columnar write).
  * Wall-clock comparisons for those queries against pre-cutover rounds
  * are not like-for-like; diff the plan metrics instead.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // one un-timed warm-up query: codegen compiler, parquet readers and the
    // scheduler pay their one-time session costs here, not inside whichever
    // query happens to run first. NonFatal only — a dying JVM (OOM, stack
    // overflow) must fail the whole bench loudly rather than poison the
    // per-query numbers that follow it with a half-dead executor.
    try SparkEntry.entry(spark).count()
    catch { case scala.util.control.NonFatal(_) => () }
    spark.catalog.clearCache()

    // NOISE-FREE plan metrics alongside wall time (VERDICT r9 ask #8):
    // total shuffle-write RECORDS and job count per query, captured over
    // the FINAL rep only — the warm run the min-of-N timing reports (for
    // memo-backed queries rep 1 includes the one-time training/index
    // build, exactly as its timing does). Round-over-round comparisons on
    // this 1.6-2.5x-noise host should diff these, not wall seconds.
    val shuffleRecords = new java.util.concurrent.atomic.AtomicLong(0)
    val jobCount = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffleRecords.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobCount.incrementAndGet()
    })
    // listener events ride an async bus: wait until both counters hold
    // still before reading or resetting at a rep boundary
    // Bounded (ADVICE r10): a concurrent job in the same SparkContext —
    // e.g. a stray streaming query — would otherwise keep the counters
    // moving and hang the benchmark forever. 50 × 120 ms ≈ 6 s is far
    // beyond the listener bus's drain time on an idle context; on
    // timeout proceed with a stderr warning (the plan metrics for that
    // query may include the intruder's stages, the timings do not).
    def settle(): Unit = {
      var prev = (shuffleRecords.get(), jobCount.get())
      var stable = false
      var iters = 0
      while (!stable && iters < 50) {
        Thread.sleep(120)
        val now = (shuffleRecords.get(), jobCount.get())
        stable = now == prev
        prev = now
        iters += 1
      }
      if (!stable)
        System.err.println("bench: listener counters still moving after 6s; proceeding (plan metrics may be contaminated)")
    }

    final case class R(secs: Seq[Double], err: Option[String],
                       shuffleRows: Long, jobs: Long) {
      def best: Double = if (err.isDefined) -1.0 else secs.min
      def first: Double = if (err.isDefined) -1.0 else secs.head
    }
    val results: Map[String, R] = SparkEntry.queries.map { case (name, fn) =>
      var err: Option[String] = None
      val secs = Seq.newBuilder[Double]
      var rep = 0
      while (rep < reps && err.isEmpty) {
        if (rep == reps - 1) { settle(); shuffleRecords.set(0); jobCount.set(0) }
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch {
          case scala.util.control.NonFatal(e) =>
            val msg = Option(e.getMessage).getOrElse("").replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)
            err = Some(s"${e.getClass.getSimpleName}: $msg")
        }
        secs += (System.nanoTime() - t0) / 1e9
        // isolate reps/queries: drop caches and collect garbage so one
        // allocation-heavy query doesn't tax its successors' timings
        spark.catalog.clearCache()
        System.gc()
        rep += 1
      }
      settle()
      // err-gated (ADVICE r10): a query that dies before its final rep
      // never reaches the rep-boundary counter reset, so the counters
      // still hold the PREVIOUS query's final rep plus this query's
      // partial reps — record -1 like the timing does, never stale data
      val (sr, jc) = if (err.isDefined) (-1L, -1L) else (shuffleRecords.get(), jobCount.get())
      name -> R(secs.result(), err, sr, jc)
    }

    def j(d: Double) = f"$d%.6f"
    // ---- run metadata + machine-readable run history (VERDICT r14 ask
    // #7): this host's same-day solo totals have swung +30% on identical
    // boards (host weather), and until now the archaeology lived in
    // COVERAGE.md prose. Every run now (a) stamps itself with an id,
    // UTC timestamp and the 1-min load average, and (b) appends its
    // summary to bench_history.jsonl and embeds the prior runs for the
    // same SF into bench_out.json — so weather-vs-regression is decidable
    // from the artifact alone.
    val runTsMs = System.currentTimeMillis()
    val runTs = java.time.Instant.ofEpochMilli(runTsMs).toString
    val runId = s"bench-$runTsMs-${ProcessHandle.current().pid()}"
    val load1 =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    val historyPath = java.nio.file.Paths.get("bench_history.jsonl")
    val priorRuns: Seq[String] =
      try {
        import scala.jdk.CollectionConverters._
        if (java.nio.file.Files.exists(historyPath))
          java.nio.file.Files.readAllLines(historyPath).asScala.toSeq
            .filter(_.contains(s""""sf":"$sfDir""""))
            // parse-check each line before embedding (ADVICE r15): one
            // hand-edited / truncated / schema-drifted ledger line must
            // not make bench_out.json itself invalid JSON — re-serialize
            // through Jackson (on Spark's classpath) so only well-formed
            // objects survive, normalized
            .flatMap(l => scala.util.Try {
              val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
              if (n.isObject) Some(n.toString) else None
            }.toOption.flatten)
            .takeRight(8)
        else Seq.empty
      } catch { case scala.util.control.NonFatal(_) => Seq.empty }
    val ok = results.filter(_._2.err.isEmpty)
    val nErr = results.size - ok.size
    val total = ok.values.map(_.best).sum
    val totalFirst = ok.values.map(_.first).sum
    val noise = if (total > 0) totalFirst / total else 1.0
    // WARM-REP SPREAD (r13, VERDICT r12 ask #6): first/min conflates real
    // contention with structural rep-1 costs — per-query codegen/JIT
    // warm-up and the memoized build-once queries (streaming replays,
    // stored indexes, cubes) whose rep 1 IS the build. The spread across
    // the warm reps (2..N totals, max/min) isolates host contention:
    // ~1.0-1.1 on a quiet box regardless of how many memos exist.
    // (Measured on a verified-solo run: first/min 2.19, warm spread 1.09.)
    val warmTotals = (1 until reps).map(i =>
      ok.values.collect { case r if r.secs.length > i => r.secs(i) }.sum)
      .filter(_ > 0)
    val warmSpread =
      if (warmTotals.size >= 2) warmTotals.max / warmTotals.min else 1.0
    // full per-query record → file: the driver captures only a 2000-char
    // stdout tail, and with 150+ queries the full line overflows it
    val detail = results.map { case (k, r) =>
      val repsJson = r.secs.map(j).mkString("[", ",", "]")
      val errJson = r.err.map("\"" + _ + "\"").getOrElse("null")
      s""""$k":{"sec":${j(r.best)},"reps":$repsJson,""" +
        s""""shuffle_rows":${r.shuffleRows},"jobs":${r.jobs},"err":$errJson}"""
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, r) => s""""$k":${j(r.best)}""" }.mkString("{", ",", "}")
    val runMetaObj = s"""{"id":"$runId","ts":"$runTs","load1":${j(load1)},""" +
      s""""n_queries":${results.size},"total":${j(total)},""" +
      s""""noise_first_over_min":${j(noise)},"noise_warm_spread":${j(warmSpread)},""" +
      s""""sf":"$sfDir"}"""
    val runMeta = s""""run":$runMetaObj"""
    val historyJson = priorRuns.mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
      s""""n_err":$nErr,"noise_first_over_min":${j(noise)},""" +
      s""""noise_warm_spread":${j(warmSpread)},$runMeta,"run_history":$historyJson,""" +
      s""""queries":$qs,"per_query":$detail,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => () }
    // append this run's summary to the cross-run ledger (one line per run;
    // prior lines are what run_history embeds next time)
    try java.nio.file.Files.write(historyPath, (runMetaObj + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    catch { case scala.util.control.NonFatal(_) => () }
    println(line)
    // compact summary LAST so it lands complete inside the captured tail:
    // "queries" restricted to one stable headline per family (BASELINE.md's
    // metrics) plus run-wide total, error count and noise ratio
    val headline = Seq("wordcount", "top10_words", "q1_agg", "q_star_join",
      "q_window_topk", "q_tumbling_1h", "q_dedup_exact", "q_cosine_topk",
      "q_neardup_minhash", "q_asof_join_custom", "q_ann_topk",
      "q_pipeline_curated")
    val hq = headline.flatMap(k => results.get(k).map(r => f""""$k":${r.best}%.3f"""))
      .mkString("{", ",", "}")
    // noise-free companion to the wall-clock headline (VERDICT r10 ask
    // #8): shuffle-write records for the same headline queries, so the
    // baseline comparison can be checked on plan metrics this 1.6-2.6x-
    // noise host cannot wobble
    val hs = headline.flatMap(k => results.get(k).map(r => s""""$k":${r.shuffleRows}"""))
      .mkString("{", ",", "}")
    val errNames = results.collect { case (k, r) if r.err.isDefined => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // prior same-sf totals inline (id + total only — the captured tail is
    // size-bounded; full prior lines live in bench_out.json/run_history)
    val histBrief = priorRuns.flatMap { l =>
      // priorRuns lines are already parse-checked; extract the two brief
      // fields through the same parser rather than a regex (ADVICE r15)
      scala.util.Try {
        val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
        if (n.hasNonNull("ts") && n.hasNonNull("total"))
          Some(s"""{"ts":${n.get("ts")},"total":${n.get("total")}}""")
        else None
      }.toOption.flatten
    }.mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$hq,""" +
      s""""headline_shuffle_rows":$hs,""" +
      s""""n_queries":${results.size},"n_err":$nErr,"err_queries":$errNames,""" +
      s""""reps":$reps,"noise_first_over_min":${j(noise)},""" +
      s""""noise_warm_spread":${j(warmSpread)},$runMeta,"prior_runs":$histBrief,""" +
      s""""detail":"bench_out.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
