package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.SessionMemo

/** Genuinely-streaming operators (SURVEY.md §2.B8): the same window
  * aggregations as the oracle-checked batch twins in
  * graft.operators.StreamingTwins, expressed over an *unbounded* input plus
  * the streaming-only surface — watermark, streaming dedup, and arbitrary
  * per-key state via flatMapGroupsWithState.
  *
  * Every transform takes the input frame as an argument (batch or streaming
  * — the logical plan is identical; Structured Streaming incrementalizes it
  * per micro-batch). StreamingSpec asserts each streaming run
  * (Trigger.AvailableNow → memory sink) equals its batch twin.
  *
  * Reference provenance: /root/reference is an empty checkout (SURVEY.md §0);
  * semantics follow the Structured Streaming model (Armbrust et al.,
  * SIGMOD'18).
  */
object StreamingOps {

  /** 1-hour tumbling counts per event_type; input needs (ts_us, event_type,
    * value). Works unchanged on readStream input in complete/update mode.
    */
  def tumbling1h(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts_us"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("w.start")).as("bucket_sec"), col("event_type"),
        col("n_events"))

  /** Watermarked tumbling agg: rows later than 2h behind the max event time
    * are dropped; append mode emits a window once the watermark passes its
    * end. State size is bounded by (watermark horizon / window) keys.
    */
  def tumblingWithWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_us", "2 hours")
      .groupBy(window(col("ts_us"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("w.start")).as("bucket_sec"), col("event_type"),
        col("n_events"))

  private val wmReplayMemo = new SessionMemo[String, Array[(Long, String, Long)]]

  /** ORACLE-CHECKABLE WATERMARK RUN (VERDICT r11 ask #3): a REAL
    * Structured Streaming execution of [[tumblingWithWatermark]] whose
    * late-data drops and append-mode emissions are deterministic enough
    * for a DuckDB replay. The fixture derives from the events table by a
    * SQL-expressible rule — arrival batch = event_id % 3 — written as
    * three parquet files with strictly increasing modification times, so
    * the file source (maxFilesPerTrigger=1, oldest-first) processes them
    * as three micro-batches in a fixed order; Trigger.AvailableNow plus
    * the default no-data final batch then advances the watermark to its
    * terminal value and flushes every closeable window into the memory
    * sink.
    *
    * Determinism story (probed live, Spark 4.1): a batch's LATE filter
    * uses the watermark computed from batches ≤ b-2, while EVICTION uses
    * batches ≤ b-1 — the two-watermark model of the microbatch engine.
    * The fixture pins every consequence of that: batch 0 is exactly the
    * corpus-max-timestamp row(s), so from batch 1 onward the eviction
    * watermark sits at its terminal value (corpus max − 2h, ms-floored)
    * and never moves again — the replay is independent of whether a
    * trailing no-data batch runs. Batch 1 (even event_ids) arrives with
    * the late filter still at −∞ and lands fully in state; batch 2 (odd
    * event_ids) arrives with the late filter at the terminal watermark,
    * so every batch-2 row in an emittable window is GENUINELY DROPPED as
    * late. Emitted result = even-event_id rows in windows ending at or
    * below the terminal watermark — the oracle computes exactly that, so
    * the hash proves both the drop (odd rows absent from emitted windows
    * the batch twin counts them in) and the append-mode horizon (no
    * window past the watermark).
    *
    * The streamed result is memoized per (session, sfDir) — the stream
    * runs once; Verify/Bench then read a local relation (the same
    * build-once/serve lifecycle as the MV cubes).
    */
  def watermarkedWindowsReplay(spark: org.apache.spark.sql.SparkSession,
                               sfDir: String): DataFrame = {
    val rows = wmReplayMemo.memo(spark, sfDir)(runWatermarkReplay(spark, sfDir))
    import spark.implicits._
    rows.toSeq.toDF("bucket_sec", "event_type", "n_events")
      .orderBy("bucket_sec", "event_type")
  }

  /** Shared fixture runner for the oracle-checked streaming replays:
    * writes each batch frame as ONE parquet file with strictly increasing
    * mtimes (the file source's oldest-first order), streams them through
    * `xform` one file per micro-batch under Trigger.AvailableNow, and
    * returns the memory-sink table. Deterministic batch boundaries are
    * what turn streaming semantics into a closed-form DuckDB oracle.
    *
    * The fixture writes and the stream run in [[graft.Session.localIo]],
    * a private clone of `spark` whose local files (fixture, checkpoint,
    * state store) go through `graft.io` and start no processes; the stock
    * local file system started ~400 for one cold `q_stream_sessions`. The
    * batch frames are built in `spark` and re-homed in the clone; the
    * returned frame belongs to the clone. The fixture directories are
    * owned by `spark`, so its eviction deletes them, and nothing is
    * memoized under the clone. */
  private def runFileStreamReplay(
      spark: org.apache.spark.sql.SparkSession,
      batches: Seq[DataFrame],
      mode: OutputMode)(xform: DataFrame => DataFrame): DataFrame = {
    import graft.operators.SessionMemos
    import org.apache.spark.sql.graftshim.ColumnShim
    val io = graft.Session.localIo(spark)
    val dir = SessionMemos.tempDir(spark, "graft-stream-fixture")
    batches.zipWithIndex.foreach { case (bdf, b) =>
      val stage = SessionMemos.tempDir(spark, "graft-stream-stage")
      ColumnShim.ofRows(io, bdf.queryExecution.analyzed)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, s"batch-$b.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      val stamp = 1000000000000L + b * 60000L
      // The whole replay-determinism story rests on this ordering: the
      // file source sorts oldest-first, so a failed setLastModified would
      // silently fall back to write mtimes (possible same-ms ties).
      require(dst.setLastModified(stamp) && dst.lastModified() == stamp,
        s"could not pin mtime of ${dst.getName}; micro-batch order would be nondeterministic")
    }
    val sink = "graft_replay_sink_" + java.lang.Long.toHexString(System.nanoTime())
    val stream = io.readStream.schema(batches.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val sq = xform(stream).writeStream
      .format("memory").queryName(sink).outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    sq.awaitTermination()
    io.table(sink)
  }

  private def runWatermarkReplay(spark: org.apache.spark.sql.SparkSession,
                                 sfDir: String): Array[(Long, String, Long)] = {
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("ts_us"), col("event_type"), col("event_id"))
    // batch 0 = the corpus-max row(s) (pins the terminal watermark from
    // batch 1 on); batch 1 = even event_ids, batch 2 = odd event_ids
    val maxTs = ev.agg(max(col("ts_us"))).head().getTimestamp(0)
    val batchCol = when(col("ts_us") === lit(maxTs), lit(0))
      .otherwise(pmod(col("event_id"), lit(2)) + lit(1))
    val out = runFileStreamReplay(spark,
      (0 until 3).map(b => ev.filter(batchCol === b)),
      OutputMode.Append())(tumblingWithWatermark)
    import spark.implicits._
    out.as[(Long, String, Long)].collect().sortBy(r => (r._1, r._2))
  }

  private val dedupReplayMemo = new SessionMemo[String, Array[(Long, Long, String)]]

  /** ORACLE-CHECKED STREAMING DEDUP (r12, converting another B8 test-only
    * row): a real `dropDuplicatesWithinWatermark` run over a fixture that
    * REPLAYS THE ENTIRE CORPUS TWICE — batch 0 pins the terminal
    * watermark (corpus-max rows), batch 1 is every event, batch 2 is
    * every event AGAIN. Every batch-2 row is removed by one of the two
    * watermark mechanisms, and provably regardless of boundary
    * conventions: a row below the watermark is dropped by the late
    * filter; a row at/above it still has its batch-1 state entry (state
    * at/above the watermark is exactly what eviction keeps), so it drops
    * as a duplicate. Emitted result = every event EXACTLY ONCE — the
    * closed-form oracle; a dedup that leaked a duplicate or re-emitted
    * after premature eviction hash-mismatches by name.
    */
  def streamDedupReplay(spark: org.apache.spark.sql.SparkSession,
                        sfDir: String): DataFrame = {
    val rows = dedupReplayMemo.memo(spark, sfDir) {
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("ts_us"), col("event_id"), col("user_id"), col("event_type"))
      val maxTs = ev.agg(max(col("ts_us"))).head().getTimestamp(0)
      val out = runFileStreamReplay(spark,
        Seq(ev.filter(col("ts_us") === lit(maxTs)), ev, ev),
        OutputMode.Append())(dedupWithinWatermark)
      import spark.implicits._
      out.select(col("event_id"), col("user_id"), col("event_type"))
        .as[(Long, Long, String)].collect().sortBy(_._1)
    }
    import spark.implicits._
    rows.toSeq.toDF("event_id", "user_id", "event_type").orderBy("event_id")
  }

  private val enrichReplayMemo = new SessionMemo[String, Array[(Long, Long, String, String)]]

  /** ORACLE-CHECKED STREAM-STATIC JOIN (r12): the event stream enriched
    * with the static customer dimension, run as a REAL streaming query
    * (the static side re-plans per micro-batch) and compared against the
    * plain batch join in DuckDB. Stateless, so any batching gives the
    * same rows — two batches split by event_id parity keep the replay
    * honest about the per-micro-batch re-plan. */
  def streamEnrichReplay(spark: org.apache.spark.sql.SparkSession,
                         sfDir: String): DataFrame = {
    val rows = enrichReplayMemo.memo(spark, sfDir) {
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("ts_us"), col("event_id"), col("user_id"), col("event_type"))
      val cust = graft.Tables.customer(spark, sfDir)
      val out = runFileStreamReplay(spark,
        Seq(ev.filter(pmod(col("event_id"), lit(2)) === 0),
          ev.filter(pmod(col("event_id"), lit(2)) === 1)),
        OutputMode.Append())(s => enrichWithCustomer(s, cust))
      import spark.implicits._
      out.as[(Long, Long, String, String)].collect().sortBy(_._1)
    }
    import spark.implicits._
    rows.toSeq.toDF("event_id", "user_id", "event_type", "c_mktsegment")
      .orderBy("event_id")
  }

  private val funnelReplayMemo = new SessionMemo[String, Array[(String, Long, Long)]]

  /** ORACLE-CHECKED ARBITRARY STATEFUL (r12): the mapGroupsWithState
    * funnel ([[funnelStates]]) run as a real stream over THREE
    * CHRONOLOGICAL SLICES (fixed day boundaries, so each user's events
    * arrive in event-time order across batches — the chunk-ordered
    * arrival the one-pass funnel assumes), then folded to stage counts.
    * The emitted snapshots are per-(user, batch); the reached_* flags
    * are MONOTONE (a stage never un-fires), so keep-latest per user is
    * simply bool-or over all snapshots — no batch id needed. Stage
    * counts then equal the batch funnel exactly, and the query SHARES
    * q_funnel's oracle.
    */
  def streamFunnelReplay(spark: org.apache.spark.sql.SparkSession,
                         sfDir: String): DataFrame = {
    val rows = funnelReplayMemo.memo(spark, sfDir) {
      import spark.implicits._
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_type"),
          expr("ts div 86400000000000").as("day"))
      val out = runFileStreamReplay(spark,
        Seq(ev.filter(col("day") < 10), ev.filter(col("day") >= 10 && col("day") < 20),
          ev.filter(col("day") >= 20)).map(_.drop("day")),
        OutputMode.Update()) { s =>
        funnelStates(s.as[FEv]).toDF()
      }
      out.groupBy("user_id")
        .agg(max(col("reached_view")).as("v"), max(col("reached_click")).as("c"),
          max(col("reached_purchase")).as("p"))
        .agg(sum(when(col("v"), 1L).otherwise(0L)).as("nv"),
          sum(when(col("c"), 1L).otherwise(0L)).as("nc"),
          sum(when(col("p"), 1L).otherwise(0L)).as("np"))
        .selectExpr("stack(3, 'view', 1, nv, 'click', 2, nc, 'purchase', 3, np)" +
          " AS (stage, stage_ord, n_users)")
        .as[(String, Int, Long)].collect().map(r => (r._1, r._2.toLong, r._3))
        .sortBy(_._2)
    }
    import spark.implicits._
    rows.toSeq.toDF("stage", "stage_ord", "n_users").orderBy("stage_ord")
  }

  private val ssJoinReplayMemo = new SessionMemo[String, Array[(Long, Long, Long)]]

  /** ORACLE-CHECKED STREAM-STREAM JOIN (r13, VERDICT r12 ask #2 — the
    * last oracle-convertible B8 species): [[clickToPurchase]] run as a
    * REAL StreamingSymmetricHashJoin over THREE CHRONOLOGICAL SLICES
    * (the funnel replay's fixed day boundaries), then compared against
    * the plain batch interval join in DuckDB.
    *
    * Why chronological arrival makes the inner join EXACTLY the batch
    * join (closed form, no judgment): under the microbatch engine's
    * two-watermark model (probed for q_watermark_windows — late filter
    * uses the watermark from batches ≤ b−2, eviction from ≤ b−1), a
    * slice-ordered replay can neither drop nor miss a pair. No input is
    * ever late: every batch-b row's event time exceeds all earlier
    * slices' (day boundaries ≫ the 2 h delay). And no needed state is
    * ever evicted: a click c matches only purchases in (c, c+1 h], and a
    * purchase p arriving in slice k has p ≥ slice-k start, so the
    * partner click c > p − 1 h sits ABOVE the eviction watermark
    * max(slice k−1) − 2 h ≤ slice-k start − 2 h; the converse direction
    * is vacuous (a purchase never precedes its click in event time, so
    * chronological slices never deliver the click in a later batch than
    * its purchase... the purchase is joined in its arrival batch against
    * click state that provably still exists). Emitted pairs therefore =
    * the batch join verbatim — a premature eviction or a spurious late
    * drop hash-mismatches by name.
    *
    * Streamed once per (session, sfDir) and memoized (the MV
    * build-once/serve lifecycle, like the other replays).
    */
  def streamStreamJoinReplay(spark: org.apache.spark.sql.SparkSession,
                             sfDir: String): DataFrame = {
    val rows = ssJoinReplayMemo.memo(spark, sfDir) {
      import spark.implicits._
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("ts_us"), col("event_id"), col("user_id"), col("event_type"),
          expr("ts div 86400000000000").as("day"))
      val out = runFileStreamReplay(spark,
        Seq(ev.filter(col("day") < 10), ev.filter(col("day") >= 10 && col("day") < 20),
          ev.filter(col("day") >= 20)).map(_.drop("day")),
        OutputMode.Append())(s => clickToPurchase(s, s))
      out.select(col("click_id"), col("purchase_id"), col("user_id"))
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    }
    import spark.implicits._
    rows.toSeq.toDF("click_id", "purchase_id", "user_id")
      .orderBy("click_id", "purchase_id")
  }

  /** Watermarked session windows per user — the state-MERGING streaming
    * aggregation ([[graft.operators.StreamingTwins.sessions10m]]'s
    * batch twin runs the same `session_window` in batch mode): sessions
    * grow and merge across micro-batches, and append mode emits a
    * session only once its end falls at or below the watermark. */
  def sessionsWithWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts_us", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts_us"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("min_eid"), max("event_id").as("max_eid"))
      .select(col("user_id"),
        expr("unix_micros(w.start)").as("start_us"),
        expr("unix_micros(w.end)").as("end_us"),
        col("n_events"), col("min_eid"), col("max_eid"))

  private val sessReplayMemo = new SessionMemo[String, Array[(Long, Long, Long, Long, Long, Long)]]

  /** ORACLE-CHECKED STREAMED SESSION WINDOWS (r13): a REAL streamed run
    * of [[sessionsWithWatermark]] over the q_watermark_windows fixture
    * (batch 0 = corpus-max rows pinning the terminal watermark, batch 1 =
    * even event_ids, batch 2 = odd) — the remaining streaming species
    * whose state MERGES across micro-batches.
    *
    * Closed form (same two-watermark model probed for
    * q_watermark_windows): batch 1 lands fully (late filter −∞); batch-2
    * rows below the terminal watermark W drop as late, survivors have
    * ts ≥ W. A surviving odd row can never extend an EMITTABLE even
    * session: emission needs session end = last_ts + 10 min ≤ W, so the
    * survivor's gap to that session is ≥ 10 min — exactly the no-merge
    * condition (session windows merge on overlap, i.e. strict <). Hence
    * emitted sessions = 10-min gap sessions over (even ∪ corpus-max)
    * rows with end ≤ W, which is what the DuckDB oracle computes; a
    * wrong merge, premature eviction, or late-filter leak moves the
    * hash by name. */
  def streamSessionsReplay(spark: org.apache.spark.sql.SparkSession,
                           sfDir: String): DataFrame = {
    val rows = sessReplayMemo.memo(spark, sfDir) {
      import spark.implicits._
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("ts_us"), col("event_id"), col("user_id"))
      val maxTs = ev.agg(max(col("ts_us"))).head().getTimestamp(0)
      val batchCol = when(col("ts_us") === lit(maxTs), lit(0))
        .otherwise(pmod(col("event_id"), lit(2)) + lit(1))
      val out = runFileStreamReplay(spark,
        (0 until 3).map(b => ev.filter(batchCol === b)),
        OutputMode.Append())(sessionsWithWatermark)
      out.as[(Long, Long, Long, Long, Long, Long)].collect()
        .sortBy(r => (r._1, r._2))
    }
    import spark.implicits._
    rows.toSeq.toDF("user_id", "start_us", "end_us", "n_events", "min_eid", "max_eid")
      .orderBy("user_id", "start_us")
  }

  /** Streaming exact dedup on event_id with bounded state: duplicates
    * arriving within the watermark horizon are dropped; state for ids older
    * than the watermark is reclaimed.
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_us", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** STREAMING incremental dedup against a static index: the streaming twin
    * of Dedup.incrementalSurvivors' operational shape — documents arrive as
    * a stream and must not re-enter the corpus if their content fingerprint
    * already exists in the standing index. A stream-static LEFT ANTI join
    * on the sha2-256 fingerprint: the static side is the stored index
    * (re-planned per micro-batch, broadcast under the usual thresholds),
    * the stream side never shuffles, and output rows are exactly the
    * appendable arrivals — with the input's own columns, not the internal
    * fingerprint (a uniquely-named probe column, dropped after the anti
    * join, so a pre-existing `fp` column on the input also survives
    * untouched). Input needs a `text` column; the index frame holds one
    * `fp` column.
    */
  def dedupAgainstIndex(docs: DataFrame, index: DataFrame): DataFrame = {
    val probe = "__graft_fp_probe"
    docs
      .withColumn(probe, sha2(col("text"), 256))
      .join(index.select(col("fp").as(probe)), Seq(probe), "left_anti")
      .drop(probe)
  }

  /** STREAMING deterministic sampling: the stratified hash filter applied
    * per arriving micro-batch. Because the keep decision is a pure
    * row-local hash compare (graft.operators.Sampling.stratifiedKeep —
    * no state, no watermark), the streamed sample over any arrival order
    * equals the batch sample over the same rows: exactly-once mixing
    * semantics under retries for free.
    */
  def sampleStratified(docs: DataFrame): DataFrame =
    docs.filter(graft.operators.Sampling.stratifiedKeep)

  /** STREAMING corpus curation: the stateless tail of the batch pipeline —
    * quality-floor filter plus PII redaction — applied per micro-batch.
    * Both are pure row-local expressions (graft.operators.TextAnalysis
    * .qualityCol / Curation.redact — no state, no watermark, no shuffle),
    * so the streamed result over any arrival order equals the batch result
    * over the same rows, and a retry re-emits identical rows. Input needs
    * the documents schema (doc_id, text, ...).
    */
  def curateDocs(docs: DataFrame): DataFrame =
    docs
      .filter(graft.operators.TextAnalysis.qualityCol >=
        graft.operators.Pipeline.QualityFloor)
      .select(col("doc_id"),
        graft.operators.Curation.redact(col("text")).as("text"))

  /** STREAMING document chunking: the overlapping 64/48-token splitter
    * applied per arriving micro-batch — the ingest shape of a
    * chunk-and-embed pipeline. Delegates to the SAME row-local transform
    * as the batch operator (graft.operators.Curation.chunkDocs — a pure
    * generate, no state, no watermark, no shuffle), so streamed chunks
    * equal batch chunks over the same rows and retries re-emit
    * identically. Input needs (doc_id, text).
    */
  def chunkDocs(docs: DataFrame): DataFrame =
    graft.operators.Curation.chunkDocs(docs)

  /** Stream-static join: enrich the event stream with a static dimension
    * (customer keyed by user_id). The static side re-plans per micro-batch;
    * Spark broadcasts it under the usual thresholds, so the stream never
    * shuffles for the join.
    */
  def enrichWithCustomer(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(customer, events("user_id") === customer("c_custkey"), "left")
      .select(events("event_id"), events("user_id"), events("event_type"),
        customer("c_mktsegment"))

  /** Stream-stream join: clicks joined to the same user's purchases within
    * the following hour. Both sides carry watermarks and the join condition
    * bounds purchase time relative to click time, so each side's state is
    * reclaimable — the unbounded-state hazard of stream-stream joins is
    * fenced exactly as the Structured Streaming model requires (equi-key +
    * event-time range + watermarks on both inputs).
    */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts_us").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts_us").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    c.join(p,
      col("c_user") === col("p_user")
        && col("purchase_ts") > col("click_ts")
        && col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"))
  }

  /** LEFT-OUTER stream-stream join: every click, enriched with its
    * within-1h purchase when one exists — unmatched clicks emit with a
    * NULL purchase once the watermark proves no future match is possible
    * (Spark emits the null row when the left state row is evicted, i.e.
    * when the watermark passes click_ts + 1 h, the condition's upper
    * bound). Same fencing as [[clickToPurchase]]: watermarks both sides +
    * the event-time range bound make both state stores reclaimable.
    */
  def clickToPurchaseOuter(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts_us").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts_us").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    c.join(p,
      col("c_user") === col("p_user")
        && col("purchase_ts") > col("click_ts")
        && col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
        col("click_ts"))
  }

  private val ssOuterReplayMemo = new SessionMemo[String, Array[(Long, Option[Long], Long)]]

  /** ORACLE-CHECKED LEFT-OUTER STREAM-STREAM JOIN (r13) — the
    * null-emission semantics the inner replay cannot observe: the same
    * chronological three-slice fixture runs [[clickToPurchaseOuter]], so
    * MATCHED pairs equal the batch join exactly (the
    * [[streamStreamJoinReplay]] losslessness argument applies verbatim),
    * and every UNMATCHED click at or below the null-emission horizon
    * emits exactly one null row. The horizon (probed live, Spark 4.1, on
    * this fixture): each watermarked SIDE tracks its own column, so the
    * join's terminal eviction watermark is
    * min(floor_ms(max click_ts), floor_ms(max purchase_ts)) − 2 h — NOT
    * the corpus max (the corpus-max event is usually neither a click nor
    * a purchase; the first probe's corpus-max candidate left exactly the
    * two clicks between the horizons unemitted). The AvailableNow
    * no-data final batch advances to that terminal value and evicts left
    * state whose match window has closed — eviction is when Spark emits
    * the outer nulls — so an unmatched click emits iff
    * click_ts + 1 h < terminal (strict; no fixture click lands exactly
    * ON a floor-ms boundary, so strict-vs-inclusive is unobservable
    * here and strict is Spark's documented state-removal predicate).
    * Unmatched clicks above the horizon are still in state when the
    * stream ends and emit nothing. The oracle states the same closed
    * form, so the hash pins matched completeness, the null set, AND the
    * two-sided-minimum horizon convention.
    */
  def streamStreamOuterReplay(spark: org.apache.spark.sql.SparkSession,
                              sfDir: String): DataFrame = {
    val rows = ssOuterReplayMemo.memo(spark, sfDir) {
      import spark.implicits._
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("ts_us"), col("event_id"), col("user_id"), col("event_type"),
          expr("ts div 86400000000000").as("day"))
      val out = runFileStreamReplay(spark,
        Seq(ev.filter(col("day") < 10), ev.filter(col("day") >= 10 && col("day") < 20),
          ev.filter(col("day") >= 20)).map(_.drop("day")),
        OutputMode.Append())(s => clickToPurchaseOuter(s, s).drop("click_ts"))
      out.select(col("click_id"), col("purchase_id"), col("user_id"))
        .as[(Long, Option[Long], Long)].collect()
        .sortBy(r => (r._1, r._2.getOrElse(Long.MinValue)))
    }
    import spark.implicits._
    rows.toSeq.toDF("click_id", "purchase_id", "user_id")
      .orderBy("click_id", "purchase_id")
  }

  /** One event for the typed stateful API. */
  case class Ev(user_id: Long, ts_us: java.sql.Timestamp, value: Double)

  /** One closed session: matches the q_sessions_10m batch-twin row shape. */
  case class Session(user_id: Long, sess_start_sec: Long, n_events: Long,
                     sum_value: Double)

  /** Arbitrary stateful sessionization via flatMapGroupsWithState: per user,
    * split the (event-time-sorted) events on gaps >= gapSec and emit
    * sessions. Sessions that could still grow are held in [[GroupState]]
    * across micro-batches and flushed on event-time timeout; a final batch
    * (or AvailableNow end-of-stream) flushes the remainder, so the union of
    * emissions equals the batch sessionization.
    */
  def sessionize(events: Dataset[Ev], gapSec: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Ev], Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Ev], state: GroupState[List[Ev]]) =>
          val pending = if (state.exists) state.get else Nil
          val evs = (pending ++ it.toList).sortBy(_.ts_us.getTime)
          if (evs.isEmpty) { // pure timeout fire with nothing pending
            state.remove(); Iterator.empty
          } else {
            val sessions = splitOnGaps(evs, gapSec * 1000L)
            // the trailing session could still grow — unless this fire is a
            // timeout (watermark already passed its gap horizon)
            val (closed, open) =
              if (state.hasTimedOut) (sessions, Nil)
              else (sessions.init, List(sessions.last))
            if (open.nonEmpty) {
              state.update(open.head)
              state.setTimeoutTimestamp(open.head.last.ts_us.getTime + gapSec * 1000)
            } else state.remove()
            closed.iterator.map(toSession(user, _))
          }
      }
  }

  /** Single-batch sessionization used by the AvailableNow tests: every
    * group sees all its events at once, so all sessions are closed and
    * emitted immediately — output equals the batch twin by construction.
    */
  def sessionizeOneShot(events: Dataset[Ev], gapSec: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroups { (user: Long, it: Iterator[Ev]) =>
        splitOnGaps(it.toList.sortBy(_.ts_us.getTime), gapSec * 1000L)
          .iterator.map(toSession(user, _))
      }
  }

  /** One raw event for the streaming funnel — ns-long event time, the same
    * precision the batch funnel compares at. */
  case class FEv(user_id: Long, ts: Long, event_type: String)

  /** Per-user funnel stage snapshot after the latest arrival. */
  case class FunnelSnap(user_id: Long, reached_view: Boolean,
                        reached_click: Boolean, reached_purchase: Boolean)

  /** Persisted per-user stage timestamps (Unreached = not yet). */
  case class FunnelSt(v: Long, c: Long, p: Long)

  /** STREAMING funnel: the q_funnel / q_funnel_fold three-stage state
    * machine held per user in [[GroupState]] across micro-batches. Each
    * fire folds the user's batch events in (ts, event_type) order — the
    * identical `Funnels.stepEvent` kernel the batch forms run — into the
    * stored stage timestamps and emits the updated snapshot; keep-latest
    * per user (the foreachBatch upsert pattern) + summing the three flags
    * reproduces the batch stage counts. Correct under chunk-ordered
    * per-user arrival (no event older than one already folded — the
    * in-order assumption every one-pass funnel makes; a violating late
    * event would need the batch recompute, not more state).
    *
    * Scale shape: state is THREE LONGS per user — the same O(1)-per-key
    * state discipline as funnelFold, resident instead of streamed.
    */
  def funnelStates(events: Dataset[FEv]): Dataset[FunnelSnap] = {
    import events.sparkSession.implicits._
    import graft.operators.Funnels
    val U = Funnels.Unreached
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelSt, FunnelSnap](GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[FEv], state: GroupState[FunnelSt]) =>
          var st = if (state.exists) state.get else FunnelSt(U, U, U)
          it.toSeq.sortBy(e => (e.ts, e.event_type)).foreach { e =>
            val s = Funnels.stepEvent(st.v, st.c, st.p, e.ts, e.event_type)
            st = FunnelSt(s._1, s._2, s._3)
          }
          state.update(st)
          FunnelSnap(user, st.v != U, st.c != U, st.p != U)
      }
  }

  /** One change-feed event for the streaming SCD2 twin. */
  case class DEv(user_id: Long, ts: Long, event_id: Long, event_type: String,
                 ts_sec: Long)

  /** Per-user CURRENT dimension version held in [[GroupState]]. */
  case class Scd2St(version: Long, event_type: String, valid_from_sec: Long,
                    n_events: Long)

  /** Snapshot of a user's current SCD2 row after the latest arrival. */
  case class Scd2Cur(user_id: Long, version: Long, event_type: String,
                     valid_from_sec: Long, n_events: Long)

  /** STREAMING SCD2: the `q_scd2` dimension build as a continuously-
    * maintained state machine — per user, [[GroupState]] holds only the
    * CURRENT version (type, version number, valid_from, run length); each
    * fire folds the batch's events in (ts, event_id) order, opening a new
    * version on every type change, and emits the updated current row.
    * Keep-latest per user (the foreachBatch upsert pattern) reproduces the
    * batch build's `is_current` rows exactly; closed versions are exactly
    * the rows a `foreachBatch` upsert sink would have written on each
    * supersession. Same chunk-ordered per-user arrival assumption as
    * [[funnelStates]].
    *
    * Scale shape: state is ONE narrow row per user — the streaming face
    * of the batch build's bounded-per-key window, with the same single
    * user_id clustering (groupByKey shuffles each change row once).
    */
  def scd2Current(events: Dataset[DEv]): Dataset[Scd2Cur] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[Scd2St, Scd2Cur](GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[DEv], state: GroupState[Scd2St]) =>
          var st = if (state.exists) state.get else null
          it.toSeq.sortBy(e => (e.ts, e.event_id)).foreach { e =>
            st =
              if (st == null) Scd2St(1L, e.event_type, e.ts_sec, 1L)
              else if (st.event_type == e.event_type) st.copy(n_events = st.n_events + 1)
              else Scd2St(st.version + 1, e.event_type, e.ts_sec, 1L)
          }
          state.update(st)
          Scd2Cur(user, st.version, st.event_type, st.valid_from_sec, st.n_events)
      }
  }

  /** Split event-time-sorted events into sessions: a gap >= gapMs (ms
    * precision — the 10-minute session gap dwarfs sub-ms effects) starts a
    * new session. Returned oldest-first.
    */
  private def splitOnGaps(evs: List[Ev], gapMs: Long): List[List[Ev]] =
    evs.foldLeft(List.empty[List[Ev]]) { (acc, e) =>
      acc match {
        case cur :: rest if e.ts_us.getTime - cur.last.ts_us.getTime < gapMs =>
          (cur :+ e) :: rest
        case _ => List(e) :: acc
      }
    }.reverse

  private def toSession(user: Long, s: List[Ev]): Session =
    Session(user, s.head.ts_us.getTime / 1000, s.length, s.map(_.value).sum)
}
