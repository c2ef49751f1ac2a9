package graft.operators

import graft.Tables
import graft.operators.Relational.dsum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registered text-format SOURCES (SURVEY.md §2.B1): CSV and JSON-lines
  * ingest as first-class oracle-checked queries, not just round-trip
  * tests. Each query materializes a session-scoped multi-file text copy
  * of a parquet table ONCE (the stored-artifact memo pattern), then runs
  * its aggregation over the TEXT source with an explicit schema; the
  * DuckDB oracle runs the same aggregation over the parquet table — a
  * value mismatch anywhere in parse/encode round-trips the hash gate by
  * name.
  *
  * Scale shape: both formats are written as multiple files and read with
  * an EXPLICIT schema — no inference pass over the data, and
  * line-delimited text splits by file (and by range within a file for
  * uncompressed CSV), so a 100 TB ingest parallelizes like the parquet
  * scan. The real at-scale difference is the missing column pruning /
  * predicate pushdown (text formats always read whole rows) — which is
  * why every other query here runs on parquet and these two exist to
  * prove the INGEST path a crawl pipeline runs before it ever has
  * parquet.
  */
object Sources {

  private val csvMemo = new SessionMemo[String, String]
  private val jsonlMemo = new SessionMemo[String, String]

  /** Session-scoped CSV copy of `customer` (header, 4 files). */
  private[graft] def csvDir(spark: SparkSession, sfDir: String): String =
    csvMemo.dir(spark, sfDir, "graft-csv-src") { dir =>
      Tables.customer(spark, sfDir)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .repartition(4)
        .write.mode("overwrite").option("header", "true").csv(dir)
    }

  /** Session-scoped JSON-lines copy of `documents` (4 files). */
  private[graft] def jsonlDir(spark: SparkSession, sfDir: String): String =
    jsonlMemo.dir(spark, sfDir, "graft-jsonl-src") { dir =>
      Tables.documents(spark, sfDir)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .repartition(4)
        .write.mode("overwrite").json(dir)
    }

  /** Per-segment customer rollup read from the CSV copy: count, exact
    * decimal balance sum, name extrema — covers integer, double and
    * string parsing plus the header skip. Oracle = the identical rollup
    * over the parquet `customer`, so every parsed cell must round-trip
    * (Spark writes doubles in shortest-round-trip decimal form). */
  def csvCustomerSegments(spark: SparkSession, sfDir: String): DataFrame =
    spark.read
      .schema("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")
      .option("header", "true")
      .csv(csvDir(spark, sfDir))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        round(dsum(col("c_acctbal")), 4).as("sum_acctbal"),
        min(col("c_name")).as("first_name"),
        max(col("c_name")).as("last_name"))
      .orderBy("c_mktsegment")

  private val orcMemo = new SessionMemo[String, String]

  /** Session-scoped ORC copy of `orders` (4 files). ORC is the columnar
    * alternative a warehouse migration actually reads — unlike the text
    * formats it keeps column pruning and predicate pushdown. */
  private[graft] def orcDir(spark: SparkSession, sfDir: String): String =
    orcMemo.dir(spark, sfDir, "graft-orc-src") { dir =>
      Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
        .repartition(4)
        .write.mode("overwrite").orc(dir)
    }

  /** Per-priority order rollup read from the ORC copy — long/double/string
    * columns through the ORC writer/reader pair, plus a pushed filter so
    * the format's predicate pushdown is on the executed path. */
  def orcOrderPriorities(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.orc(orcDir(spark, sfDir))
      .filter(col("o_orderstatus") =!= "P")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(dsum(col("o_totalprice")), 4).as("sum_total"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderpriority")

  /** Per-language document rollup read from the JSON-lines copy: count,
    * n_chars sum, and a token count DERIVED from the parsed text column —
    * covers long/string fields and embedded-quote escaping through the
    * JSON writer/parser pair. */
  def jsonlDocsPerLang(spark: SparkSession, sfDir: String): DataFrame =
    spark.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .json(jsonlDir(spark, sfDir))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
      .orderBy("lang")

  // ---- events through the text formats (r11, VERDICT ask #6) ----------
  // THE ENCODING RULE: neither CSV nor JSON has a 64-bit-nanosecond
  // timestamp type, and Spark's timestamp formatters top out at
  // microseconds — so the engine encodes the NORMALIZED bigint-ns `ts`
  // column (Tables.events' canonical form) as a plain int64 field.
  // That round-trip is lossless by construction; a formatted-string
  // encoding would silently truncate to µs and the sub-second checksums
  // below would hash-mismatch by name.

  private val csvEventsMemo = new SessionMemo[String, String]
  private val jsonlEventsMemo = new SessionMemo[String, String]

  /** Session-scoped CSV copy of `events` with `ts` as int64 ns (4 files). */
  private[graft] def csvEventsDir(spark: SparkSession, sfDir: String): String =
    csvEventsMemo.dir(spark, sfDir, "graft-csv-events") { dir =>
      Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .repartition(4)
        .write.mode("overwrite").option("header", "true").csv(dir)
    }

  /** Session-scoped JSON-lines copy of `events` with `ts` as int64 ns. */
  private[graft] def jsonlEventsDir(spark: SparkSession, sfDir: String): String =
    jsonlEventsMemo.dir(spark, sfDir, "graft-jsonl-events") { dir =>
      Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .repartition(4)
        .write.mode("overwrite").json(dir)
    }

  /** Per-type event rollup over the parsed frame: min/max raw ns, a
    * SUB-SECOND checksum (`sum(ts % 1e9)` — any µs truncation anywhere in
    * the encode/parse chain shifts it), and the value sum. Shared by both
    * text-format queries; the oracle runs the identical rollup on the
    * parquet original via epoch_ns. */
  private def eventsNsRollup(parsed: DataFrame): DataFrame =
    parsed.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("min_ts_ns"),
        max(col("ts")).as("max_ts_ns"),
        sum(col("ts") % 1000000000L).as("subsec_sum"),
        round(dsum(col("value")), 4).as("sum_value"))
      .orderBy("event_type")

  /** ns-timestamp survival through CSV: events → int64-ns CSV → parse →
    * rollup whose hash moves on any sub-µs loss. */
  def csvEventsNs(spark: SparkSession, sfDir: String): DataFrame =
    eventsNsRollup(spark.read
      .schema("event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      .option("header", "true")
      .csv(csvEventsDir(spark, sfDir)))

  /** ns-timestamp survival through JSON-lines — same rollup, same oracle
    * shape, JSON writer/parser pair instead of CSV. */
  def jsonlEventsNs(spark: SparkSession, sfDir: String): DataFrame =
    eventsNsRollup(spark.read
      .schema("event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      .json(jsonlEventsDir(spark, sfDir)))

  private val orcEventsMemo = new SessionMemo[String, String]

  private[graft] def orcEventsDir(spark: SparkSession, sfDir: String): String =
    orcEventsMemo.dir(spark, sfDir, "graft-orc-events") { dir =>
      Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .repartition(4)
        .write.mode("overwrite").orc(dir)
    }

  /** ns-timestamp survival through ORC — the columnar member of the
    * events round-trip family: the bigint-ns `ts` is a native int64 ORC
    * column (no formatter in the path at all, unlike the text formats),
    * so this pins the WRITER/reader pair rather than an encoding rule;
    * same sub-second checksum, same oracle shape. */
  def orcEventsNs(spark: SparkSession, sfDir: String): DataFrame =
    eventsNsRollup(spark.read.orc(orcEventsDir(spark, sfDir)))

  private val evolveMemo = new SessionMemo[String, String]

  /** Session-scoped SCHEMA-EVOLVED parquet table: generation 1 (even order
    * keys) is written WITHOUT `o_orderpriority` — the column a later
    * pipeline release added — then generation 2 (odd keys) appends WITH
    * it. Two physically different file schemas in one directory, the
    * standard lakehouse ingest reality after any producer upgrade. */
  private[graft] def evolveDir(spark: SparkSession, sfDir: String): String =
    evolveMemo.dir(spark, sfDir, "graft-evolve-src") { dir =>
      val o = Tables.orders(spark, sfDir)
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").parquet(dir)
      o.filter(col("o_orderkey") % 2 =!= 0)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.mode("append").parquet(dir)
    }

  /** SCHEMA EVOLUTION read (`mergeSchema`): the union schema is
    * reconstructed across both file generations — pre-upgrade rows
    * surface NULL in the added column (filled 'LEGACY' here, the backfill
    * every migration runbook specifies) and the rollup must account for
    * EVERY row of both generations, so the hash moves if merge drops a
    * file, a column, or misaligns by position instead of name. Oracle =
    * the same split derived from the parquet `orders` directly. At
    * 100 TB: merge-on-read costs one footer per FILE SCHEMA (Spark
    * dedups identical footers), the alternative — rewriting history to
    * the new schema — costs a full-table write; this is why every table
    * format (Delta/Iceberg/Hudi) specifies evolution as metadata-only. */
  def schemaEvolution(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(evolveDir(spark, sfDir))
      .select(col("o_orderkey"), col("o_totalprice"),
        coalesce(col("o_orderpriority"), lit("LEGACY")).as("priority"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_orders"),
        round(dsum(col("o_totalprice")), 4).as("sum_total"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("priority")

  private val overwriteMemo = new SessionMemo[String, String]

  /** Session-scoped year-partitioned orders store exercising DYNAMIC
    * partition overwrite — the restatement primitive of every partitioned
    * warehouse. The initial load is BROKEN for the earliest year (orders
    * with key ≡ 0 mod 7 missing — a partial extract); the fix job then
    * rewrites ONLY that year with the per-write option
    * `partitionOverwriteMode=dynamic` (the session conf is left as it is),
    * which replaces exactly the partitions present in the incoming frame.
    * STATIC mode would have deleted every other year first; serving all
    * years green against the full-table oracle therefore proves both the
    * restatement AND that untouched partitions survived. */
  private[graft] def overwriteDir(spark: SparkSession, sfDir: String): String =
    overwriteMemo.dir(spark, sfDir, "graft-dynpart-src") { dir =>
      // fenced: the min-year collect and the two writes are three jobs —
      // unfenced each would rescan orders (review r11); unpersisted after
      val o = Dedup.fence(Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("o_year")), "o_year")
      try {
        val firstYear = o.agg(min("o_year")).head.getInt(0) // bounded: 1-row agg
        o.filter(col("o_year") =!= firstYear || col("o_orderkey") % 7 =!= 0)
          .write.partitionBy("o_year").mode("overwrite").parquet(dir)
        o.filter(col("o_year") === firstYear)
          .write.partitionBy("o_year").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").parquet(dir)
      } finally o.unpersist()
    }

  /** Per-year rollup served from the dynamically-restated store — must
    * equal the oracle's rollup over the pristine `orders`, which fails if
    * the restated year is still short OR any other year was clobbered. */
  def partitionOverwrite(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(overwriteDir(spark, sfDir))
      .groupBy(col("o_year").cast("long").as("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        round(dsum(col("o_totalprice")), 4).as("sum_total"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_year")
}
