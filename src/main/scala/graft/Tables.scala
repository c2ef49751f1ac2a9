package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SessionShim
import org.apache.spark.sql.types.StructType

import graft.operators.SessionMemo

/** Table loaders over the driver-generated parquet testdata (TESTDATA.md,
  * FIXTURES.md). All schemas are read from parquet footers on the driver
  * ([[cachedScan]]) — no DDL and no schema-inference job.
  *
  * Scale note: each loader is a plain parquet scan, so Catalyst predicate
  * pushdown / column pruning apply to whatever query is layered on top. At
  * 100 TB the same code works against a partitioned directory tree — nothing
  * here assumes a single file.
  */
object Tables {

  /** Session-scoped parquet schema memo, keyed by the store's path and
    * the path, length and mtime of the file its schema is read from. */
  private val schemaMemo = new SessionMemo[(String, String, Long, Long), StructType]

  private val SummaryFiles = Seq("_common_metadata", "_metadata")

  /** Parquet scan with the schema read from a footer on the driver.
    *
    * `spark.read.parquet(path)` infers the schema in a Spark job (a
    * "parquet at" stage) that reads one footer: the `_common_metadata`
    * or `_metadata` summary if the store has one, else the first data
    * file in path order. In a fresh session that is one job per table
    * (~900 ms for perfbench's `cold_build` tables). This reads the same
    * footer on the driver and converts it with Spark's own converter
    * (`SessionShim.parquetSchema`), then scans with that schema as the
    * user-given one. Partition columns are still inferred from the
    * directory names by the scan's own listing, so the frame's schema
    * equals inference for a single file, a multi-file store and a
    * partitioned directory (TablesSchemaSpec).
    *
    * The schema is memoized per session, keyed by the footer file's
    * path, length and mtime: a store rewritten in place is read again
    * rather than masked. Appending files that sort after the first one
    * leaves the key as it was, and the store is read with the first
    * file's schema, as Spark's non-merging inference reads it. */
  def cachedScan(spark: SparkSession, path: String): DataFrame = {
    val sch = footerFile(spark, path) match {
      case Some(f) =>
        schemaMemo.memo(spark, (path, f.getPath.toString, f.getLen, f.getModificationTime))(
          SessionShim.parquetSchema(spark, f))
      case None => spark.read.parquet(path).schema // no data file: Spark's own error
    }
    spark.read.schema(sch).parquet(path)
  }

  /** The file whose footer Spark's non-merging inference reads for `path`
    * (see [[cachedScan]]), listed on the driver as Spark lists it. */
  private def footerFile(spark: SparkSession, path: String): Option[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => SessionShim.isHiddenFile(c.getPath.getName)).flatMap(leaves)
    val files = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    SummaryFiles.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !SummaryFiles.contains(f.getPath.getName)))
  }

  /** Generic parquet scan for one of the ten testdata tables. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cachedScan(spark, s"$sfDir/$name.parquet")

  def region(spark: SparkSession, sfDir: String): DataFrame    = t(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = t(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = t(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = t(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = t(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = t(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = t(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "embeddings")

  /** events.parquet's `ts` encoding has changed across testdata generations:
    * INT64 TIMESTAMP(NANOS) originally (SURVEY.md §1.2), plain `timestamp[us]`
    * (read by Spark as TIMESTAMP_NTZ) since 2026-08-13. Branch on the observed
    * dtype and normalize to one canonical contract so every downstream
    * consumer (and the DuckDB `epoch_ns(ts)` oracles) is encoding-agnostic:
    *   - `ts`      bigint epoch nanoseconds (exact, for arithmetic)
    *   - `ts_us`   timestamp (µs precision) for window/date functions
    *   - `ts_sec`  bigint epoch seconds (for oracle-safe output)
    * The NTZ column is cast to TIMESTAMP before unix_micros; the session
    * timezone is UTC everywhere (Spark sessions and DuckDB), so the cast is a
    * pure reinterpretation with no wall-clock shift.
    *
    * The NANOS encoding reads as bigint only under
    * `spark.sql.legacy.parquet.nanosAsLong`, which [[Session.builder]] sets
    * at build time; this loader does not change the session. A NANOS file
    * read by a session built without it fails at read time.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = t(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw
          .withColumn("ts_us", timestamp_micros(expr("ts div 1000")))
          .withColumn("ts_sec", expr("ts div 1000000000"))
      case _ => // TimestampType or TimestampNTZType
        raw
          .withColumn("ts_us", expr("cast(ts as timestamp)"))
          .withColumn("ts_sec", expr("unix_micros(cast(ts as timestamp)) div 1000000"))
          .withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
    }
  }
}
