package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.{MvRegistry, MvRewriteRule}

/** Materialized aggregate view over the `lineitem` fact (SURVEY §2 B10 /
  * warehouse-ops family, round 11) — the summary-table lifecycle every
  * OLAP engine ships (Goldstein & Larson, SIGMOD'01; Calcite/Oracle query
  * rewrite): build a pre-aggregated cube ONCE at grain
  * (l_returnflag, l_linestatus, year(l_shipdate)), register it with
  * [[MvRegistry]], and let [[MvRewriteRule]] answer coarser-or-equal
  * fact-side aggregates from the cube with NO query change.
  *
  * Exactness: every measure is pre-summed in DECIMAL(18,6) (re-summing
  * partial decimal sums is order- and grouping-insensitive), and
  * `count(*)` folds as the sum of per-cell row counts — so the rewritten
  * plan is hash-identical to scanning the fact, which is what the DuckDB
  * oracle checks.
  *
  * Scale shape: the cube has |distinct (flag, status, year)| rows — tens
  * of cells regardless of fact size. At 100 TB the build is one
  * map-side-combined hash aggregate over the fact (the same shuffle any
  * single reporting query would pay), and every subsequent dashboard
  * query reads the cube instead of re-scanning billions of rows. The
  * serve-side plan is asserted cube-only: [[mvServed]] REFUSES to return
  * a plan whose leaves still touch the fact.
  */
object MaterializedView {

  /** (session, sfDir) → cube directory. */
  private val cubeMemo = new SessionMemo[String, String]

  private def factPath(sfDir: String): String = s"$sfDir/lineitem.parquet"

  /** Build the cube parquet once per (session, sfDir), register the
    * fact→cube mapping in [[MvRegistry]] and return the cube directory.
    * The rewrite rule itself comes from [[graft.GraftExtensions]]; on a
    * session built without it nothing rewrites, and [[mvServed]] refuses
    * the fact-scanning plan. */
  private[graft] def cubeDir(spark: SparkSession, sfDir: String): String =
    cubeMemo.dir(spark, sfDir, "graft-mv-cube") { dir =>
      val fact = Tables.lineitem(spark, sfDir)
      fact.groupBy(
          col("l_returnflag"), col("l_linestatus"),
          year(col("l_shipdate")).as("ship_year"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,6)")).as("qty_s"),
          sum(col("l_extendedprice").cast("decimal(18,6)")).as("price_s"),
          sum(col("l_discount").cast("decimal(18,6)")).as("disc_s"),
          count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(dir)

      // Fact-side expression templates, registered as ANALYZED trees (the
      // rule matches structurally with name-identified attributes, so the
      // same DataFrame shapes match across independent reads of the fact).
      // Dim templates must be null-intolerant in their single source
      // attribute — MvRewriteRule folds inferred IsNotNull guards through
      // them (identity columns and year() qualify).
      val templates: Seq[Expression] = fact.select(
          col("l_returnflag"), col("l_linestatus"), year(col("l_shipdate")),
          col("l_quantity").cast("decimal(18,6)"),
          col("l_extendedprice").cast("decimal(18,6)"),
          col("l_discount").cast("decimal(18,6)"))
        .queryExecution.analyzed.collectFirst { case p: Project => p }.get
        .projectList.map { case Alias(c, _) => c; case a => a }

      val factPaths = fact.queryExecution.analyzed.collectFirst {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).toSet
        }
      }.get
      val mvLr = spark.read.parquet(dir).queryExecution.analyzed.collectFirst {
        case lr: LogicalRelation => lr
      }.get

      MvRegistry.register(spark, MvRegistry.MvDef(
        factPaths = factPaths,
        mvPlan = mvLr,
        dims = Seq(templates(0) -> "l_returnflag", templates(1) -> "l_linestatus",
          templates(2) -> "ship_year"),
        measures = Seq(templates(3) -> "qty_s", templates(4) -> "price_s",
          templates(5) -> "disc_s"),
        cntCol = "cnt"))
    }

  /** The marked fact scan the rewrite rule recognizes (`graft.mv` rides
    * HadoopFsRelation.options — see MvRewriteRule's OPT-IN MARKER note). */
  private def markedFact(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.option("graft.mv", "true").parquet(factPath(sfDir))

  /** Collect every file-scan root path in `df`'s optimized plan. */
  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten

  /** A reporting aggregate WRITTEN AGAINST THE FACT — filter on a dim,
    * group at a grain coarser than the cube's, decimal sums + count(*)
    * — answered from the cube by [[MvRewriteRule]]. The plan is VERIFIED
    * rewritten: this refuses to return a fact-scanning plan, so the
    * hash-green result proves both the rewrite fired and that serving
    * from pre-sums is bit-identical to the fact scan the oracle runs.
    */
  def mvServed(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cubeDir(spark, sfDir)
    val df = markedFact(spark, sfDir)
      .filter(year(col("l_shipdate")) >= lit(1996))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double").as("sum_price"),
        sum(col("l_discount").cast("decimal(18,6)")).cast("double").as("sum_disc"),
        count(lit(1)).as("n_items"))
      .orderBy("l_returnflag", "l_linestatus")
    val paths = scanPaths(df)
    if (!paths.exists(_.contains(dir)) || paths.exists(_.contains("lineitem.parquet")))
      throw new IllegalStateException(
        s"MV rewrite did not fire: plan scans $paths instead of cube $dir")
    df
  }

  /** The cube itself at full grain — the BUILD half of the lifecycle,
    * hash-checked against DuckDB running the same aggregate on the fact
    * (proves the stored pre-sums are exact, not just the rewrite). */
  def mvCube(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cubeDir(spark, sfDir)
    serveSegments(Tables.cachedScan(spark, dir))
  }

  /** (session, sfDir) → incremental-segment cube directory. */
  private val incrMemo = new SessionMemo[String, String]

  /** Append one fact batch's cube PARTIALS to the standing segment store
    * at `dir` — the view-maintenance delta: only the batch is scanned,
    * nothing already written is read or rewritten. Package-private so the
    * streaming twin and StorageLayoutSpec can drive the batch-at-a-time
    * lifecycle explicitly. */
  private[graft] def appendCubeBatch(spark: SparkSession, sfDir: String,
                                     dir: String, batchId: Int): Unit =
    appendCubeFrame(
      Tables.lineitem(spark, sfDir).filter(col("l_orderkey") % 2 === batchId),
      dir, batchId.toLong)

  /** The frame-level delta append — shared by the batch lifecycle above
    * and the streaming foreachBatch twin (StreamingSpec), which is the
    * production shape: each micro-batch of fact rows lands as one cube
    * segment. */
  private[graft] def appendCubeFrame(batch: DataFrame, dir: String,
                                     batchId: Long): Unit =
    batch
      .groupBy(col("l_returnflag"), col("l_linestatus"),
        year(col("l_shipdate")).as("ship_year"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,6)")).as("qty_s"),
        sum(col("l_extendedprice").cast("decimal(18,6)")).as("price_s"),
        sum(col("l_discount").cast("decimal(18,6)")).as("disc_s"),
        count(lit(1)).as("cnt"))
      .withColumn("batch", lit(batchId))
      .write.mode("append").parquet(dir)

  private[graft] def incrCubeDir(spark: SparkSession, sfDir: String): String =
    incrMemo.dir(spark, sfDir, "graft-mv-incr") { dir =>
      // two deterministic fact batches (even / odd order keys): the first
      // write creates the segment store, the second is a pure append
      appendCubeBatch(spark, sfDir, dir, 0)
      appendCubeBatch(spark, sfDir, dir, 1)
    }

  /** Fold stored per-segment partials to the full-grain serving frame —
    * exact because DECIMAL partial sums and row counts are
    * order/grouping-insensitive under addition. */
  private def serveSegments(segments: DataFrame): DataFrame =
    segments.groupBy("l_returnflag", "l_linestatus", "ship_year")
      .agg(sum("qty_s").as("qty_s"), sum("price_s").as("price_s"),
        sum("disc_s").as("disc_s"), sum("cnt").as("cnt"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("ship_year").cast("long").as("ship_year"),
        col("qty_s").cast("double").as("sum_qty"),
        col("price_s").cast("double").as("sum_price"),
        col("disc_s").cast("double").as("sum_disc"),
        col("cnt").as("n_items"))
      .orderBy("l_returnflag", "l_linestatus", "ship_year")

  /** INCREMENTAL view maintenance — the append half of the MV lifecycle
    * ([[mvServed]]/[[mvCube]] are build + serve): fact batches arrive as
    * appended per-batch cube PARTIALS (each append scans ONLY its batch
    * and writes |cells touched| rows), and serving folds the standing
    * segments by one grain-keyed re-sum. DECIMAL addition is order- and
    * grouping-insensitive, so the folded cube is BIT-IDENTICAL to a full
    * rebuild — this query shares [[mvCube]]'s full-rebuild DuckDB oracle,
    * which is exactly the classic self-maintainable-view claim (SUM and
    * COUNT are self-maintainable under inserts; Gupta & Mumick's view
    * maintenance survey) made checkable.
    *
    * Scale shape: maintenance cost per batch = one map-combined hash-agg
    * over the batch; serve cost = |segments| × |cells| rows, fact never
    * rescanned. At 100 TB this is the nightly-load path: the day's
    * partition aggregates once, the dashboard cube refolds from
    * cell-count-sized segments.
    */
  def mvIncremental(spark: SparkSession, sfDir: String): DataFrame =
    serveFrom(spark, incrCubeDir(spark, sfDir))

  /** Serve the full-grain cube from any segment store — package-visible
    * so the streaming twin's test serves from its own accumulated dir. */
  private[graft] def serveFrom(spark: SparkSession, dir: String): DataFrame =
    serveSegments(Tables.cachedScan(spark, dir).drop("batch"))
}
