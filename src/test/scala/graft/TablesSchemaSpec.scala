package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.SessionMemos

/** `Tables.cachedScan` reads its schema from a parquet footer on the
  * driver instead of Spark's schema-inference job. These tests pin that
  * the schema is the one Spark's inference gives (data files, multi-file
  * stores, partition columns), that a fresh session launches no job for
  * it, and that a file rewritten under the same path is read again.
  */
class TablesSchemaSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  private def withFreshSession[T](body: SparkSession => T): T = {
    val s = spark.newSession()
    try body(s) finally SessionMemos.evict(s)
  }

  private def withTempDir[T](body: String => T): T = {
    val d = Files.createTempDirectory("graft-schema")
    try body(d.toString) finally org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  private def assertInferred(s: SparkSession, path: String): Unit = {
    val driver = Tables.cachedScan(s, path).schema
    val inferred = s.read.parquet(path).schema
    assert(driver == inferred, s"$path: driver ${driver.simpleString} != inferred ${inferred.simpleString}")
  }

  test("driver footer schema equals Spark's inference for the ten tables at sf0.001 and sf0.01") {
    val dirs = Seq(sf, sf.replace("sf0.001", "sf0.01")).filter(d => Files.isDirectory(Paths.get(d)))
    assert(dirs.head == sf)
    withFreshSession(s => for (d <- dirs; t <- tables) assertInferred(s, s"$d/$t.parquet"))
  }

  test("driver footer schema equals Spark's inference for a multi-file store and a partitioned directory") {
    withTempDir { dir =>
      val df = spark.range(0, 200, 1, 4).select(col("id"), col("id").cast("string").as("s"),
        array(col("id"), lit(null).cast("long")).as("a"),
        struct(col("id").as("x"), (col("id") % 7).cast("int").as("y")).as("st"),
        (col("id") % 3).cast("int").as("p"), concat(lit("k"), col("id") % 2).as("q"))
      df.write.parquet(s"$dir/multi")
      df.write.partitionBy("p", "q").parquet(s"$dir/parted")
      val parts = new java.io.File(s"$dir/multi").listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts == 4, s"expected a 4-file store, got $parts files")
      withFreshSession { s =>
        assertInferred(s, s"$dir/multi")
        assertInferred(s, s"$dir/parted")
        assert(Tables.cachedScan(s, s"$dir/parted").schema.fieldNames.takeRight(2).toSeq == Seq("p", "q"))
      }
    }
  }

  test("Tables.t in a fresh session launches no job, schema reads included") {
    withFreshSession { s =>
      assert(allJobsDuring(s.read.parquet(s"$sf/lineitem.parquet").schema) > 0,
        "Spark's schema inference launched no job: the counter shows nothing")
      val jobs = allJobsDuring(tables.foreach(t => Tables.t(s, sf, t)))
      assert(jobs == 0, s"constructing the ten table scans launched $jobs jobs")
    }
  }

  test("a parquet file rewritten under the same path is read again") {
    withTempDir { dir =>
      val file = Paths.get(dir, "t.parquet")
      def writeSingle(df: org.apache.spark.sql.DataFrame, b: Int): Unit = {
        val stage = s"$dir/stage$b"
        df.coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      withFreshSession { s =>
        writeSingle(spark.range(5).toDF("a"), 0)
        assert(Tables.cachedScan(s, file.toString).schema.fieldNames.toSeq == Seq("a"))
        writeSingle(spark.range(5).selectExpr("id AS a", "id * 2 AS b"), 1)
        val again = Tables.cachedScan(s, file.toString)
        assert(again.schema.fieldNames.toSeq == Seq("a", "b"),
          s"the memo served the old schema: ${again.schema.simpleString}")
        assert(again.agg(sum("b")).head().getLong(0) == 20L)
      }
    }
  }
}
