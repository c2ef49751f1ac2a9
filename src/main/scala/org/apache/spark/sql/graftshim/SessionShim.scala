package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge to the session internals graft.Session and graft.Tables need:
  * a session clone with its own conf, and Spark's own parquet footer
  * schema conversion, both `private[sql]` or unstable API.
  */
object SessionShim {

  /** A new session sharing `spark`'s context and cached data, with a copy
    * of its conf, temp views and functions; setting the clone's conf
    * leaves `spark` unchanged. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** The schema Spark's non-merging parquet inference gives for the one
    * file it reads: the footer read on the driver with Spark's reader,
    * converted with a converter built from `spark`'s conf, as nullable.
    * The inference reads the same footer inside a Spark job. */
  def parquetSchema(spark: SparkSession, file: FileStatus): StructType = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, state.newHadoopConf()), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(state.conf)).asNullable
  }

  /** Whether Spark's file listing skips an entry of this name (`_x`, `.x`,
    * `x._COPYING_`; the `_metadata` summaries are kept). */
  def isHiddenFile(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}
