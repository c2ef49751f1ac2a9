package graft

import org.apache.spark.sql.SparkSession

/** The one way this repo builds a SparkSession. Every entry point (Bench,
  * Verify, Explain, ScaleCurve, SpillRehearsal) and the test session in
  * SparkSpec start from [[builder]] and chain their own extra `.config`
  * calls on it.
  *
  * The session is armed once, at build time: [[GraftExtensions]] injects
  * the SQL functions, optimizer rules, planner strategies and the AQE
  * stage-prep rule, and no operator or loader changes the session
  * afterwards. The other settings:
  *   - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`;
  *   - session timezone UTC: `Tables.events` normalizes TIMESTAMP_NTZ
  *     through it, so event instants are host-independent;
  *   - no Spark UI;
  *   - `spark.sql.legacy.parquet.nanosAsLong`: an INT64 TIMESTAMP(NANOS)
  *     parquet column reads as bigint nanoseconds instead of failing at
  *     read time, so `Tables.events` accepts either generation of the
  *     events file (its scaladoc).
  */
object Session {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
