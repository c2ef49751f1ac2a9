package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.SessionShim

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
  *     events file (its scaladoc);
  *   - the `file:` scheme on [[graft.io.ForkFreeLocalFileSystem]]
  *     (`FileSystem` API, `fs.file.impl`) and [[graft.io.ForkFreeLocalFs]]
  *     (`FileContext` API, `fs.AbstractFileSystem.file.impl`), set as
  *     `spark.hadoop.*` keys. Without Hadoop's native library the stock
  *     local file system starts a `chmod` process per file or directory
  *     it creates and several `readlink` processes per `FileContext`
  *     rename, ~3 ms each; memo stores, fixtures, checkpoints and
  *     state-store files are all local. `graft.io` does the same I/O
  *     through `java.nio`. The JVM-wide `FileSystem` cache keeps the
  *     first `file:` instance made, so the `FileSystem` key takes effect
  *     when this session is the JVM's first user of `file:`, as it is in
  *     every entry point here.
  *
  * Streaming replays must not depend on who built the session, so they
  * run in [[localIo]], a clone armed with the same keys.
  */
object Session {

  /** The Hadoop keys that put `file:` I/O on `graft.io`, defined once for
    * [[builder]] and [[localIo]]. */
  private val LocalFs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[graft.io.ForkFreeLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[graft.io.ForkFreeLocalFs].getName)

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(LocalFs.map { case (k, v) => s"spark.hadoop.$k" -> v }.toMap)

  /** A private clone of `spark` whose local-file I/O runs on `graft.io`,
    * whoever built `spark` (perfbench's harness builds its own session).
    * The clone's conf carries the [[LocalFs]] keys plus
    * `fs.file.impl.disable.cache`: the JVM-wide `FileSystem` cache may
    * already hold a stock `file:` instance, which would otherwise be
    * served in place of the configured class. `spark`'s conf is not
    * touched. The clone shares `spark`'s context and cached data; a frame
    * built in `spark` moves to it with `ColumnShim.ofRows`. */
  private[graft] def localIo(spark: SparkSession): SparkSession = {
    val clone = SessionShim.cloneSession(spark)
    (LocalFs :+ ("fs.file.impl.disable.cache" -> "true")).foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }
}
