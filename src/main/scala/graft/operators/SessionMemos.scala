package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** A session-scoped memo: each value is built once per `(session, key)`
  * and dropped when that session's application ends (ADVICE r9: entries
  * used to outlive their session, pinning checkpoint blocks and serving a
  * dead session's frames). Every trained artifact, cube, index and replay
  * the operators reuse within a session lives in one of these.
  *
  * [[memo]] builds under `computeIfAbsent`'s bin lock, so a value is
  * built at most once per key; a build must not re-enter the same memo.
  * [[dir]] is the form for on-disk artifacts: the build writes into a
  * fresh session-owned temp directory, which eviction deletes.
  *
  * SHARED ASSUMPTION, stated once for every memo keyed on an sfDir or a
  * path: data under it is NOT rewritten within a session. The memos cache
  * deterministic artifacts of the files as they were first read; a
  * pipeline that regenerates its inputs mid-session must use a fresh
  * session (exactly as it must for Spark's own file-listing and
  * parquet-footer caches). The Verify/Bench harnesses create one session
  * per run, so the assumption holds there by construction.
  */
private[graft] final class SessionMemo[K, V] {
  private val entries = new ConcurrentHashMap[(SparkSession, K), V]()
  SessionMemos.register(this)

  /** The value for `(spark, key)`, running `build` on the first call. */
  def memo(spark: SparkSession, key: K)(build: => V): V = {
    SessionMemos.watch(spark)
    entries.computeIfAbsent((spark, key), _ => build)
  }

  /** The value for `(spark, key)` if one was built; never builds. */
  def get(spark: SparkSession, key: K): Option[V] = Option(entries.get((spark, key)))

  /** [[memo]] for an on-disk artifact: `write` fills a new temp directory
    * (named `prefix…`) owned by `spark`, and the directory is the value. */
  def dir(spark: SparkSession, key: K, prefix: String)(write: String => Unit)
         (implicit isPath: String =:= V): V =
    memo(spark, key) {
      val d = SessionMemos.tempDir(spark, prefix)
      write(d)
      isPath(d)
    }

  private[operators] def evict(spark: SparkSession): Unit =
    entries.keySet.removeIf(_._1 eq spark)
}

/** Lifecycle registry behind [[SessionMemo]]: the memos themselves, the
  * sessions whose end-of-application listener is installed, and the
  * session-owned artifact directories. In local mode several
  * `newSession()` clones may share one context — each is evicted when
  * that shared context ends, at which point all of them are unusable
  * anyway. */
private[graft] object SessionMemos {
  private val memos = ConcurrentHashMap.newKeySet[SessionMemo[_, _]]()
  private val watched = ConcurrentHashMap.newKeySet[SparkSession]()
  private val dirs = new ConcurrentHashMap[java.nio.file.Path, SparkSession]()

  private[operators] def register(m: SessionMemo[_, _]): Unit = memos.add(m)

  /** Install (once per session) the listener that evicts `spark`'s
    * entries and directories when its SparkContext stops. */
  private[operators] def watch(spark: SparkSession): Unit =
    if (watched.add(spark))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          evict(spark)
          watched.remove(spark)
        }
      })

  /** Create a temp directory owned by `spark` for a memoized on-disk
    * artifact (cube / index / fixture parquet). The tree is deleted by the
    * same eviction that drops the memo entry pointing at it (ADVICE r11:
    * the builders used to leak their directories, so repeated sessions —
    * bench, the two-factor scale curve — accumulated orphaned parquet
    * under /tmp). */
  def tempDir(spark: SparkSession, prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    dirs.put(p, spark)
    p.toString
  }

  private def deleteTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach { f =>
        try Files.deleteIfExists(f) catch { case _: java.io.IOException => () }
      } finally walk.close()
    }
  }

  /** Drop every memo entry and artifact directory owned by `spark`.
    * Invoked by the end-of-application listener; also called directly by
    * MemoLifecycleSpec and the benchmark harness, which cannot stop a
    * shared SparkContext to free one session. */
  def evict(spark: SparkSession): Unit = {
    memos.forEach(_.evict(spark))
    val it = dirs.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue eq spark) { it.remove(); deleteTree(e.getKey) }
    }
  }
}
