package graft

import graft.operators.{SessionMemo, SessionMemos}

/** Lifecycle contract of the session-scoped trained-artifact memos
  * (ADVICE r9): a value is built once per (session, key), entries are
  * evicted when their owning session's application ends, and eviction is
  * scoped to that session — a second session's artifacts survive. The
  * eviction body is exercised directly ([[SessionMemos.evict]] is what
  * the onApplicationEnd listener calls) because stopping the shared test
  * SparkContext would kill every other suite in the JVM.
  */
class MemoLifecycleSpec extends SparkSpec {

  test("SessionMemos.evict drops only the stopped session's entries") {
    val memo = new SessionMemo[String, String]
    val other = spark.newSession()
    var builds = 0
    def build(v: String): String = { builds += 1; v }
    for (_ <- 1 to 2) {
      assert(memo.memo(spark, "a")(build("mine")) == "mine")
      assert(memo.memo(other, "a")(build("theirs")) == "theirs")
      assert(memo.memo(other, "b")(build("theirs too")) == "theirs too")
    }
    assert(builds == 3, s"expected one build per (session, key), got $builds")
    SessionMemos.evict(other)
    assert(memo.get(spark, "a").contains("mine"))
    assert(memo.get(other, "a").isEmpty)
    assert(memo.get(other, "b").isEmpty)
    assert(memo.memo(spark, "a")(build("rebuilt")) == "mine")
    assert(memo.memo(other, "a")(build("rebuilt")) == "rebuilt")
    assert(builds == 4, s"expected only the evicted key to rebuild, got $builds builds")
  }

  test("evict deletes the evicted session's artifact temp dirs, not others' (ADVICE r11)") {
    import java.nio.file.{Files, Paths}
    val other = spark.newSession()
    val mine = Paths.get(SessionMemos.tempDir(spark, "graft-lifecycle-mine"))
    val theirs = Paths.get(SessionMemos.tempDir(other, "graft-lifecycle-theirs"))
    Files.write(mine.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    Files.write(theirs.resolve("part-0.parquet"), Array[Byte](4, 5))
    // the same contract through a `dir` memo: the value is the directory
    val memo = new SessionMemo[String, String]
    var builds = 0
    def write(d: String): Unit = {
      builds += 1
      Files.write(Paths.get(d, "part-0.parquet"), Array[Byte](6))
    }
    val mineMemo = Paths.get(memo.dir(spark, "k", "graft-lifecycle-memo")(write))
    val theirsMemo = Paths.get(memo.dir(other, "k", "graft-lifecycle-memo")(write))
    assert(memo.dir(spark, "k", "graft-lifecycle-memo")(write) == mineMemo.toString)
    assert(builds == 2, s"expected one dir build per session, got $builds")
    assert(Files.exists(mineMemo.resolve("part-0.parquet")))
    SessionMemos.evict(other)
    assert(Files.exists(mine), "surviving session's artifact dir was deleted")
    assert(!Files.exists(theirs), "evicted session's artifact dir leaked")
    assert(Files.exists(mineMemo), "surviving session's memo dir was deleted")
    assert(!Files.exists(theirsMemo), "evicted session's memo dir leaked")
    assert(memo.get(spark, "k").contains(mineMemo.toString))
    assert(memo.get(other, "k").isEmpty)
    SessionMemos.evict(spark)
    assert(!Files.exists(mine))
    assert(!Files.exists(mineMemo))
    assert(memo.get(spark, "k").isEmpty)
  }

  test("a trained-artifact memo repopulates after eviction with identical results") {
    // the real path: k-means centroids are memoized per (session, sfDir);
    // evicting and re-running must retrain to bit-identical assignments
    import spark.implicits._
    val before = graft.operators.Similarity.kmeans(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    SessionMemos.evict(spark)
    val after = graft.operators.Similarity.kmeans(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(before == after, "post-eviction retrain diverged from the memoized run")
  }

  test("every session memo is a SessionMemo: no hand-rolled maps in src/main") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root; no $root here")
    val walk = Files.walk(root)
    val sources = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.exists(_.endsWith("SessionMemos.scala")))
    def hits(p: Path, pattern: String): Seq[String] =
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if l.contains(pattern) => s"$p:${i + 1}: ${l.trim}"
      }.toSeq
    val rawMaps = sources.filterNot(_.endsWith("SessionMemos.scala"))
      .flatMap(p => hits(p, "ConcurrentHashMap") ++ hits(p, "computeIfAbsent"))
    assert(rawMaps.isEmpty,
      s"hand-rolled memo outside SessionMemos.scala (use SessionMemo):\n${rawMaps.mkString("\n")}")
    val armed = sources.flatMap(p => hits(p, "SessionMemos.arm"))
    assert(armed.isEmpty, s"SessionMemos.arm is gone:\n${armed.mkString("\n")}")
  }
}
