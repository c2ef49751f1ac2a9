package graft

import java.net.URI
import java.nio.file.Files
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import graft.operators.SessionMemos

/** `graft.io`'s fork-free local file system: the same files, modes and
  * checksums as Hadoop's stock local file system, no process starts, and
  * explicit answers for what `java.nio` cannot do (symbolic links, the
  * sticky bit). Then the queries whose local I/O goes through it: the
  * streaming replays (in their own clone, whoever built the session) and
  * a memo store written by a factory-built session.
  */
class LocalIoSpec extends SparkSpec {

  private def withTempDir[T](body: java.nio.file.Path => T): T = {
    val d = Files.createTempDirectory("graft-localio")
    try body(d) finally org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  private def initialized[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def hpath(p: java.nio.file.Path): Path = new Path(p.toUri)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(s: String): FsPermission = new FsPermission(Integer.parseInt(s, 8).toShort)

  test("mkdirs and create give the same modes as the stock raw local file system") {
    withTempDir { d =>
      val layouts = Seq("stock" -> initialized(new RawLocalFileSystem),
        "forkfree" -> initialized(new ForkFreeRawLocalFileSystem)).map { case (name, fs) =>
        val base = d.resolve(name)
        fs.mkdirs(hpath(base.resolve("a/b")))
        fs.create(hpath(base.resolve("a/b/f"))).close()
        fs.mkdirs(hpath(base.resolve("m")), octal("750"))
        fs.create(hpath(base.resolve("m/g")), octal("640"), false, 4096, 1.toShort, 1L << 20, null).close()
        Seq("a", "a/b", "a/b/f", "m", "m/g").map(r => r -> Files.getPosixFilePermissions(base.resolve(r)))
      }
      assert(layouts(0) == layouts(1))
      assert(mode(d.resolve("forkfree/m")) == Integer.parseInt("750", 8))
    }
  }

  test("checksummed FileSystem: .crc siblings, rename, delete and listStatus as the stock one") {
    withTempDir { d =>
      val observed = Seq("stock" -> initialized(new org.apache.hadoop.fs.LocalFileSystem),
        "forkfree" -> initialized(new ForkFreeLocalFileSystem)).map { case (name, fs) =>
        val base = d.resolve(name)
        val out = fs.create(hpath(base.resolve("x")))
        out.write("graft".getBytes("UTF-8"))
        out.close()
        val written = Files.exists(base.resolve(".x.crc"))
        fs.rename(hpath(base.resolve("x")), hpath(base.resolve("y")))
        val renamed = (Files.exists(base.resolve("y")), Files.exists(base.resolve(".y.crc")),
          Files.exists(base.resolve("x")), Files.exists(base.resolve(".x.crc")))
        val listed = fs.listStatus(hpath(base)).map(s => (s.getPath.getName, s.getLen)).toSeq
        val in = fs.open(hpath(base.resolve("y")))
        val back = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        fs.delete(hpath(base.resolve("y")), false)
        val deleted = (Files.exists(base.resolve("y")), Files.exists(base.resolve(".y.crc")))
        (written, renamed, listed, back, deleted)
      }
      assert(observed(0) == observed(1))
      assert(observed(1) == ((true, (true, true, false, false), Seq("y" -> 5L), "graft", (false, false))))
    }
  }

  test("getFileLinkStatus is getFileStatus for a regular file; symbolic links fail loudly") {
    withTempDir { d =>
      val fs = initialized(new ForkFreeRawLocalFileSystem)
      val f = hpath(d.resolve("f"))
      val out = fs.create(f)
      out.write(1)
      out.close()
      for (p <- Seq(f, hpath(d))) {
        val link = fs.getFileLinkStatus(p)
        val plain = fs.getFileStatus(p)
        assert(link.getPath == plain.getPath && link.getLen == plain.getLen &&
          link.isDirectory == plain.isDirectory && !link.isSymlink &&
          link.getModificationTime == plain.getModificationTime)
      }
      intercept[java.io.IOException](fs.getLinkTarget(f)) // not a link, as in the stock call
      val ln = d.resolve("ln")
      Files.createSymbolicLink(ln, d.resolve("f"))
      intercept[UnsupportedOperationException](fs.getFileLinkStatus(hpath(ln)))
      intercept[UnsupportedOperationException](fs.getLinkTarget(hpath(ln)))
      assert(!fs.supportsSymlinks())
      intercept[UnsupportedOperationException](fs.createSymlink(f, hpath(d.resolve("ln2")), false))
      assert(!Files.exists(d.resolve("ln2"), java.nio.file.LinkOption.NOFOLLOW_LINKS))
    }
  }

  test("the nine rwx bits are set without a process; a sticky-bit mode is set exactly") {
    withTempDir { d =>
      val fs = initialized(new ForkFreeRawLocalFileSystem)
      val (plain, sticky) = (d.resolve("plain"), d.resolve("sticky"))
      Seq(plain, sticky).foreach(p => fs.mkdirs(hpath(p)))
      assert(processesDuring(fs.setPermission(hpath(plain), octal("751"))).isEmpty)
      assert(mode(plain) == Integer.parseInt("751", 8))
      fs.setPermission(hpath(sticky), octal("1777"))
      assert(mode(sticky) == Integer.parseInt("1777", 8))
    }
  }

  test("FileSystem and FileContext I/O start no process on graft.io; the stock file systems do") {
    def exercise(conf: Configuration, base: java.nio.file.Path): (Seq[String], FileSystem) = {
      val fs = FileSystem.get(URI.create("file:///"), conf)
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      val n = processesDuring {
        fs.mkdirs(hpath(base.resolve("d")))
        fs.create(hpath(base.resolve("d/f"))).close()
        fc.mkdir(hpath(base.resolve("c")), FsPermission.getDirDefault, true)
        fc.create(hpath(base.resolve("c/g")), EnumSet.of(CreateFlag.CREATE)).close()
        fc.create(hpath(base.resolve("c/h")), EnumSet.of(CreateFlag.CREATE)).close()
        fc.rename(hpath(base.resolve("c/g")), hpath(base.resolve("c/h")), Options.Rename.OVERWRITE)
        fs.getFileLinkStatus(hpath(base.resolve("d/f")))
      }
      assert(Files.exists(base.resolve("c/h")) && !Files.exists(base.resolve("c/g")))
      (n, fs)
    }
    withTempDir { d =>
      val stockConf = new Configuration()
      stockConf.setBoolean("fs.file.impl.disable.cache", true)
      val (stock, _) = exercise(stockConf, d.resolve("stock"))
      assert(stock.nonEmpty, "the stock local file systems started no process: this test shows nothing")
      // the factory-built session's Hadoop conf carries graft.io's keys
      val ours = new Configuration(spark.sparkContext.hadoopConfiguration)
      ours.setBoolean("fs.file.impl.disable.cache", true)
      val (n, fs) = exercise(ours, d.resolve("forkfree"))
      assert(fs.isInstanceOf[ForkFreeLocalFileSystem])
      assert(FileContext.getFileContext(URI.create("file:///"), ours).getDefaultFileSystem
        .isInstanceOf[ForkFreeLocalFs])
      assert(n.isEmpty, s"graft.io started ${n.size} processes: ${n.mkString("; ")} (stock: ${stock.size})")
    }
  }

  private val replays = Seq("q_watermark_windows", "q_stream_dedup", "q_stream_enrich",
    "q_stream_funnel", "q_stream_stream_join", "q_stream_stream_outer", "q_stream_sessions")

  private def withFreshSession[T](body: SparkSession => T): T = {
    val s = spark.newSession()
    try body(s) finally SessionMemos.evict(s)
  }

  test("constructing each streaming replay in a fresh session starts no process and sets no fs key") {
    withFreshSession { s =>
      replays.foreach { q =>
        val n = processesDuring(SparkEntry.queries(q)(s, sf))
        assert(n.isEmpty, s"$q started ${n.size} processes: ${n.mkString("; ")}")
      }
      val fsKeys = s.conf.getAll.keys.filter(_.startsWith("fs."))
      assert(fsKeys.isEmpty, s"a replay left keys on the caller's session: ${fsKeys.mkString(", ")}")
    }
  }

  test("a replay starts no process in a session whose conf selects the stock local file system") {
    withFreshSession { s =>
      Seq("fs.file.impl" -> "org.apache.hadoop.fs.LocalFileSystem",
        "fs.AbstractFileSystem.file.impl" -> "org.apache.hadoop.fs.local.LocalFs",
        "fs.file.impl.disable.cache" -> "true").foreach { case (k, v) => s.conf.set(k, v) }
      val conf0 = s.conf.getAll
      withTempDir { d =>
        val stock = processesDuring(s.range(10).write.parquet(d.resolve("w").toString))
        assert(stock.nonEmpty, "a write in the stock-armed session started no process: this test shows nothing")
      }
      val n = processesDuring(SparkEntry.queries("q_stream_sessions")(s, sf).collect())
      assert(n.isEmpty, s"q_stream_sessions started ${n.size} processes: ${n.mkString("; ")}")
      assert(s.conf.getAll == conf0, "the replay changed the caller's conf")
    }
  }

  test("constructing q_bm25_served in a fresh session writes its memo store without a process") {
    withFreshSession { s =>
      val n = processesDuring(SparkEntry.queries("q_bm25_served")(s, sf))
      assert(n.isEmpty, s"q_bm25_served started ${n.size} processes: ${n.mkString("; ")}")
    }
  }
}
