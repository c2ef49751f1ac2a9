package graft

import org.apache.spark.sql.functions._

/** The spark.sql.extensions entry point must make every graft extension
  * available with NO runtime registration calls — the shared test session
  * (SparkSpec) is built by `graft.Session.builder`, which loads
  * `graft.GraftExtensions` via config.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("injected SQL functions work without runtime registration") {
    assert(spark.sql("SELECT graft_dot(array(1D,2D), array(3D,4D)) d").head.getDouble(0) == 11.0)
    assert(spark.sql(
      "SELECT size(graft_shingle_hashes('a b c d')) n").head.getInt(0) == 2)
    assert(spark.sql(
      "SELECT size(graft_minhash_bands(graft_shingle_hashes('a b c d'))) n").head.getInt(0) == 16)
    assert(spark.sql(
      "SELECT graft_jaccard_sorted(array(1L,2L,3L), array(2L,3L,4L)) j").head.getDouble(0) == 0.5)
  }

  test("injected optimizer rule rewrites window top-k without experimental hooks") {
    Tables.events(spark, sf).createOrReplaceTempView("ev_ext")
    val df = spark.sql(
      """SELECT user_id, rn, event_id FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        |  FROM ev_ext) t
        |WHERE rn <= 3""".stripMargin)
    assert(df.queryExecution.optimizedPlan.exists(_.isInstanceOf[graft.plans.GroupTopK]),
      s"expected GroupTopK in:\n${df.queryExecution.optimizedPlan}")
    // and the strategy plans it: the query actually runs
    assert(df.count() > 0)
  }

  test("sessions are armed once: one builder, no runtime re-arming in src/main") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root; no $root here")
    val walk = Files.walk(root)
    val sources = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.exists(_.endsWith("graft/Session.scala")))
    def hits(ps: Seq[Path], pattern: scala.util.matching.Regex): Seq[String] =
      ps.flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if pattern.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}"
      })
    val builders = hits(sources.filterNot(_.endsWith("graft/Session.scala")),
      """SparkSession\.builder""".r)
    assert(builders.isEmpty,
      s"SparkSession built outside graft.Session (use Session.builder):\n${builders.mkString("\n")}")
    val rearmed = hits(sources, """experimental\.extra\w+\s*[:+]*=(?!=)""".r)
    assert(rearmed.isEmpty,
      s"runtime strategy/rule append (GraftExtensions injects it):\n${rearmed.mkString("\n")}")
    val operatorCode = sources.filter { p =>
      val s = root.relativize(p).toString
      Seq("graft/operators/", "graft/streaming/", "graft/plans/").exists(s.startsWith) ||
        s == "graft/Tables.scala"
    }
    val confWrites = hits(operatorCode, """conf\.(set|unset)\(""".r)
    assert(confWrites.isEmpty,
      s"operator or loader changes the session conf:\n${confWrites.mkString("\n")}")
    // the file-system keys and the session clone that carries them are
    // set in one place: Session (builder and localIo), through graftshim
    val fsPattern = """fs\.file\.impl|fs\.AbstractFileSystem|cloneSession""".r
    val (arming, others) = sources.partition { p =>
      p.endsWith("graft/Session.scala") || p.toString.contains("/graftshim/")
    }
    assert(hits(arming, fsPattern).nonEmpty, "the guard's pattern matches nothing in graft.Session")
    val fsArming = hits(others, fsPattern)
    assert(fsArming.isEmpty,
      s"file-system keys or a session clone outside graft.Session:\n${fsArming.mkString("\n")}")
    val tempFns = hits(sources, """createOrReplaceTempFunction""".r)
    assert(tempFns.isEmpty,
      s"runtime SQL-function registration (GraftExtensions injects it):\n${tempFns.mkString("\n")}")
  }
}
