package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one per test JVM — sbt forks a
  * single JVM for the Test config) plus the sf0.001 smoke-data location.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    // the whole suite runs on the same factory as Bench and Verify, so the
    // library's extensions are installed the idiomatic way — functions,
    // optimizer rules, planner strategies
    val s = Session.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = SparkSpec.sf

  /** Runs `df` (collect) and returns the physical plan it actually ran:
    * AQE's final plan, with every stage re-planned and every query-stage
    * rule applied, rather than the initial plan `explain` shows. */
  def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
  }

  /** Runs `body` with `confs` set on the shared session, then restores
    * each key's previous value (or unsets it). */
  def withConf[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.reverse.foreach {
      case (k, Some(p)) => spark.conf.set(k, p)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Number of Spark jobs `body` launches on the shared context, not
    * counting parquet footer/schema reads (stages named "parquet at …"),
    * which depend on what earlier tests already read. */
  def jobsDuring(body: => Any): Int =
    jobsWhere(js => !js.stageInfos.exists(_.name.startsWith("parquet at")))(body)

  /** Number of Spark jobs `body` launches on the shared context, parquet
    * schema and write jobs included. */
  def allJobsDuring(body: => Any): Int = jobsWhere(_ => true)(body)

  private def jobsWhere(counted: org.apache.spark.scheduler.SparkListenerJobStart => Boolean)
                       (body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (counted(js)) jobs.incrementAndGet()
    }
    org.apache.spark.graftshim.ListenerBusShim.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftshim.ListenerBusShim.drain(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  /** The command lines of the operating-system processes the JVM starts
    * while `body` runs: the `jdk.ProcessStart` events of a JFR recording
    * around it. Two background starts land in whichever window they
    * happen to fall and are left out: Spark's `rm -rf` of a collected
    * session's artifact directory (a Cleaner runs it when the session
    * object is garbage-collected) and the executor metrics' one-time
    * `getconf PAGESIZE`. */
  def processesDuring(body: => Any): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    val dump = java.nio.file.Files.createTempFile("graft-processes", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
        .filterNot(c => c == "getconf PAGESIZE" || (c.startsWith("rm -rf ") && c.contains("/artifacts-")))
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(dump)
    }
  }

  override def afterAll(): Unit = spark.catalog.clearCache()
}
