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
  def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (!js.stageInfos.exists(_.name.startsWith("parquet at"))) jobs.incrementAndGet()
    }
    org.apache.spark.graftshim.ListenerBusShim.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftshim.ListenerBusShim.drain(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = spark.catalog.clearCache()
}
