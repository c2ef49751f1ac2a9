package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.perfbench.Harness.median

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** Spans for the traced run, recorded from the benchmark side only: one
  * span per pass, per-query `construct` / `plan` / `execute` spans, and
  * job/stage spans built from a SparkListener. Spans of one query share
  * its query id (`<pass>/<query>`), carried to the listener as a Spark
  * local property. Everything is kept in memory and written out at the
  * end of the run. */
final class Tracer(base: SparkSession) {
  private val sc = base.sparkContext
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  private def ms(ns: Long): Double = ms0 + (ns - ns0) / 1e6

  @volatile private var active = false
  private val Timed = Set("construct", "execute")

  final case class Span(kind: String, qid: String, pass: Int, start: Double, end: Double,
                        attrs: Map[String, Any] = Map.empty)
  private val spans = ArrayBuffer.empty[Span]

  final case class JobRec(id: Int, qid: String, phase: String, start: Long, var end: Long)
  final case class StageRec(id: Int, qid: String, phase: String, submit: Long, complete: Long,
                            tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                            shuffleRead: Long, spill: Long, inBytes: Long, inRecords: Long,
                            maxTaskRead: Long)
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageOwner = scala.collection.mutable.Map.empty[Int, (String, String)]
  private val stages = ArrayBuffer.empty[StageRec]
  private val taskRead = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  private val planSpans = ArrayBuffer.empty[(Double, Double, Map[String, Double])]
  @volatile private var events = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      events += 1
      val p = Option(e.properties)
      val qid = p.flatMap(x => Option(x.getProperty("perfbench.qid"))).getOrElse("")
      val phase = p.flatMap(x => Option(x.getProperty("perfbench.phase"))).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, qid, phase, e.time, e.time)
      e.stageInfos.foreach(s => stageOwner(s.stageId) = (qid, phase))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      events += 1
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      events += 1
      if (e.taskMetrics != null)
        taskRead.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskMetrics.shuffleReadMetrics.totalBytesRead
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      events += 1
      val si = e.stageInfo
      val tm = si.taskMetrics
      val (qid, phase) = stageOwner.getOrElse(si.stageId, ("", ""))
      val reads = taskRead.remove(si.stageId).getOrElse(ArrayBuffer.empty[Long])
      if (tm != null) stages += StageRec(si.stageId, qid, phase,
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), si.numTasks,
        tm.executorRunTime, tm.executorCpuTime, tm.jvmGCTime, tm.shuffleWriteMetrics.bytesWritten,
        tm.shuffleReadMetrics.totalBytesRead, tm.memoryBytesSpilled + tm.diskBytesSpilled,
        tm.inputMetrics.bytesRead, tm.inputMetrics.recordsRead, if (reads.isEmpty) 0L else reads.max)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) Tracer.this.synchronized {
        events += 1
        val ph = qe.tracker.phases
        if (ph.nonEmpty)
          planSpans += ((ph.values.map(_.startTimeMs).min.toDouble, ph.values.map(_.endTimeMs).max.toDouble,
            ph.map { case (k, v) => k -> v.durationMs.toDouble }))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  attach(base)

  /** Register the plan-phase listener on a (new) session. */
  def attach(s: SparkSession): Unit = s.listenerManager.register(qeListener)

  def start(): Unit = { sc.addSparkListener(listener); active = true }

  /** Detach and wait until the listener bus has delivered every event. */
  def stop(): Unit = {
    var prev = -1L
    var stable = 0
    var iters = 0
    while (stable < 3 && iters < 100) {
      Thread.sleep(50)
      val now = synchronized(events)
      if (now == prev) stable += 1 else stable = 0
      prev = now
      iters += 1
    }
    active = false
    sc.removeSparkListener(listener)
  }

  def begin(qid: String, phase: String): Unit = {
    sc.setLocalProperty("perfbench.qid", qid)
    sc.setLocalProperty("perfbench.phase", phase)
  }
  def clearPhase(): Unit = begin(null, null)

  private var currentPass = 0
  def beginPass(pass: Int): Unit = currentPass = pass

  /** Close a query: construct is [t0, tc], execute (sink) is [tc, t1].
    * The query's own analysis ran eagerly during construct; it is read
    * from the constructed frame's planning tracker. */
  def end(qid: String, module: String, df: DataFrame, t0: Long, tc: Long, t1: Long): Unit =
    if (active) {
      val analysis = Option(df).flatMap(d => d.queryExecution.tracker.phases.get("analysis"))
        .map(_.durationMs.toDouble).getOrElse(0.0)
      synchronized {
        spans += Span("query", qid, currentPass, ms(t0), ms(t1), Map("module" -> module))
        spans += Span("construct", qid, currentPass, ms(t0), ms(tc), Map("analysis_ms" -> analysis))
        spans += Span("execute", qid, currentPass, ms(tc), ms(t1))
      }
    }

  /** An untimed interval inside a pass (cold-pass hashing). */
  def untimed(t0: Long, t1: Long): Unit =
    if (active) synchronized(spans += Span("untimed", "", currentPass, ms(t0), ms(t1)))

  def endPass(pass: Int, p0: Long, p1: Long): Unit =
    if (active) synchronized(spans += Span("pass", "", pass, ms(p0), ms(p1)))

  // ---- interval arithmetic -------------------------------------------
  private type Iv = scala.collection.Seq[(Double, Double)]
  private def union(xs: Iv): Iv = {
    val s = xs.filter(x => x._2 > x._1).sortBy(_._1)
    val out = ArrayBuffer.empty[(Double, Double)]
    s.foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2) out(out.length - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }
  private def measure(xs: Iv): Double = union(xs).map(x => x._2 - x._1).sum
  private def clip(xs: Iv, lo: Double, hi: Double): Iv =
    xs.map(x => (math.max(x._1, lo), math.min(x._2, hi))).filter(x => x._2 > x._1)
  /** |A \ B| */
  private def minus(a: Iv, b: Iv): Double = measure(a ++ b) - measure(b)

  /** Per-pass layer metrics (median over traced passes) and span self
    * times. Self time is attributed along the deepest active span at each
    * instant (stage > job > plan > construct/execute > query > pass), so a
    * pass's self times sum to its wall time. */
  def layerMetrics(cpus: Int, modules: Seq[String]): Map[String, Double] = synchronized {
    val passes = spans.filter(_.kind == "pass")
    val perPass = passes.map { pspan =>
      val p = pspan.pass
      val lo = pspan.start
      val hi = pspan.end
      val qs = spans.filter(s => s.pass == p && s.kind == "query")
      val qids = qs.map(_.qid).toSet
      val cons = spans.filter(s => s.pass == p && s.kind == "construct")
      val exes = spans.filter(s => s.pass == p && s.kind == "execute")
      val unt = spans.filter(s => s.pass == p && s.kind == "untimed").map(s => (s.start, s.end))
      val pj = jobs.values.filter(j => qids.contains(j.qid) && Timed(j.phase)).toSeq
      val ps = stages.filter(s => qids.contains(s.qid) && Timed(s.phase)).toSeq
      val exeIv = exes.map(s => (s.start, s.end))
      val plansIn = planSpans.filter(x => x._1 >= lo && x._2 <= hi &&
        !unt.exists(u => x._1 >= u._1 - 1 && x._2 <= u._2 + 1)).toSeq
      val plansExe = plansIn.filter(x => exeIv.exists(e => x._1 >= e._1 - 1 && x._2 <= e._2 + 1))
      val stageIv = clip(ps.map(s => (s.submit.toDouble, s.complete.toDouble)), lo, hi)
      val jobIv = clip(pj.map(j => (j.start.toDouble, j.end.toDouble)), lo, hi) ++ stageIv
      val planIv = clip(plansIn.map(x => (x._1, x._2)), lo, hi)
      val consIv = cons.map(s => (s.start, s.end))
      val qIv = qs.map(s => (s.start, s.end))
      val deep = jobIv ++ planIv
      val wall = hi - lo
      val exeStages = ps.filter(_.phase == "execute")
      val exeS = exes.map(s => s.end - s.start).sum / 1e3
      val runS = exeStages.map(_.runMs).sum / 1e3
      val skewStage = exeStages.filter(_.shuffleRead > 0).sortBy(-_.shuffleRead).headOption
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      m("trace.pass_s") = (wall - measure(unt)) / 1e3
      m("trace.self.stage_s") = measure(stageIv) / 1e3
      m("trace.self.job_s") = minus(jobIv, stageIv) / 1e3
      m("trace.self.plan_s") = minus(planIv, jobIv) / 1e3
      m("trace.self.construct_s") = minus(consIv, deep) / 1e3
      m("trace.self.execute_s") = minus(exeIv, deep) / 1e3
      m("trace.self.query_s") = minus(qIv, consIv ++ exeIv ++ deep) / 1e3
      m("trace.self.pass_s") = (wall - measure(qIv ++ deep ++ unt)) / 1e3
      modules.foreach { mod =>
        m(s"operators.$mod.construct_s") =
          cons.filter(s => qs.exists(q => q.qid == s.qid && q.attrs("module") == mod)).map(s => s.end - s.start).sum / 1e3
      }
      val consJobs = pj.filter(_.phase == "construct")
      m("operators.construct_jobs") = consJobs.size
      m("SessionMemos.jobfree_construct_frac") =
        if (cons.isEmpty) 0.0 else cons.count(c => !consJobs.exists(_.qid == c.qid)).toDouble / cons.size
      m("Tables.scan_bytes") = ps.map(_.inBytes).sum.toDouble
      m("Tables.scan_records") = ps.map(_.inRecords).sum.toDouble
      m("plans.analysis_ms") = cons.map(_.attrs.getOrElse("analysis_ms", 0.0).asInstanceOf[Double]).sum +
        plansExe.map(_._3.getOrElse("analysis", 0.0)).sum
      m("plans.optimization_ms") = plansExe.map(_._3.getOrElse("optimization", 0.0)).sum
      m("plans.planning_ms") = plansExe.map(_._3.getOrElse("planning", 0.0)).sum
      m("exec.s") = exeS
      m("exec.jobs") = pj.count(_.phase == "execute")
      m("exec.stages") = exeStages.size
      m("exec.tasks") = exeStages.map(_.tasks).sum
      m("exec.task_cpu_s") = exeStages.map(_.cpuNs).sum / 1e9
      m("exec.cpu_util") = if (exeS > 0) runS / (exeS * cpus) else 0.0
      m("exec.gc_s") = exeStages.map(_.gcMs).sum / 1e3
      m("exec.shuffle_write_bytes") = exeStages.map(_.shuffleWrite).sum.toDouble
      m("exec.shuffle_read_bytes") = exeStages.map(_.shuffleRead).sum.toDouble
      m("exec.spill_bytes") = exeStages.map(_.spill).sum.toDouble
      m("exec.reduce_skew") = skewStage.map(s => s.maxTaskRead / (s.shuffleRead.toDouble / s.tasks)).getOrElse(0.0)
      m("streaming.replay_s") =
        cons.filter(_.qid.split("/", 2)(1).startsWith("q_stream_")).map(s => s.end - s.start).sum / 1e3
      m.toMap
    }
    val keys = perPass.headOption.map(_.keys.toSeq).getOrElse(Seq.empty)
    keys.map(k => k -> median(perPass.map(_(k)).toSeq)).toMap
  }

  /** Per-query plan counts from the traced passes (median over passes):
    * jobs and stages of the sink, jobs run while constructing the frame,
    * and — on cold passes — jobs of the warm re-construct that follows. */
  def queryCounts(): Map[String, Map[String, Double]] = synchronized {
    val byQuery = spans.filter(_.kind == "query").groupBy(_.qid.split("/", 2)(1))
    byQuery.map { case (q, ss) =>
      def med(f: String => Double) = median(ss.map(s => f(s.qid)).toSeq)
      def jobsIn(qid: String, phase: String) = jobs.values.count(j => j.qid == qid && j.phase == phase).toDouble
      q -> Map("jobs" -> med(jobsIn(_, "execute")),
        "stages" -> med(qid => stages.count(st => st.qid == qid && st.phase == "execute").toDouble),
        "construct_jobs" -> med(jobsIn(_, "construct")),
        "warm_construct_jobs" -> med(jobsIn(_, "rebuild")))
    }
  }

  /** Write every span as one JSON line; returns the file name. */
  def writeSpans(path: String): String = synchronized {
    val lines = ArrayBuffer.empty[String]
    def line(fields: (String, Any)*): Unit = lines += Harness.json(ListMap(fields: _*))
    spans.foreach(s => line(Seq("kind" -> s.kind, "qid" -> s.qid, "pass" -> s.pass,
      "start_ms" -> s.start, "end_ms" -> s.end) ++ s.attrs.toSeq: _*))
    jobs.values.foreach(j => line("kind" -> "job", "qid" -> j.qid, "phase" -> j.phase,
      "job" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end))
    stages.foreach(s => line("kind" -> "stage", "qid" -> s.qid, "phase" -> s.phase,
      "stage" -> s.id, "start_ms" -> s.submit, "end_ms" -> s.complete, "tasks" -> s.tasks,
      "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite))
    planSpans.foreach(p => line(Seq("kind" -> "plan", "start_ms" -> p._1, "end_ms" -> p._2) ++ p._3.toSeq: _*))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Paths.get(path).getFileName.toString
  }
}
