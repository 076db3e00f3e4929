package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are seconds since the epoch; `parent` is the
  * id of the span that caused this one (0 for a pass).
  */
final case class Span(id: Long, parent: Long, kind: String, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** In-memory tracing for the traced run: spans pass → operation → build /
  * plan phases → job → stage, plus the Spark runtime counters at the same
  * boundaries. The benchmark opens pass, operation and build spans around
  * its calls into the program; plan phases come from each QueryExecution's
  * tracker through a QueryExecutionListener, jobs and stages from a
  * SparkListener. A job belongs to the operation whose span id is its job
  * group. Nothing is recorded until `start`, and everything is resolved
  * into spans and per-layer numbers only at `finish`.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Double = (epochNs + System.nanoTime()) / 1e9

  private var nextId = 0L
  private val own = mutable.ArrayBuffer[Span]()
  private val open = mutable.Map[Long, (Long, String, String, Double)]()

  /** Opens a span; a no-op returning 0 while tracing is off. */
  def begin(kind: String, name: String, parent: Long): Long =
    if (!on) 0L else synchronized {
      nextId += 1
      open(nextId) = (parent, kind, name, now())
      nextId
    }

  def end(id: Long): Unit = if (id != 0L) synchronized {
    open.remove(id).foreach { case (p, k, n, s) => own += Span(id, p, k, n, s, now()) }
  }

  // raw events, resolved at finish
  private final case class Job(id: Int, group: Option[String], start: Double, stages: Seq[Int], var end: Double)
  private final class StageAgg {
    var tasks, failed = 0L
    var runMs, cpuNs, gcMs, shW, shR, spill, out, outR, inB, inR = 0L
  }
  private val jobs = mutable.Map[Int, Job]()
  private val stages = mutable.ArrayBuffer[(StageInfo, Double, Double)]()
  private val stageAgg = mutable.Map[Int, StageAgg]()
  private val phases = mutable.ArrayBuffer[Span]()
  private val scanned = mutable.ArrayBuffer[(Double, Long)]() // (planned at, scan time ms)
  private var compile0, compilePaused = 0L
  @volatile private var on = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = Job(e.jobId, g, e.time / 1e3, e.stageIds, e.time / 1e3)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time / 1e3)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stages += ((i, s / 1e3, c / 1e3))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      if (!e.taskInfo.successful) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.shW += m.shuffleWriteMetrics.bytesWritten; a.shR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled; a.out += m.outputMetrics.bytesWritten
        a.outR += m.outputMetrics.recordsWritten
        a.inB += m.inputMetrics.bytesRead; a.inR += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val ps = qe.tracker.phases.toSeq.collect {
      case (name, p) if name != "parsing" =>
        Span(0L, -1L, "plan", name, p.startTimeMs / 1e3, p.endTimeMs / 1e3)
    }
    val ms = scans(qe.executedPlan).map(_.metrics.get("scanTime").map(_.value).getOrElse(0L)).sum
    synchronized {
      phases ++= ps
      if (ps.nonEmpty) scanned += ((ps.map(_.end).max, ms))
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    compile0 = CodeGenerator.compileTime
    on = true
  }

  /** Runs `body` with recording paused: it opens no spans, and its jobs,
    * stages, plans and code generation count in no span or total.
    */
  def paused[T](body: => T): T = {
    val was = on
    on = false
    val c0 = CodeGenerator.compileTime
    try body finally {
      compilePaused += CodeGenerator.compileTime - c0
      on = was
    }
  }

  /** Stops recording and resolves the trace: every span with its id and
    * parent, and the per-layer totals keyed by metric name.
    */
  def finish(): (Seq[Span], Map[String, Double]) = {
    on = false
    val compileS = (CodeGenerator.compileTime - compile0 - compilePaused) / 1e9
    Bus.drain(sc)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
    synchronized {
      val ops = own.filter(_.kind == "op")
      def opAt(t: Double): Long = ops.find(o => o.start <= t && t <= o.end).map(_.id).getOrElse(-1L)
      val opIds = ops.map(_.id).toSet
      // the job group names the operation; a job without one is placed by time
      val jobSpans = jobs.values.toSeq.sortBy(_.id).flatMap { j =>
        val parent = j.group.flatMap(_.toLongOption).filter(opIds).getOrElse(opAt(j.start))
        if (parent < 0) None
        else { nextId += 1; Some(j -> Span(nextId, parent, "job", s"job ${j.id}", j.start, j.end)) }
      }
      val jobOfStage = jobSpans.flatMap { case (j, s) => j.stages.map(_ -> s.id) }.toMap
      val stageSpans = stages.toSeq.flatMap { case (i, s, c) =>
        jobOfStage.get(i.stageId).map { p =>
          nextId += 1; Span(nextId, p, "stage", s"stage ${i.stageId}", s, c)
        }
      }
      val planSpans = phases.toSeq.flatMap { p =>
        val parent = opAt(p.start)
        if (parent < 0) None else { nextId += 1; Some(p.copy(id = nextId, parent = parent)) }
      }
      val all = own.toSeq ++ jobSpans.map(_._2) ++ stageSpans ++ planSpans
      val agg = jobOfStage.keys.toSeq.flatMap(stageAgg.get)
      def total(f: StageAgg => Long): Double = agg.map(f).sum.toDouble
      val passes = all.filter(_.kind == "pass")
      val stageWall = passes.map(p => p.dur - covered(p, stageSpans)).sum
      val m = mutable.LinkedHashMap[String, Double](
        "exec.jobs" -> jobSpans.size, "exec.stages" -> stageSpans.size,
        "exec.tasks" -> total(_.tasks), "exec.failed_tasks" -> total(_.failed),
        "exec.task_run_s" -> total(_.runMs) / 1e3, "exec.task_cpu_s" -> total(_.cpuNs) / 1e9,
        "exec.gc_s" -> total(_.gcMs) / 1e3,
        "exec.shuffle_write_mb" -> total(_.shW) / 1e6, "exec.shuffle_read_mb" -> total(_.shR) / 1e6,
        "exec.spill_mb" -> total(_.spill) / 1e6, "exec.output_mb" -> total(_.out) / 1e6,
        "exec.driver_s" -> stageWall,
        "tables.scan_s" -> scanned.collect { case (t, ms) if opAt(t) >= 0 => ms }.sum / 1e3,
        "tables.input_mb" -> total(_.inB) / 1e6,
        "tables.rows_read" -> total(_.inR),
        "sink.write_s" -> stageSpans.filter(s => stageAgg.get(stageOf(s)).exists(_.out > 0)).map(_.dur).sum,
        "sink.rows" -> total(_.outR), "sink.bytes" -> total(_.out),
        "plan.codegen_compile_s" -> compileS)
      for (ph <- Seq("analysis", "optimization", "planning"))
        m(s"plan.${ph}_s") = planSpans.filter(_.name == ph).map(_.dur).sum
      val kids = all.groupBy(_.parent)
      for (k <- Seq("pass", "op", "build", "plan", "job", "stage"))
        m(s"self.${k}_s") = all.filter(_.kind == k).map(s => s.dur - covered(s, kids.getOrElse(s.id, Nil))).sum
      (all, m.toMap)
    }
  }

  private def stageOf(s: Span): Int = s.name.stripPrefix("stage ").toInt

  /** Length of the part of `s` that the union of `children` covers. */
  private def covered(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (c.start max s.start, c.end min s.end)).filter(x => x._2 > x._1).sortBy(_._1)
    var sum, curS, curE = 0.0
    var first = true
    iv.foreach { case (a, b) =>
      if (first || a > curE) { if (!first) sum += curE - curS; curS = a; curE = b; first = false }
      else curE = curE max b
    }
    if (!first) sum += curE - curS
    sum
  }
}
