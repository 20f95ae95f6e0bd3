package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.meta.{AuditLogger, DqMetricRow, MetadataManager}

/** One traced interval. Times are epoch milliseconds (fractional), so
  * they compare directly with Spark's job submission/completion times.
  */
final class Span(val id: Int, val name: String, val kind: String,
    val parent: Int, val depth: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  /** Metadata rows a `meta` span wrote (audit rows, control rows, ...). */
  var rows: Long = 0L
  def wallS: Double = (endMs - startMs) / 1e3
  def contains(t: Double): Boolean = t >= startMs && t <= endMs
}

/** Per-job record filled by [[JobListener]]. */
final class JobRec(val id: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  /** Module of the first engine frame on the call site (see [[Tracer.module]]). */
  var module: String = "other"
  /** Innermost span open when the job was submitted, or -1. */
  var span: Int = -1
}

/** Collects every Spark job's interval and task metrics. Jobs are tied
  * to spans by submission time afterwards, not by the submitting
  * thread: adaptive query execution submits many jobs from pool
  * threads that carry no engine frame at all.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val execDetails = mutable.HashMap.empty[Long, String]
  @volatile var enabled = true

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execDetails(s.executionId) = s.details
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (enabled) {
      val execId = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val result = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val j = new JobRec(e.jobId, e.time.toDouble)
      // the SQL execution's call site was captured on the thread that
      // ran the action; the result stage's is the submitting thread's
      val site = execId.flatMap(execDetails.get).filter(Tracer.module(_) != "other")
        .getOrElse(result)
      j.module = Tracer.module(site)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageToJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.taskCpuNs += m.executorCpuTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
    }
  }

  def clear(): Unit = synchronized { jobs.clear(); stageToJob.clear() }
}

/** In-memory span recorder. Spans are opened on the driver thread that
  * runs the workload; [[overheadS]] is the time spent inside the
  * recorder itself (span bookkeeping and the traced subclasses'
  * wrappers), which is the tracing overhead on the driver's critical
  * path.
  */
final class Tracer(val runId: String) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var overheadNs = 0L
  def overheadS: Double = overheadNs / 1e9
  def addOverheadNs(ns: Long): Unit = synchronized { overheadNs += ns }

  def span[T](name: String, kind: String)(body: => T): T = {
    val s = open(name, kind)
    try body finally close(s)
  }

  def open(name: String, kind: String): Span = synchronized {
    val o0 = System.nanoTime()
    val s = new Span(spans.size, name, kind, stack.headOption.map(_.id).getOrElse(-1),
      stack.size, nowMs())
    spans += s
    stack = s :: stack
    overheadNs += System.nanoTime() - o0
    s
  }

  def close(s: Span): Unit = synchronized {
    val o0 = System.nanoTime()
    s.endMs = nowMs()
    stack = stack.dropWhile(_ ne s).drop(1)
    overheadNs += System.nanoTime() - o0
  }

  /** Innermost span containing `t`, or -1. */
  def innermostAt(t: Double): Int = {
    var best: Span = null
    spans.foreach { s =>
      if (!s.endMs.isNaN && s.contains(t) && (best == null || s.depth > best.depth)) best = s
    }
    if (best == null) -1 else best.id
  }

  def descendantsOrSelf(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => go(s.id))
    go(root.id).toSet
  }

  def toJsonLines(jobsBySpan: Map[Int, Seq[JobRec]]): Seq[String] = spans.toSeq.map { s =>
    val js = jobsBySpan.getOrElse(s.id, Nil)
    Json.obj(Seq("run_id" -> runId, "id" -> s.id, "name" -> s.name, "kind" -> s.kind,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "jobs" -> js.size, "task_cpu_s" -> js.map(_.taskCpuNs).sum / 1e9,
      "job_modules" -> js.groupBy(_.module).map { case (k, v) => k -> v.size }))
  }
}

object Tracer {
  /** Engine module of the first `graft.` frame in a long-form call site,
    * named after the benchmark's layers. Sub-label only: spans decide
    * which step a job belongs to.
    */
  def module(callSite: String): String = {
    val frame = Option(callSite).getOrElse("").split("\n").iterator.map(_.trim)
      .find(_.startsWith("graft.")).getOrElse("")
    val cls = frame.takeWhile(_ != '(').split('.').dropRight(1).mkString(".")
      .replace("$", "")
    cls match {
      case "" => "other"
      case c if c.startsWith("graft.dq.") => "dq"
      case "graft.io.Sources" => "io.source"
      case "graft.io.Sinks" | "graft.io.Upsert" | "graft.io.Scd2" => "io.sink"
      case c if c.startsWith("graft.io.") && c.endsWith("Store") => "io.store"
      case "graft.io.Maintenance" | "graft.io.ZoneMaps" => "io.maintenance"
      case c if c.startsWith("graft.io.") => "io.sink"
      case c if c.startsWith("graft.operators.") => "operators"
      case c if c.startsWith("graft.meta.") => "meta"
      case c if c.startsWith("graft.layers.") => "layers"
      case c if c.startsWith("graft.pipeline.") => "pipeline"
      case c if c.startsWith("graft.queries.") => "queries"
      case _ => "other"
    }
  }

  /** Clipped union length (ms) of job intervals inside [lo, hi]. */
  def unionMs(jobs: Seq[JobRec], lo: Double, hi: Double): Double = {
    val iv = jobs.map(j => (math.max(j.startMs, lo), math.min(j.endMs, hi)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Metadata manager whose public methods open `meta` spans. */
final class TracedMetadataManager(spark: SparkSession, tracer: Tracer)
  extends MetadataManager(spark) {
  private def meta[T](name: String, rows: Long)(body: => T): T = {
    val s = tracer.open(name, "meta")
    s.rows = rows
    try body finally tracer.close(s)
  }
  override def init(): Unit = meta("meta.init", 0)(super.init())
  override def updateDictionary(tableName: String, modelId: String,
      description: String): Unit =
    meta("meta.dictionary", 1)(super.updateDictionary(tableName, modelId, description))
  override def recordDqMetrics(rows: Seq[DqMetricRow]): Unit =
    meta("meta.dq_metrics", rows.size)(super.recordDqMetrics(rows))
  override def updateControl(tableName: String, layer: String, runDate: String,
      records: Long, status: String, configSnapshot: String): Unit =
    meta("meta.update_control", 1)(
      super.updateControl(tableName, layer, runDate, records, status, configSnapshot))
  override def lastRunDate(tableName: String, layer: String): Option[String] =
    meta("meta.watermark_read", 0)(super.lastRunDate(tableName, layer))
  override def controlReport(layer: String): DataFrame =
    meta("meta.control_report", 0)(super.controlReport(layer))
}

/** Audit logger whose step brackets open `step` spans and whose events
  * open `meta.audit_event` spans.
  */
final class TracedAuditLogger(spark: SparkSession, meta: MetadataManager,
    tracer: Tracer) extends AuditLogger(spark, meta) {
  override def event(layer: String, operation: String, component: String,
      sourceId: String, targetTable: String, status: String, rows: Long,
      error: String, seconds: Double): Unit = {
    val s = tracer.open("meta.audit_event", "meta")
    s.rows = 1
    try super.event(layer, operation, component, sourceId, targetTable, status,
      rows, error, seconds)
    finally tracer.close(s)
  }
  override def bracket[T](layer: String, operation: String, component: String,
      sourceId: String, targetTable: String)(body: => (T, Long)): T =
    tracer.span(s"step.$layer.$sourceId", "step")(
      super.bracket(layer, operation, component, sourceId, targetTable)(body))
}
