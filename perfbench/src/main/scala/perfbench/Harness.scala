package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Options the launcher (`run.py`) passes to the JVM. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, launchMs: Long, repo: String, work: String, out: String,
    tiny: Boolean)

/** A measured operation: one dated pipeline run or one query, in the
  * timed cycle `cycle`.
  */
final case class OpResult(kind: String, name: String, cycle: Int, wallS: Double,
    cpuS: Double, ok: Boolean, error: String, load1: Double)

/** One timed cycle: its wall time, the Spark task CPU of its jobs and,
  * when traced, its per-layer metrics.
  */
final case class Cycle(wallS: Double, taskCpuS: Double, sparkJobs: Int,
    layers: Map[String, Double])

/** What a workload hands back to [[Harness]]. `runLayers` are per-layer
  * metrics of the run as a whole rather than of one cycle.
  */
final case class WorkloadResult(setupS: Double, ops: Seq[OpResult], cycles: Seq[Cycle],
    runLayers: Map[String, Double], extra: Map[String, Any])

object Harness {
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("launch-ms").toLong, kv("repo"), kv("work"), kv("out"),
      kv.get("scale").contains("tiny"))
    val ambientLoad1 = load1()
    val listener = new JobListener
    val result = opts.workload match {
      case "sales_daily" => new SalesDaily(opts, listener).run()
      case "operator_queries" => new OperatorQueries(opts, listener).run()
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val stamps = Map(
      "load1_ambient" -> ambientLoad1, "load1_end" -> load1(), "nproc" -> nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20), "seed" -> opts.seed,
      "workload" -> opts.workload, "trace" -> opts.trace,
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION)
    // the launcher turns cycles into metrics after its own output
    // checks, so that a failed op never counts as a timing
    val json = Json.obj(Seq(
      "setup_s" -> result.setupS,
      "ops" -> result.ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
        "cycle" -> o.cycle, "wall_s" -> o.wallS, "cpu_s" -> o.cpuS, "ok" -> o.ok,
        "error" -> o.error, "load1" -> o.load1)),
      "cycles" -> result.cycles.map(c => Map("wall_s" -> c.wallS,
        "task_cpu_s" -> c.taskCpuS, "spark_jobs" -> c.sparkJobs, "layers" -> c.layers)),
      "run_layers" -> result.runLayers, "stamps" -> stamps, "extra" -> result.extra))
    Files.writeString(Paths.get(opts.out), json)
  }

  def session(opts: Opts, warehouse: String, listener: JobListener): SparkSession = {
    val spark = SparkSession.builder()
      .appName(s"perfbench-${opts.workload}")
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(listener)
    spark
  }

  /** Waits until every queued listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def load1(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Logs a phase boundary with the seconds since the launcher started the JVM. */
  def mark(opts: Opts, phase: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - opts.launchMs) / 1e3}%.2f s $phase")

  def sinceS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `op`, timing wall and process CPU; a throw becomes a failed op. */
  def timed(kind: String, name: String, cycle: Int)(op: => Unit): OpResult = {
    val l = load1()
    val c0 = processCpuS()
    val t0 = System.nanoTime()
    val err = try { op; "" } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    }
    OpResult(kind, name, cycle, sinceS(t0), processCpuS() - c0, err.isEmpty, err, l)
  }

  /** Appends a traced cycle's spans to `<out>.trace.jsonl`. */
  def writeTrace(opts: Opts, t: Tracer, jobs: Seq[JobRec]): Unit =
    Files.write(Paths.get(opts.out.stripSuffix(".json") + ".trace.jsonl"),
      (t.toJsonLines(jobs.groupBy(_.span)).mkString("\n") + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)

  def deleteTree(p: File): Unit = {
    if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(deleteTree))
    p.delete(): Unit
  }

  /** Every data file under `root` with its size and modification time.
    * Checksum sidecars and commit markers (`.x`, `_x`) are left out.
    */
  def walk(root: String): Map[String, (Long, Long)] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) return Map.empty
    val s = Files.walk(r)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filter { p => val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
      .map(p => r.relativize(p).toString ->
        (Files.size(p), Files.getLastModifiedTime(p).toMillis))
      .toMap
    finally s.close()
  }

  /** Warehouse plane of a relative path: the database directory name
    * without `.db`, or `stage` for the engine's `__*_stage` scratch.
    */
  def plane(rel: String): String = {
    val top = rel.split('/').head
    if (top.startsWith("__")) "stage" else top.stripSuffix(".db")
  }

  /** Files added (net count) and bytes written (files new or rewritten
    * since `sinceMs`) per plane between two walks.
    */
  def walkDelta(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)],
      sinceMs: Long): Map[String, (Long, Long)] = {
    val planes = (before.keys ++ after.keys).map(plane).toSet
    planes.map { pl =>
      val b = before.count { case (k, _) => plane(k) == pl }
      val a = after.filter { case (k, _) => plane(k) == pl }
      val written = a.values.collect { case (size, mt) if mt >= sinceMs => size }.sum
      pl -> ((a.size - b).toLong, written)
    }.toMap
  }

  def dirBytes(root: String): Long = walk(root).values.map(_._1).sum
}

/** Turns one cycle's spans, jobs and warehouse walks into the per-layer
  * metrics. Every name is always present, zero where a workload has no
  * such layer, so both workloads report the same set.
  */
object LayerMetrics {
  val layers = Seq("bronze", "silver", "gold", "maintenance")
  val layerFields = Seq("wall_s", "steps", "spark_jobs", "driver_gap_s", "task_cpu_s",
    "shuffle_write_bytes", "spill_bytes", "files_added", "bytes_added")
  val metaCalls = Seq("audit_event", "update_control", "dq_metrics", "dictionary",
    "watermark_read")
  val queryFields = Seq("build_s", "plan_s", "exec_s", "spark_jobs", "task_cpu_s",
    "driver_gap_s", "shuffle_write_bytes", "spill_bytes")

  val names: Seq[String] =
    Seq("pipeline.wall_s", "pipeline.spark_jobs", "pipeline.job_busy_s",
      "pipeline.driver_gap_s", "pipeline.task_cpu_s") ++
    layers.flatMap(l => layerFields.map(f => s"layers.$l.$f")) ++
    metaCalls.flatMap(c => Seq(s"meta.$c.calls", s"meta.$c.wall_s")) ++
    Seq("meta.init.wall_s", "meta.spark_jobs", "meta.spark_jobs_per_row",
      "meta.files_added", "meta.audit_log_files",
      "dq.spark_jobs", "dq.job_s",
      "io.source.job_s", "io.sink.job_s", "io.sink.files_added", "io.sink.bytes_added",
      "io.upsert_stage_bytes", "io.store.job_s", "io.maintenance.job_s",
      "operators.job_s") ++
    queryFields.map(f => s"queries.$f") ++
    Seq("spark.gc_s", "spark.peak_execution_memory_bytes",
      "trace.overhead_s", "trace.layer_wall_share",
      "warehouse.files_per_run", "warehouse.bytes_written_per_input_byte",
      "warehouse.reopen_failed_ratio")

  /** Ties every job to the innermost span open at its submission. */
  def attribute(tracer: Tracer, jobs: Seq[JobRec]): Map[Int, Seq[JobRec]] = {
    jobs.foreach(j => j.span = tracer.innermostAt(j.startMs))
    jobs.groupBy(_.span)
  }

  /** Per-layer metrics from a traced cycle.
    *
    * @param layerFiles files added / bytes written per layer span id,
    *                   from warehouse walks around each layer
    * @param opPlanes   per-plane (files added, bytes written) summed over the cycle's ops
    */
  def compute(tracer: Tracer, jobs0: Seq[JobRec], gcS: Double,
      layerFiles: Map[Int, (Long, Long)], opPlanes: Map[String, (Long, Long)],
      auditLogFiles: Long): Map[String, Double] = {
    val jobs = jobs0.filter(j => !j.endMs.isNaN)
    attribute(tracer, jobs)
    val m = mutable.LinkedHashMap.empty[String, Double]
    names.foreach(m(_) = 0.0)
    val spans = tracer.spans.toSeq.filter(s => !s.endMs.isNaN)
    def jobsUnder(s: Span): Seq[JobRec] = {
      val ids = tracer.descendantsOrSelf(s)
      jobs.filter(j => ids(j.span))
    }
    def gapS(s: Span, js: Seq[JobRec]): Double =
      (s.endMs - s.startMs - Tracer.unionMs(js, s.startMs, s.endMs)) / 1e3

    val runs = spans.filter(_.kind == "run")
    runs.foreach { r =>
      val js = jobsUnder(r)
      m("pipeline.wall_s") += r.wallS
      m("pipeline.spark_jobs") += js.size
      m("pipeline.job_busy_s") += Tracer.unionMs(js, r.startMs, r.endMs) / 1e3
      m("pipeline.driver_gap_s") += gapS(r, js)
      m("pipeline.task_cpu_s") += js.map(_.taskCpuNs).sum / 1e9
    }
    spans.filter(_.kind == "layer").foreach { l =>
      val p = s"layers.${l.name.stripPrefix("layer.")}"
      val js = jobsUnder(l)
      m(s"$p.wall_s") += l.wallS
      m(s"$p.steps") += spans.count(s => s.parent == l.id && s.kind == "step")
      m(s"$p.spark_jobs") += js.size
      m(s"$p.driver_gap_s") += gapS(l, js)
      m(s"$p.task_cpu_s") += js.map(_.taskCpuNs).sum / 1e9
      m(s"$p.shuffle_write_bytes") += js.map(_.shuffleWriteBytes).sum.toDouble
      m(s"$p.spill_bytes") += js.map(_.spillBytes).sum.toDouble
      layerFiles.get(l.id).foreach { case (f, b) =>
        m(s"$p.files_added") += f
        m(s"$p.bytes_added") += b
      }
    }
    val metaSpans = spans.filter(_.kind == "meta")
    metaCalls.foreach { c =>
      val ss = metaSpans.filter(_.name == s"meta.$c")
      m(s"meta.$c.calls") = ss.size
      m(s"meta.$c.wall_s") = ss.map(_.wallS).sum
    }
    m("meta.init.wall_s") = metaSpans.filter(_.name == "meta.init").map(_.wallS).sum
    val metaJobs = jobs.filter(j => j.span >= 0 && tracer.spans(j.span).kind == "meta")
    m("meta.spark_jobs") = metaJobs.size
    val metaRows = metaSpans.map(_.rows).sum
    m("meta.spark_jobs_per_row") = if (metaRows > 0) metaJobs.size.toDouble / metaRows else 0.0
    m("meta.files_added") = opPlanes.get("metadata").map(_._1.toDouble).getOrElse(0.0)
    m("meta.audit_log_files") = auditLogFiles.toDouble
    def jobS(js: Seq[JobRec]): Double = js.map(j => j.endMs - j.startMs).sum / 1e3
    def byModule(mod: String): Seq[JobRec] = jobs.filter(_.module == mod)
    m("dq.spark_jobs") = byModule("dq").size
    m("dq.job_s") = jobS(byModule("dq"))
    m("io.source.job_s") = jobS(byModule("io.source"))
    m("io.sink.job_s") = jobS(byModule("io.sink"))
    m("io.store.job_s") = jobS(byModule("io.store"))
    m("io.maintenance.job_s") = jobS(byModule("io.maintenance"))
    m("operators.job_s") = jobS(byModule("operators"))
    val dataPlanes = opPlanes.filter { case (k, _) => k != "metadata" && k != "stage" }
    m("io.sink.files_added") = dataPlanes.values.map(_._1).sum.toDouble
    m("io.sink.bytes_added") = dataPlanes.values.map(_._2).sum.toDouble
    m("io.upsert_stage_bytes") = opPlanes.get("stage").map(_._2.toDouble).getOrElse(0.0)

    val qspans = spans.filter(_.kind == "query")
    qspans.foreach { q =>
      val js = jobsUnder(q)
      m("queries.spark_jobs") += js.size
      m("queries.task_cpu_s") += js.map(_.taskCpuNs).sum / 1e9
      m("queries.driver_gap_s") += gapS(q, js)
      m("queries.shuffle_write_bytes") += js.map(_.shuffleWriteBytes).sum.toDouble
      m("queries.spill_bytes") += js.map(_.spillBytes).sum.toDouble
    }
    Seq("build", "plan", "exec").foreach { ph =>
      m(s"queries.${ph}_s") = spans.filter(_.kind == s"query.$ph").map(_.wallS).sum
    }
    m("spark.gc_s") = gcS
    m("spark.peak_execution_memory_bytes") =
      if (jobs.isEmpty) 0.0 else jobs.map(_.peakExecMem).max.toDouble
    m("trace.overhead_s") = tracer.overheadS
    val runWall = runs.map(_.wallS).sum
    m("trace.layer_wall_share") =
      if (runWall > 0) spans.filter(_.kind == "layer").map(_.wallS).sum / runWall else 0.0
    m.toMap
  }
}
