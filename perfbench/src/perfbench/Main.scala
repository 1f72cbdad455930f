package perfbench

import org.apache.spark.sql.SparkSession

import graft.Engine

/** Command line of one run (see `perfbench/run.py`). */
final case class Conf(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    data: String,
    expected: String,
    work: String,
    traceOut: String,
    t0Ms: Long,
    mode: String,
    out: String) {
  /** Cores of the local Spark master. */
  def cores: Int = Runtime.getRuntime.availableProcessors
}

/** What a workload measured. `firstOpMs` is the wall clock at the first
  * timed operation; `window` the measured interval in ns. */
final case class RunResult(
    c: Conf,
    firstOpMs: Long,
    window: Long,
    ops: Seq[Op],
    attempted: Long,
    failed: Long,
    qps: Double,
    rowsPerS: Double,
    readP50Ms: Double,
    geomeanMs: Double,
    gcMs: Long,
    tracer: Option[Tracer],
    layerExtra: Map[String, Double])

object Main {

  val Workloads = Seq("olap", "serve_wire", "ingest_wire")

  /** Every per-layer metric with its unit, printed by each traced run;
    * a layer a workload does not exercise reads 0. */
  val Layers: Seq[(String, String)] = Seq(
    "engine.table_ms" -> "ms", "engine.table_jobs" -> "count",
    "engine.table_call_ms" -> "ms",
    "build.ms" -> "ms", "build.jobs" -> "count",
    "plan.ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_busy_ms" -> "ms",
    "exec.core_util" -> "ratio", "exec.shuffle_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.scan_bytes" -> "bytes",
    "exec.driver_result_bytes" -> "bytes", "exec.sched_wait_ms" -> "ms",
    "serve.plan_ms" -> "ms", "serve.jobs_per_req" -> "count",
    "wire.overhead_ms" -> "ms",
    "copy.ms" -> "ms", "wire.copy_overhead_ms" -> "ms",
    "ingest.files_per_batch" -> "count",
    "ingest.stored_bytes_per_input_byte" -> "ratio",
    "ingest.read_growth" -> "ratio",
    "jvm.gc_ms" -> "ms",
    "self.op_ms" -> "ms", "self.build_ms" -> "ms", "self.plan_ms" -> "ms",
    "self.exec_ms" -> "ms", "self.wire_ms" -> "ms", "self.job_ms" -> "ms",
    "trace.spans" -> "count", "trace.overhead_pct" -> "%")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(
      workload = kv.getOrElse("workload", ""),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "10").toInt,
      trace = kv.getOrElse("trace", "0") == "1",
      data = kv("data"),
      expected = kv.getOrElse("expected", ""),
      work = kv("work"),
      traceOut = kv.getOrElse("trace-out", ""),
      t0Ms = kv.get("t0-ms").map(_.toLong).getOrElse(System.currentTimeMillis),
      mode = kv.getOrElse("mode", "run"),
      out = kv.getOrElse("out", ""))
    if (c.mode == "run" && !Workloads.contains(c.workload)) {
      System.err.println(s"perfbench: unknown workload '${c.workload}' (${Workloads.mkString(", ")})")
      sys.exit(2)
    }
    val spark = phase("session")(session(c))
    try {
      if (c.mode == "fingerprint") Olap.fingerprint(spark, c)
      else {
        val r = c.workload match {
          case "olap" => Olap.run(spark, c)
          case "serve_wire" => Wire.serve(spark, c)
          case "ingest_wire" => Wire.ingest(spark, c)
        }
        report(r)
      }
    } finally spark.stop()
  }

  /** The engine's own session; only isolation settings are added: every
    * directory it writes lies under the run's work dir. */
  def session(c: Conf): SparkSession = {
    System.setProperty("spark.sql.warehouse.dir", s"${c.work}/warehouse")
    System.setProperty("spark.local.dir", s"${c.work}/local")
    val spark = Engine.session(s"local[${c.cores}]", "perfbench")
    spark.conf.set("graft.checkpoint.dir", s"${c.work}/checkpoint")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Run a set-up step and log its duration. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime
    try body
    finally System.err.println(f"perfbench: $name took ${(System.nanoTime - t0) / 1e6}%.0f ms")
  }

  /** A traced run traces the middle two quarters of its window, so a
    * steady warm-up trend cancels out of the tracing overhead. */
  def tracedQuarter(elapsed: Long, window: Long): Boolean = {
    val q = elapsed * 4 / window
    q == 1 || q == 2
  }

  def tracer(spark: SparkSession): Tracer = {
    val t = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(t.listener)
    t
  }

  /** Median time of direct `Engine.table` calls, one per table. */
  def tableCallMs(spark: SparkSession, data: String): Double =
    Stats.median(Engine.tableNames.map { t =>
      val t0 = System.nanoTime
      Engine.table(spark, data, t)
      (System.nanoTime - t0) / 1e6
    })

  def endToEnd(r: RunResult): Seq[Metric] = {
    val ms = r.ops.map(_.ms)
    Seq(
      Metric("setup_s", (r.firstOpMs - r.c.t0Ms) / 1e3, "s"),
      Metric("qps", r.qps, "1/s"),
      Metric("p50_ms", Stats.median(ms), "ms"),
      Metric("p90_ms", Stats.quantile(ms, 0.9), "ms"),
      Metric("geomean_ms", r.geomeanMs, "ms"),
      Metric("rows_per_s", r.rowsPerS, "1/s"),
      Metric("read_p50_ms", r.readP50Ms, "ms"),
      Metric("peak_rss_mb", Stats.peakRssMb(), "MiB"))
  }

  /** Per-operation layer figures over the traced operations. */
  def layers(r: RunResult): Seq[Metric] = {
    val tr = r.tracer.get
    tr.settle()
    val traced = r.ops.filter(_.traced)
    val untraced = r.ops.filterNot(_.traced)
    val n = math.max(1, traced.length).toDouble
    val opIds = traced.map(_.opId).toSet
    val spans = tr.allSpans.filter(s => opIds(s.op))
    val jobs = tr.allJobs.map(_._2).filter(j => opIds(j.op) && j.end > 0L)
    val nameOf = spans.map(s => s.id -> s.name).toMap
    val (buildJobs, execJobs) = jobs.partition(j => nameOf.get(j.parent).contains("build"))
    def spanMs(name: String) = spans.filter(_.name == name).map(_.dur).sum / 1e6 / n
    def unionMs(js: Seq[JobRec]) =
      js.groupBy(_.op).values.map(g => Tracer.covered(g.map(j => (j.start, j.end)))).sum / 1e6 / n
    val execSpans = spans.filter(s => s.name != "build" && s.name != "op" && s.name != "plan")
    val execStages = execSpans.map(s => tr.stageTotals(s.id))
    val allStages = spans.map(s => tr.stageTotals(s.id))
    val execMs = if (spans.exists(_.name == "exec")) spanMs("exec") else unionMs(execJobs)
    val busy = execStages.map(_.busyMs).sum / n
    val waits = jobs.filter(_.firstTask > 0L).map(j => (j.firstTask - j.start) / 1e6)
    val self = Tracer.selfTimes(spans ++ tr.jobSpans.filter(s => opIds(s.op)))
    def selfMs(names: String*) = names.map(self.getOrElse(_, 0L)).sum / 1e6 / n
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    val generic = Map(
      "engine.table_ms" -> unionMs(jobs.filter(_.fromTable)),
      "engine.table_jobs" -> jobs.count(_.fromTable) / n,
      "build.ms" -> spanMs("build"),
      "build.jobs" -> buildJobs.length / n,
      "plan.ms" -> spanMs("plan"),
      "exec.ms" -> execMs,
      "exec.jobs" -> execJobs.length / n,
      "exec.stages" -> execStages.map(_.stages).sum / n,
      "exec.tasks" -> execStages.map(_.tasks).sum / n,
      "exec.task_busy_ms" -> busy,
      "exec.core_util" -> (if (execMs > 0) busy / (r.c.cores * execMs) else 0.0),
      "exec.shuffle_bytes" -> execStages.map(_.shuffleBytes).sum / n,
      "exec.spill_bytes" -> execStages.map(_.spillBytes).sum / n,
      "exec.scan_bytes" -> execStages.map(_.scanBytes).sum / n,
      "exec.driver_result_bytes" -> allStages.map(_.resultBytes).sum / n,
      "exec.sched_wait_ms" -> mean(waits),
      "serve.jobs_per_req" -> (if (r.c.workload == "serve_wire") execJobs.length / n else 0.0),
      "jvm.gc_ms" -> r.gcMs.toDouble / math.max(1, r.ops.length),
      "self.op_ms" -> selfMs("op"),
      "self.build_ms" -> selfMs("build"),
      "self.plan_ms" -> selfMs("plan"),
      "self.exec_ms" -> selfMs("exec"),
      "self.wire_ms" -> selfMs("wire.request", "wire.copy", "wire.read"),
      "self.job_ms" -> selfMs("job"),
      "trace.spans" -> (spans.length + jobs.length) / n,
      "trace.overhead_pct" ->
        (mean(traced.map(_.ms)) / mean(untraced.map(_.ms)) - 1) * 100)
    if (r.c.traceOut.nonEmpty) tr.write(java.nio.file.Paths.get(r.c.traceOut))
    val all = generic ++ r.layerExtra
    Layers.map { case (name, unit) => Metric(name, all.getOrElse(name, 0.0), unit) }
  }

  /** A readable report, then the result line last. */
  def report(r: RunResult): Unit = {
    val metrics = if (r.c.trace) layers(r) else endToEnd(r)
    val errorRate = r.failed.toDouble / math.max(1L, r.attempted)
    println(s"perfbench workload=${r.c.workload} seed=${r.c.seed} trace=${if (r.c.trace) 1 else 0} " +
      s"ops=${r.ops.length} window_s=${r.window / 1e9}")
    println(f"  error_rate ${errorRate}%.6f (${r.failed} failed of ${r.attempted} attempted)")
    metrics.foreach(m => println(s"  ${m.name} ${Stats.num(m.value)} ${m.unit}"))
    r.ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      println(f"  op $k n=${os.length} p50_ms=${Stats.median(os.map(_.ms))}%.1f")
    }
    println(s"""{"correct": ${r.failed == 0L}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": ${Json.metrics(metrics)}}""")
  }
}
