package perfbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Engine, SparkEntry}

/** The OLAP workload: one client runs a fixed set of `SparkEntry.queries`
  * entries, each cycle in a fresh seeded order. One operation builds the
  * DataFrame and `collect()`s it, which is the result a client receives;
  * the rows are then checked against the stored fingerprint, outside the
  * timed region. */
object Olap {

  /** Half relational SQL (a five-way star join with aggregation, a
    * ranking window, SQL text with a correlated subquery), where
    * `Engine.table`, Catalyst and action execution take the time; half
    * pipeline operators (graph iteration, k-means, near-dup clustering),
    * where building the DataFrame runs driver collects, loops, persists
    * and per-call models before the action. Six of the 116 `q*`, `d*`,
    * `g*`, `c*`, `s*` entries: a cold pass plus one warm cycle of them
    * fills a run (METRICS.md). ANN is served by `serve_wire`. */
  val Names: Seq[String] = Seq(
    "q05_nation_revenue", "q09_top2_orders_per_customer",
    "q33_correlated_subquery",
    "c01_kmeans_embeddings", "d05_neardup_clusters", "g01_pagerank")

  /** Every OLAP entry with a stored fingerprint. */
  def allNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
    .filter(n => "qdgcs".contains(n.head))

  def run(spark: SparkSession, c: Conf): RunResult = {
    val names = Names
    val expected = Expected.load(c.expected)
    val rnd = new Random(c.seed)
    val tracer = if (c.trace) Some(Main.tracer(spark)) else None
    val failed = new java.util.concurrent.atomic.AtomicLong(0L)
    val attempted = new java.util.concurrent.atomic.AtomicLong(0L)

    def one(name: String, traced: Boolean): Op = {
      val tr = tracer.filter(_ => traced)
      val sc = spark.sparkContext
      val op = tr.map(_.newId()).getOrElse(0L)
      tr.foreach(_.open(op, op))
      val t0 = System.nanoTime
      val (rows, ok) =
        try {
          val df = tr match {
            case Some(t) => t.span(op, op, "build")(SparkEntry.queries(name)(spark, c.data))
            case None => SparkEntry.queries(name)(spark, c.data)
          }
          val execId = tr.map(_.open(op)).getOrElse(0L)
          tr.foreach(_ => sc.setLocalProperty(Tracer.SpanProp, execId.toString))
          val t1 = System.nanoTime
          val t1Ms = System.currentTimeMillis
          val rows = try df.collect() finally sc.setLocalProperty(Tracer.SpanProp, null)
          val t2 = System.nanoTime
          tr.foreach { t =>
            // Catalyst phases run inside collect(); analysis already ran
            // while the DataFrame was built, so it stays in `build`.
            val ph = df.queryExecution.tracker.phases
            def at(ms: Long) = math.min(t2, math.max(t1, t1 + (ms - t1Ms) * 1000000L))
            val ps = ph.get("optimization").map(p => at(p.startTimeMs)).getOrElse(t1)
            val pe = ph.get("planning").map(p => at(p.endTimeMs)).getOrElse(ps)
            t.add(op, op, "plan", ps, math.max(ps, pe))
            t.close(execId, op, op, "exec", math.max(ps, pe), t2)
          }
          (rows, true)
        } catch {
          case e: Exception =>
            System.err.println(s"perfbench: $name failed: $e")
            (Array.empty[Row], false)
        }
      val t2 = System.nanoTime
      tr.foreach(_.close(op, op, 0L, "op", t0, t2))
      Engine.releaseEphemeral(spark)
      val good = ok && expected.get(name).contains(Fingerprint.of(rows))
      if (ok && !good) System.err.println(s"perfbench: $name returned a wrong result")
      attempted.incrementAndGet()
      if (!good) failed.incrementAndGet()
      System.err.println(f"perfbench: op $name ${(t2 - t0) / 1e6}%.1f ms ok=$good")
      Op(name, t0, t2, good, rows.length, op)
    }

    // Set-up: one cold pass, so the timed cycles run warm. The entries are
    // independent, so the pass runs them on `nproc` threads at once.
    val order = rnd.shuffle(names)
    val ex = java.util.concurrent.Executors.newFixedThreadPool(c.cores)
    try order.map(n => ex.submit(() => one(n, traced = false))).foreach(_.get)
    finally ex.shutdown()
    val firstOpMs = System.currentTimeMillis
    val gc0 = Stats.gcMs()
    val w0 = System.nanoTime
    val ops = Vector.newBuilder[Op]
    // A fixed number of whole cycles, so every run does the same work: one
    // per started 5 s of `--seconds` (a warm cycle takes about that long),
    // at least three, so that p90 falls among the slowest entry's own
    // samples rather than in the gap below them. A traced run traces each
    // entry in every other cycle, half of the entries in the first, so
    // both sides see the same warmth.
    val cycles = math.max(3, (c.seconds + 4) / 5)
    for (cycle <- 0 until (if (c.trace) cycles + cycles % 2 else cycles))
      rnd.shuffle(names).foreach(n =>
        ops += one(n, c.trace && (cycle + names.indexOf(n)) % 2 == 1))
    val window = System.nanoTime - w0
    val measured = ops.result()
    val okOps = measured.filter(_.ok)
    val perQuery = okOps.groupBy(_.kind).values.map(os => Stats.median(os.map(_.ms))).toSeq
    RunResult(
      c, firstOpMs, window, measured, attempted.get, failed.get,
      qps = measured.length / (measured.map(_.ms).sum / 1e3),
      rowsPerS = okOps.map(_.rows).sum / (okOps.map(_.ms).sum / 1e3),
      readP50Ms = Stats.median(measured.map(_.ms)),
      geomeanMs = Stats.geomean(perQuery),
      gcMs = Stats.gcMs() - gc0,
      tracer = tracer,
      layerExtra = tracer.map(_ => Map(
        "engine.table_call_ms" -> Main.tableCallMs(spark, c.data))).getOrElse(Map.empty))
  }

  /** Dump mode for `make_expected.py`: every OLAP entry's fingerprint, and
    * its result as parquet for the DuckDB oracle check. Fails if any entry
    * does. */
  def fingerprint(spark: SparkSession, c: Conf): Unit = {
    val out = new java.io.File(c.out)
    out.mkdirs()
    val fps = allNames.flatMap { name =>
      try {
        val df = SparkEntry.queries(name)(spark, c.data)
        val fp = Fingerprint.of(df.collect())
        df.coalesce(1).write.mode("overwrite").parquet(s"${c.out}/$name")
        Engine.releaseEphemeral(spark)
        Some(name -> fp)
      } catch {
        case e: Exception =>
          System.err.println(s"perfbench: $name failed: $e")
          None
      }
    }
    java.nio.file.Files.writeString(new java.io.File(out, "fingerprints.json").toPath,
      fps.map { case (n, f) => s"  ${Json.str(n)}: ${Json.str(f)}" }
        .mkString("{\n", ",\n", "\n}\n"))
    java.nio.file.Files.writeString(new java.io.File(out, "oracle_sql.json").toPath,
      SparkEntry.oracleSql.filter(kv => allNames.contains(kv._1))
        .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}"))
    if (fps.length < allNames.length)
      sys.error(s"${allNames.length - fps.length} entries failed")
  }
}

/** Expected fingerprints, a flat JSON object `{"name": "fp", ...}`. */
object Expected {
  def load(path: String): Map[String, String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2)).toMap
  }
}
