package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{BooleanType, StringType}

import graft.{GraftSession, Serving}
import graft.wire.WireServer

/** The two PG-wire workloads, served by a `WireServer` in this JVM. */
object Wire {

  /** Distinct requests per serving function in the request pool. */
  val PoolPerKind = 3
  /** Rows per COPY batch. */
  val BatchRows = 2000

  /** Rows as the wire renders them in text format, one string per row,
    * sorted so results compare as multisets. */
  def rendered(df: DataFrame): Vector[String] =
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      val c = col(s"`${f.name}`")
      (f.dataType match {
        case BooleanType => when(c, lit("t")).otherwise(lit("f"))
        case _ => c.cast(StringType)
      }).as(f.name)
    }: _*).collect().map(r => r.toSeq.mkString("\u0001")).toVector.sorted

  def rendered(rows: Vector[Array[String]]): Vector[String] =
    rows.map(_.mkString("\u0001")).sorted

  /** `serve_wire`: `nproc` connections send seeded serving-function calls
    * (ANN, BM25, hybrid) over the persisted indexes. */
  def serve(spark: SparkSession, c: Conf): RunResult = {
    val tracer = if (c.trace) Some(Main.tracer(spark)) else None
    Main.phase("index build") {
      Serving.buildIndexes(spark, c.data)
      Serving.install(spark)
    }
    val rnd = new Random(c.seed)
    val ids = spark.table("serve_emb").select("vec_id").collect()
      .map(_.get(0).toString.toLong).sorted
    val vocab = spark.table("serve_postings").select("token").distinct()
      .collect().map(_.getString(0)).sorted
    // two distinct terms, so requests of one kind cost alike across seeds
    def terms(): String =
      rnd.shuffle(vocab.toSeq).take(2).mkString(" ")
    val pool: Vector[(String, String)] = (0 until PoolPerKind).flatMap { _ =>
      val qid = ids(rnd.nextInt(ids.length))
      Seq(
        "ann" -> s"SELECT * FROM graft_ann_topk($qid, 10)",
        "bm25" -> s"SELECT * FROM graft_bm25_topk('${terms()}', 20)",
        "hybrid" -> s"SELECT * FROM graft_hybrid_topk($qid, '${terms()}', 20)")
    }.toVector
    // The in-process answer each wire response must equal; computing it
    // also warms the serving path.
    val sess = new GraftSession(spark)
    def inProcess(sql: String): (Long, Long, Vector[String]) = {
      val t0 = System.nanoTime
      val df = sess.execute(sql)
      val t1 = System.nanoTime
      val rows = rendered(df)
      (t1 - t0, System.nanoTime - t1, rows)
    }
    val answers = Main.phase("in-process answers") {
      val ex = java.util.concurrent.Executors.newFixedThreadPool(c.cores)
      try pool.map { case (_, sql) =>
        ex.submit(() => sql -> rendered(new GraftSession(spark).execute(sql)))
      }.map(_.get).toMap
      finally ex.shutdown()
    }

    val server = new WireServer(spark).start()
    try {
      val clients = Vector.fill(c.cores)(new PgClient(server.boundPort))
      val failed = new java.util.concurrent.atomic.AtomicLong(0L)
      val attempted = new java.util.concurrent.atomic.AtomicLong(0L)
      def request(cl: PgClient, kind: String, sql: String, traced: Boolean): Op = {
        val tr = tracer.filter(_ => traced)
        val op = tr.map(_.newId()).getOrElse(0L)
        val req = tr.map { t => t.open(op, op); t.open(op) }.getOrElse(0L)
        tr.foreach(_.wireSpan.put(cl.sid, req))
        val t0 = System.nanoTime
        val res = try Some(cl.query(sql)) catch {
          case e: Exception => System.err.println(s"perfbench: $sql failed: $e"); None
        }
        val t1 = System.nanoTime
        tr.foreach { t =>
          t.wireSpan.remove(cl.sid)
          t.close(req, op, op, "wire.request", t0, t1)
          t.close(op, op, 0L, "op", t0, t1)
        }
        val ok = res.exists(r => rendered(r.rows) == answers(sql))
        if (res.isDefined && !ok) System.err.println(s"perfbench: $sql returned a wrong result")
        attempted.incrementAndGet()
        if (!ok) failed.incrementAndGet()
        Op(kind, t0, t1, ok, res.map(_.rows.length.toLong).getOrElse(0L), op)
      }
      val firstOpMs = System.currentTimeMillis
      val gc0 = Stats.gcMs()
      val w0 = System.nanoTime
      val deadline = w0 + c.seconds * 1000000000L
      val results = clients.zipWithIndex.map { case (cl, i) =>
        // Each connection alternates the three kinds, starting at its own
        // kind, and takes each kind's requests in its own seeded order, so
        // every run sends the kinds in the same proportions.
        val r = new Random(c.seed * 1009 + i)
        val byKind = pool.groupBy(_._1).values.toVector.sortBy(_.head._1).map(r.shuffle(_))
        val order = Vector.tabulate(pool.length) { j =>
          val kind = byKind((i + j) % byKind.length)
          kind((j / byKind.length) % kind.length)
        }
        val buf = Vector.newBuilder[Op]
        val th = new Thread(() => {
          var now = System.nanoTime
          var j = 0
          while (now < deadline) {
            val traced = c.trace && Main.tracedQuarter(now - w0, deadline - w0)
            val (k, q) = order(j % order.length)
            buf += request(cl, k, q, traced)
            j += 1
            now = System.nanoTime
          }
        }, s"perfbench-client-$i")
        th.start()
        (th, buf)
      }
      results.foreach(_._1.join())
      val window = System.nanoTime - w0
      val gc = Stats.gcMs() - gc0
      val ops = results.flatMap(_._2.result())
      val okOps = ops.filter(_.ok)

      val extra = tracer.map { _ =>
        // One statement of each kind, alone: in-process execute + collect
        // against the wire round trip, in both orders.
        val pairs = pool.groupBy(_._1).values.map(_.head).toSeq.flatMap { case (k, sql) =>
          def wire() = { val w = request(clients.head, k, sql, traced = false); w.end - w.start }
          Seq(true, false).map { wireFirst =>
            val w1 = if (wireFirst) wire() else 0L
            val (plan, coll, _) = inProcess(sql)
            val w = if (wireFirst) w1 else wire()
            (plan, w - plan - coll)
          }
        }
        Map(
          "serve.plan_ms" -> Stats.median(pairs.map(_._1 / 1e6)),
          "wire.overhead_ms" -> Stats.median(pairs.map(_._2 / 1e6)))
      }.getOrElse(Map.empty)
      clients.foreach(_.close())
      RunResult(c, firstOpMs, window, ops, attempted.get, failed.get,
        qps = ops.length / (window / 1e9),
        rowsPerS = okOps.map(_.rows).sum / (window / 1e9),
        readP50Ms = Stats.median(ops.map(_.ms)),
        geomeanMs = Stats.geomean(okOps.groupBy(_.kind).values
          .map(os => Stats.median(os.map(_.ms))).toSeq),
        gcMs = gc, tracer = tracer, layerExtra = extra)
    } finally server.close()
  }

  /** `ingest_wire`: one connection repeats COPY FROM STDIN of a seeded
    * batch, then reads after writing: a whole-table aggregate checked
    * against running totals and a select of the batch, row for row. */
  def ingest(spark: SparkSession, c: Conf): RunResult = {
    val tracer = if (c.trace) Some(Main.tracer(spark)) else None
    val server = new WireServer(spark).start()
    val cl = new PgClient(server.boundPort)
    val table = "perfbench_ingest"
    try {
      cl.query(s"CREATE TABLE $table (id bigint, k int, v double, s varchar(24), b boolean)")
      val rnd = new Random(c.seed)
      var nextId = 0L
      final case class Rec(id: Long, k: Int, v: Double, s: String, b: Boolean)
      def batch(): Vector[Rec] = Vector.fill(BatchRows) {
        nextId += 1
        // v has two fractional bits, so sums are exact in a double
        Rec(nextId, rnd.nextInt(1000), rnd.nextInt(4000000) / 4.0,
          rnd.alphanumeric.take(1 + rnd.nextInt(24)).mkString, rnd.nextBoolean())
      }
      def payload(b: Vector[Rec]): Array[Byte] =
        b.map(r => s"${r.id},${r.k},${r.v},${r.s},${r.b}").mkString("", "\n", "\n").getBytes(UTF_8)
      var count, sumK, sumId, nTrue, sumLen = 0L
      var sumV = 0.0
      var failed, attempted, inputBytes = 0L

      def step(traced: Boolean): Op = {
        val b = batch()
        val bytes = payload(b)
        val tr = tracer.filter(_ => traced)
        val op = tr.map(_.newId()).getOrElse(0L)
        tr.foreach(_.open(op, op))
        def stmt[T](name: String)(body: => T): T = tr match {
          case Some(t) =>
            val id = t.open(op)
            t.wireSpan.put(cl.sid, id)
            val s0 = System.nanoTime
            try body finally {
              t.wireSpan.remove(cl.sid)
              t.close(id, op, op, name, s0, System.nanoTime)
            }
          case None => body
        }
        val t0 = System.nanoTime
        var ok = false
        var t1 = t0
        try {
          val res = stmt("wire.copy")(cl.copyIn(s"COPY $table FROM STDIN", bytes))
          t1 = System.nanoTime
          val copied = res.tag == s"COPY ${b.length}"
          if (copied) {
            count += b.length; inputBytes += bytes.length
            b.foreach { r =>
              sumK += r.k; sumId += r.id; sumV += r.v; sumLen += r.s.length
              if (r.b) nTrue += 1
            }
          }
          val agg = stmt("wire.read")(cl.query(
            s"SELECT count(*), sum(k), sum(id), sum(v), " +
              s"sum(CASE WHEN b THEN 1 ELSE 0 END), sum(length(s)) FROM $table")).rows
          val sel = stmt("wire.read")(cl.query(
            s"SELECT id, k, v, s, b FROM $table WHERE id >= ${b.head.id} AND id <= ${b.last.id}")).rows
          val a = agg.head
          val totalsOk = a(0).toLong == count && a(1).toLong == sumK &&
            a(2).toLong == sumId && a(3).toDouble == sumV &&
            a(4).toLong == nTrue && a(5).toLong == sumLen
          val rowsOk = sel.length == b.length &&
            sel.sortBy(_(0).toLong).zip(b).forall { case (w, r) =>
              w(0).toLong == r.id && w(1).toInt == r.k && w(2).toDouble == r.v &&
                w(3) == r.s && w(4) == (if (r.b) "t" else "f")
            }
          ok = copied && totalsOk && rowsOk
          if (!ok) System.err.println(
            s"perfbench: batch ${b.head.id} copied=$copied totals=$totalsOk rows=$rowsOk")
        } catch {
          case e: Exception => System.err.println(s"perfbench: batch ${b.head.id} failed: $e")
        }
        val t2 = System.nanoTime
        tr.foreach(_.close(op, op, 0L, "op", t0, t2))
        attempted += 1
        if (!ok) failed += 1
        Op("batch", t0, t2, ok, b.length, op, readNs = t2 - t1, copyNs = t1 - t0)
      }

      step(traced = false) // set-up ends with one batch
      val firstOpMs = System.currentTimeMillis
      val gc0 = Stats.gcMs()
      val w0 = System.nanoTime
      val deadline = w0 + c.seconds * 1000000000L
      val buf = Vector.newBuilder[Op]
      var now = w0
      while (now < deadline) {
        buf += step(c.trace && Main.tracedQuarter(now - w0, deadline - w0))
        now = System.nanoTime
      }
      val window = System.nanoTime - w0
      val gc = Stats.gcMs() - gc0
      val ops = buf.result()
      val okOps = ops.filter(_.ok)

      // Durability of every acknowledged row, read as plain parquet.
      val dir = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
      val onDisk = spark.read.parquet(dir.getPath).count()
      attempted += 1
      if (onDisk != count) {
        failed += 1
        System.err.println(s"perfbench: parquet holds $onDisk rows, $count acknowledged")
      }

      val extra = tracer.map { _ =>
        val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
        // COPY of the same payload in-process and over the wire, in
        // alternating order, into a side table so the measured table is
        // left as it was.
        cl.query("CREATE TABLE perfbench_side (id bigint, k int, v double, s varchar(24), b boolean)")
        val sess = new GraftSession(spark)
        val (rel, schema, opts) = sess.copyInTarget("COPY perfbench_side FROM STDIN").get
        def timed(body: => Any): Long = { val t0 = System.nanoTime; body; System.nanoTime - t0 }
        val pairs = (1 to 6).map { i =>
          val bytes = payload(batch())
          def local() = timed(sess.copyInRows(rel, schema, opts, new String(bytes, UTF_8)))
          def wire() = timed(cl.copyIn("COPY perfbench_side FROM STDIN", bytes))
          val (l, w) = if (i % 2 == 0) { val l = local(); (l, wire()) } else { val w = wire(); (local(), w) }
          (l, w - l)
        }
        val q = math.max(1, ops.length / 4)
        Map(
          "copy.ms" -> Stats.median(pairs.map(_._1 / 1e6)),
          "wire.copy_overhead_ms" -> Stats.median(pairs.map(_._2 / 1e6)),
          "ingest.files_per_batch" -> files.length.toDouble / (ops.length + 1),
          "ingest.stored_bytes_per_input_byte" -> files.map(_.length).sum.toDouble / inputBytes,
          "ingest.read_growth" -> Stats.median(ops.takeRight(q).map(_.readNs.toDouble)) /
            Stats.median(ops.take(q).map(_.readNs.toDouble)))
      }.getOrElse(Map.empty)
      RunResult(c, firstOpMs, window, ops, attempted, failed,
        qps = ops.length / (ops.map(_.ms).sum / 1e3),
        rowsPerS = okOps.map(_.rows).sum / (okOps.map(_.copyNs).sum / 1e9),
        readP50Ms = Stats.median(ops.map(_.readNs / 1e6)),
        geomeanMs = Stats.geomean(Seq(Stats.median(ops.map(_.copyNs / 1e6)),
          Stats.median(ops.map(_.readNs / 1e6)))),
        gcMs = gc, tracer = tracer, layerExtra = extra)
    } finally {
      cl.close()
      server.close()
    }
  }
}
