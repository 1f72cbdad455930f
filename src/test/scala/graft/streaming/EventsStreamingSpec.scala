package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.{Engine, TestSpark}
import graft.operators.Events

/** Streaming smoke: drive the same transforms that pass the batch oracle
  * through an actual Structured Streaming query (file source -> memory
  * sink), per the unified batch/stream design.
  */
class EventsStreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** events.parquet has TIMESTAMP(NANOS) which the streaming parquet
    * source reads as long (nanosAsLong is in Engine.SessionDefaults) —
    * stage a micros copy once for the file-source tests. */
  lazy val stagedDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_events").toString
    Engine.table(spark, TestSpark.sf, "events")
      .coalesce(2).write.mode("overwrite").parquet(dir)
    dir
  }

  test("windowed aggregation over a stream matches the batch twin") {
    val stream = spark.readStream
      .schema(EventsStreaming.eventsSchema).parquet(stagedDir)
    val q = EventsStreaming.runToMemory(
      EventsStreaming.windowedStats(stream), "win_out", OutputMode.Complete)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("win_out")
      .select(col("hr"), col("event_type"), col("n")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = Events.hourlyStats(Engine.table(spark, TestSpark.sf, "events"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  test("streaming dedup keeps one row per event_id") {
    val stream = spark.readStream
      .schema(EventsStreaming.eventsSchema).parquet(stagedDir)
    val q = EventsStreaming.runToMemory(
      EventsStreaming.dedupStream(stream), "dedup_out")
    q.processAllAvailable(); q.stop()
    val n = spark.table("dedup_out").count()
    val distinct = Engine.table(spark, TestSpark.sf, "events")
      .select("event_id").distinct().count()
    assert(n == distinct)
  }

  test("checkpointed stream resumes after restart without losing state") {
    import java.nio.file.Files
    val srcDir = Files.createTempDirectory("graft_ckpt_src").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val all = graft.Engine.table(spark, TestSpark.sf, "events")
    val firstHalf = all.filter(col("event_id") % 2 === 0)
    val secondHalf = all.filter(col("event_id") % 2 === 1)

    firstHalf.coalesce(1).write.mode("append").parquet(srcDir)
    def startQuery(name: String) = {
      val stream = spark.readStream
        .schema(EventsStreaming.eventsSchema).parquet(srcDir)
      EventsStreaming.windowedStats(stream)
        .writeStream.outputMode("complete").format("memory").queryName(name)
        .option("checkpointLocation", ckpt).start()
    }
    val q1 = startQuery("ckpt_run1")
    q1.processAllAvailable(); q1.stop()
    val afterFirst = spark.table("ckpt_run1").count()
    assert(afterFirst > 0)

    // new data lands while the query is down; restart from the checkpoint
    secondHalf.coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = startQuery("ckpt_run2")
    q2.processAllAvailable(); q2.stop()

    val resumed = spark.table("ckpt_run2")
      .select(col("hr"), col("event_type"), col("n")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.operators.Events.hourlyStats(all)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(resumed == batch) // full totals: no loss, no double count
  }

  test("streaming transitions bridge micro-batches and match the batch extraction") {
    import java.nio.file.Files
    import org.apache.spark.sql.expressions.Window
    val srcDir = Files.createTempDirectory("graft_trans_src").toString
    val ckpt = Files.createTempDirectory("graft_trans_ckpt").toString
    val outDir = Files.createTempDirectory("graft_trans_out").toString
    val all = Engine.table(spark, TestSpark.sf, "events")
    // split by TIME so per-user arrival across the two triggers respects
    // event order (the transitions() divergence contract)
    val Array(tMin, tMax) = all
      .agg(min(col("ts")).cast("long"), max(col("ts")).cast("long"))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val cut = new java.sql.Timestamp((tMin + tMax) / 2 * 1000L)
    all.filter(col("ts") < lit(cut)).coalesce(1)
      .write.mode("append").parquet(srcDir)
    def run(): Unit = {
      // append-mode memory sinks cannot recover a checkpoint; a file
      // sink can, and accumulates both runs' output in one place
      val stream = spark.readStream
        .schema(EventsStreaming.eventsSchema).parquet(srcDir)
      val q = EventsStreaming.transitions(spark, stream).toDF()
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    run()
    all.filter(col("ts") >= lit(cut)).coalesce(1)
      .write.mode("append").parquet(srcDir)
    run()
    def multiset(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("user_id", "src", "dst").count().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    val streamed = multiset(spark.read.parquet(outDir))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val batch = multiset(all.select(col("user_id"),
        col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull))
    assert(streamed == batch) // includes the pairs that span the cut:
    // only the carried last-event state can produce those
    assert(streamed.nonEmpty)
  }

  test("streaming transition rollup: durable matrix == the batch extraction") {
    import org.apache.spark.sql.expressions.Window
    spark.sql("DROP TABLE IF EXISTS trans_rollup")
    val stream = spark.readStream
      .schema(EventsStreaming.eventsSchema).parquet(stagedDir)
    val q = EventsStreaming.transitionRollupQuery(spark, stream, "trans_rollup")
    q.processAllAvailable(); q.stop()
    val rolled = spark.table("trans_rollup")
      .groupBy("src", "dst").agg(sum("cnt").as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val all = Engine.table(spark, TestSpark.sf, "events")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val batch = all.select(col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rolled == batch && rolled.nonEmpty)
    spark.sql("DROP TABLE IF EXISTS trans_rollup")
  }

  test("streaming attribution bridges micro-batches and matches the batch window") {
    import java.nio.file.Files
    import org.apache.spark.sql.expressions.Window
    val srcDir = Files.createTempDirectory("graft_attr_src").toString
    val ckpt = Files.createTempDirectory("graft_attr_ckpt").toString
    val outDir = Files.createTempDirectory("graft_attr_out").toString
    val all = Engine.table(spark, TestSpark.sf, "events")
    // time-split triggers (the transitions-test discipline) so per-user
    // arrival respects event order across the checkpoint restart
    val Array(tMin, tMax) = all
      .agg(min(col("ts")).cast("long"), max(col("ts")).cast("long"))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val cut = new java.sql.Timestamp((tMin + tMax) / 2 * 1000L)
    all.filter(col("ts") < lit(cut)).coalesce(1)
      .write.mode("append").parquet(srcDir)
    def run(): Unit = {
      val stream = spark.readStream
        .schema(EventsStreaming.eventsSchema).parquet(srcDir)
      val q = EventsStreaming.attribution(spark, stream).toDF()
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    run()
    all.filter(col("ts") >= lit(cut)).coalesce(1)
      .write.mode("append").parquet(srcDir)
    run()
    // exact per-purchase attribution equality, not just the rollup
    val streamed = spark.read.parquet(outDir)
      .select("event_id", "touch").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val batch = all
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"),
        coalesce(col("touch"), lit("direct")).as("touch"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch) // includes purchases whose touch happened
    // before the cut: only the carried state can attribute those
    assert(streamed.nonEmpty && streamed.values.exists(_ != "direct"))
  }

  test("stream-stream join matches its batch twin within the time window") {
    val stream = spark.readStream
      .schema(EventsStreaming.eventsSchema).parquet(stagedDir)
    val q = EventsStreaming.runToMemory(
      EventsStreaming.purchaseViewJoin(stream), "ssj_out")
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssj_out")
      .select("purchase_id", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = EventsStreaming.purchaseViewJoin(
      graft.Engine.table(spark, TestSpark.sf, "events"))
      .select("purchase_id", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stateful sessionization emits gap-consistent sessions") {
    val stream = spark.readStream
      .schema(EventsStreaming.eventsSchema).parquet(stagedDir)
    val sessions = EventsStreaming.sessionized(spark, stream).toDF()
    val q = EventsStreaming.runToMemory(sessions, "sess_out")
    q.processAllAvailable(); q.stop()
    val out = spark.table("sess_out").collect()
    assert(out.nonEmpty)
    // every emitted session respects the 30-min gap bound internally:
    // t_end - t_start <= n_events * gap
    assert(out.forall { r =>
      val span = r.getTimestamp(2).getTime - r.getTimestamp(1).getTime
      span <= r.getInt(3).toLong * 30L * 60 * 1000
    })
  }

  test("streaming hourly-rate rollup scores anomalies like the batch path") {
    spark.sql("DROP TABLE IF EXISTS rates_rollup")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "rates_rollup")
    if (loc.exists) rm(loc)
    val stream = spark.readStream
      .schema(EventsStreaming.eventsSchema).parquet(stagedDir)
    val q = EventsStreaming.hourlyRatesQuery(stream, "rates_rollup")
    q.processAllAvailable(); q.stop()

    val rollup = spark.table("rates_rollup").collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) -> r.getLong(2)).toMap
    val batchHourly = Engine.table(spark, TestSpark.sf, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
    val batchMap = batchHourly.collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) -> r.getLong(2)).toMap
    // every finalized window carries the exact batch count; only the
    // un-finalized tail (inside the 2h watermark of the max event time)
    // may be absent
    assert(rollup.nonEmpty)
    assert(rollup.forall { case (k, v) => batchMap(k) == v },
      "a finalized hourly count diverged from the batch count")
    val maxHr = batchMap.keys.map(_._2.getTime).max
    val missing = batchMap.keys.filterNot(rollup.contains)
    assert(missing.forall(_._2.getTime >= maxHr - 3L * 3600 * 1000),
      s"non-tail hours missing from the rollup: ${missing.take(3)}")

    // scoring over the rollup == scoring the batch hourly table
    // restricted to the same finalized horizon
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._2.getTime)).toSeq
    val zStream = canon(Events.anomalyScores(spark.table("rates_rollup")))
    // restrict the batch side via semi join on the rollup keys
    val rollupKeys = spark.table("rates_rollup").select("event_type", "hr")
    val zBatchRestricted = canon(Events.anomalyScores(
      batchHourly.join(rollupKeys, Seq("event_type", "hr"), "left_semi")))
    assert(zStream == zBatchRestricted)

    // the SAME rollup feeds the seasonal (hour-of-day baseline)
    // detector: streaming-maintained scores == batch e19 on the same
    // finalized horizon
    val sStream = canon(Events.seasonalScores(spark.table("rates_rollup")))
    val sBatchRestricted = canon(Events.seasonalScores(
      batchHourly.join(rollupKeys, Seq("event_type", "hr"), "left_semi")))
    assert(sStream == sBatchRestricted)
    assert(sStream.nonEmpty || zStream.nonEmpty,
      "both detectors empty on the staged stream — test data too flat")
  }

  test("streaming sketch-cube maintenance: rollup estimates == direct scan") {
    spark.sql("DROP TABLE IF EXISTS ev_sketch_stream")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "ev_sketch_stream")
    if (loc.exists) rm(loc)
    val stream = spark.readStream
      .schema(EventsStreaming.eventsSchema).parquet(stagedDir)
    val q = EventsStreaming.sketchRollupQuery(stream, "ev_sketch_stream",
      Seq("event_type"), Seq("user_id"))
    q.processAllAvailable(); q.stop()

    // union-of-sketches == sketch-of-union: the streamed table, merged
    // at query time, estimates exactly what one direct scan estimates
    val rolled = graft.Layout.rollupSketches(spark.table("ev_sketch_stream"),
        Seq("event_type"), Seq("user_id"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = Engine.table(spark, TestSpark.sf, "events")
      .groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("u"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rolled == direct, s"rolled=$rolled direct=$direct")
  }

  test("streaming exact-percentile maintenance: merged rollup == percentile() bit-for-bit, replay-safe") {
    spark.sql("DROP TABLE IF EXISTS ev_exact_quant_stream")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "ev_exact_quant_stream")
    if (loc.exists) rm(loc)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(EventsStreaming.eventsSchema).parquet(stagedDir)
      val q = EventsStreaming.exactQuantileRollupQuery(stream,
        "ev_exact_quant_stream", Seq("event_type"), "value")
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    def rolled(): Map[String, (Long, Long, Long)] = {
      // replay overwrites batch_id partitions in place — drop the
      // cached file index before re-reading
      spark.catalog.refreshTable("ev_exact_quant_stream")
      EventsStreaming.readExactQuantiles(spark.table("ev_exact_quant_stream"),
          Seq("event_type"), "value", Seq(0.5 -> "p50", 0.95 -> "p95"))
        .collect().map(r => r.getString(0) -> (r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toMap
    }
    val first = rolled()
    val direct = Engine.table(spark, TestSpark.sf, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"))
      .collect().map(r => r.getString(0) -> (r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toMap
    assert(first == direct, "streamed exact percentiles must equal one-scan percentile() bit-for-bit")
    // a full replay (fresh query, same source, batch ids restart at 0)
    // must not change the table: idempotentBatchAppend absorbs it
    runOnce()
    assert(rolled() == first, "replayed batches must land idempotently")
  }

  test("streaming quantile-sketch maintenance: merged p50/p95 within rank error") {
    spark.sql("DROP TABLE IF EXISTS ev_quant_stream")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "ev_quant_stream")
    if (loc.exists) rm(loc)
    val stream = spark.readStream
      .schema(EventsStreaming.eventsSchema).parquet(stagedDir)
    val q = EventsStreaming.quantileRollupQuery(stream, "ev_quant_stream",
      Seq("event_type"), Seq("value"))
    q.processAllAvailable(); q.stop()

    val rolled = graft.Layout.rollupQuantiles(spark.table("ev_quant_stream"),
        Seq("event_type"), Seq("value"), Seq(0.5, 0.95))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val byType = Engine.table(spark, TestSpark.sf, "events")
      .select("event_type", "value").collect()
      .groupBy(_.getString(0)).map { case (t, rows) =>
        t -> rows.map(_.getDouble(1)).sorted }
    for ((t, vals) <- byType) {
      val (n, p50, p95) = rolled(t)
      assert(n == vals.length, s"$t count")
      def rankOf(v: Double): Double = vals.count(_ <= v).toDouble / vals.length
      assert(math.abs(rankOf(p50) - 0.5) <= 0.03, s"$t p50=$p50 rank=${rankOf(p50)}")
      assert(math.abs(rankOf(p95) - 0.95) <= 0.03, s"$t p95=$p95 rank=${rankOf(p95)}")
    }
  }

  test("chaos: crash between batch write and checkpoint commit — serve path equals uninterrupted twin") {
    // r11 asserted replay idempotence by RE-RUNNING a batch; this
    // induces the actual crash window. After batch 1's foreachBatch
    // write lands, the checkpoint's commits/1 marker is deleted (the
    // exact on-disk state of a crash between the table write and the
    // commit) AND the landed batch-1 partition is mangled to one row
    // (the on-disk state of a crash MIDWAY through the write, before
    // dynamic partition overwrite swapped the full file set in). A
    // restart from the checkpoint must replay batch 1, replace the
    // partial partition, and serve EXACTLY what an uninterrupted run
    // serves.
    import java.nio.file.Files
    val src = Files.createTempDirectory("ev_chaos_src").toString
    val ckpt = Files.createTempDirectory("ev_chaos_ckpt").toString
    def rmDir(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmDir); f.delete(); ()
    }
    for (t <- Seq("ev_chaos_rollup", "ev_chaos_twin")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists) rmDir(loc)
    }
    val events = Engine.table(spark, TestSpark.sf, "events")
    def start(table: String, cp: Option[String]) = {
      val stream = spark.readStream
        .schema(EventsStreaming.eventsSchema).parquet(src)
      EventsStreaming.exactQuantileRollupQuery(stream, table,
        Seq("event_type"), "value", cp)
    }
    // batch 0: even event_ids; batch 1: odd
    events.filter(col("event_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(src)
    var q = start("ev_chaos_rollup", Some(ckpt))
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    events.filter(col("event_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(src)
    q = start("ev_chaos_rollup", Some(ckpt))
    q.processAllAvailable(); q.stop(); q.awaitTermination()

    // induce the crash window on batch 1
    val commit = new java.io.File(s"$ckpt/commits/1")
    assert(commit.exists, "expected commits/1 in the checkpoint")
    assert(commit.delete())
    // the checksum FS shadows every log file with .N.crc; a stale crc
    // makes the replay's atomic rename fail as "concurrent use"
    new java.io.File(s"$ckpt/commits/.1.crc").delete()
    spark.catalog.refreshTable("ev_chaos_rollup")
    val fullBatch1 = spark.table("ev_chaos_rollup")
      .filter(col("batch_id") === 1L).drop("batch_id").cache()
    val fullRows = fullBatch1.count()
    assert(fullRows > 1)
    graft.Layout.idempotentBatchAppend( // the half-written state
      fullBatch1.limit(1), "ev_chaos_rollup", 1L, Seq.empty)
    fullBatch1.unpersist()

    // restart: the engine sees offsets/1 without commits/1 -> replays
    q = start("ev_chaos_rollup", Some(ckpt))
    q.processAllAvailable(); q.stop(); q.awaitTermination()

    // uninterrupted twin (single batch — a DIFFERENT batch split, which
    // the serve-path rollup must be invariant to)
    val tq = start("ev_chaos_twin", None)
    tq.processAllAvailable(); tq.stop(); tq.awaitTermination()

    def serve(t: String) = {
      spark.catalog.refreshTable(t)
      EventsStreaming.readExactQuantiles(spark.table(t),
          Seq("event_type"), "value", Seq(0.5 -> "p50", 0.95 -> "p95"))
        .collect().map(r => r.getString(0) -> (r.getLong(1),
          r.getDouble(2), r.getDouble(3))).toMap
    }
    assert(serve("ev_chaos_rollup") == serve("ev_chaos_twin"),
      "post-crash replay diverged from the uninterrupted twin")
    // and the mangled partition was fully replaced, not appended to
    spark.catalog.refreshTable("ev_chaos_rollup")
    assert(spark.table("ev_chaos_rollup")
      .filter(col("batch_id") === 1L).count() == fullRows)
  }
}
