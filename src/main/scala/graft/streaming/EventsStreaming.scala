package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` stream (SURVEY §2.9 — the
  * reference has no streaming; this is new-build scope per TESTDATA.md).
  *
  * Design: all analytics reuse the BATCH transforms in
  * graft.operators.Events where Spark's unified model allows (windowed
  * aggregation); genuinely stateful pieces (sessionization with gap
  * timeout, keyed dedup with watermark eviction) live here on
  * [flatMap|map]GroupsWithState. State is bounded by watermarks — at
  * 100 TB/day the state store holds only open sessions / in-watermark
  * dedup keys, not history.
  */
object EventsStreaming {

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over a directory of event parquet files. */
  def readEvents(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(eventsSchema).parquet(path)

  /** Tumbling-window stats with late-data handling: watermark bounds
    * state; append mode emits finalized windows only. */
  def windowedStats(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("hr"), col("event_type"), col("n"),
        col("total_value"))

  /** Continuous rate-anomaly monitoring, ingestion stage: watermarked
    * hourly counts appended to a rollup table as each (type, hour)
    * window FINALIZES (append mode emits every window exactly once, so
    * the rollup needs no read-modify-write). Scoring is
    * `Events.anomalyScores` over the rollup — |types| x |hours| rows,
    * independent of event volume; the corpus-sized stream is touched
    * only by this one windowed aggregation.
    *
    * Durability: the rollup write is `Layout.idempotentBatchAppend`
    * (batch_id dynamic partition overwrite) — a replayed micro-batch
    * after failure/restart replaces its own rows, so duplicate
    * (event_type, hr) rows can never skew anomalyScores' window stats.
    * Pass `checkpointLocation` in production so restarts resume from
    * committed offsets. */
  def hourlyRatesQuery(events: DataFrame, table: String,
      watermark: String = "2 hours",
      checkpointLocation: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("w.start").as("hr"), col("n"))
      .writeStream.outputMode(OutputMode.Append)
    checkpointLocation.fold(w)(l => w.option("checkpointLocation", l))
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        graft.Layout.idempotentBatchAppend(b, table, batchId, Seq.empty)
      }.start()
  }

  /** Continuous sketch-cube maintenance — the streaming side of
    * `Layout.writeSketchTable`'s 100 TB discipline: each micro-batch
    * aggregates to its own per-group HLL sketch rows (one sketch per
    * tracked column + the exact row count) and lands idempotently in
    * the sketch table; any coarser question at query time is
    * `Layout.rollupSketches` over the tiny table, and because
    * union-of-sketches IS the sketch-of-union, the rolled-up estimates
    * equal what a direct scan of everything streamed so far would
    * estimate. Replay safety matters doubly here: a duplicated batch
    * would not just double n_rows, it would bias every merged
    * estimate — hence `idempotentBatchAppend`, not a plain append. */
  def sketchRollupQuery(events: DataFrame, table: String,
      groupCols: Seq[String], sketchCols: Seq[String],
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val w = events.writeStream
    checkpointLocation.fold(w)(l => w.option("checkpointLocation", l))
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        val aggs = sketchCols.map(c =>
          expr(s"hll_sketch_agg($c)").as(s"hll_$c")) :+
          count(lit(1)).as("n_rows")
        graft.Layout.idempotentBatchAppend(
          b.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*),
          table, batchId, Seq.empty)
      }.start()
  }

  /** Continuous QUANTILE-sketch maintenance — the KLL companion to
    * [[sketchRollupQuery]] (Layout.writeQuantileTable's streaming
    * half): per micro-batch, one KLL sketch per tracked column per
    * group plus the exact count, landed idempotently;
    * `Layout.rollupQuantiles` merges at query time. The rank-error
    * bound survives the per-batch split exactly like the per-grain
    * split (KLL merge associativity). */
  def quantileRollupQuery(events: DataFrame, table: String,
      groupCols: Seq[String], quantCols: Seq[String],
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val w = events.writeStream
    checkpointLocation.fold(w)(l => w.option("checkpointLocation", l))
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        val aggs = quantCols.map(c =>
          expr(s"kll_sketch_agg_double(CAST($c AS DOUBLE))").as(s"kll_$c")) :+
          count(lit(1)).as("n_rows")
        graft.Layout.idempotentBatchAppend(
          b.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*),
          table, batchId, Seq.empty)
      }.start()
  }

  /** Continuous EXACT-percentile maintenance — the exact companion to
    * [[quantileRollupQuery]]'s KLL sketches, enabled by the same
    * insight as the batch engine's rollup (operators/Percentiles): a
    * count-by-value table IS a mergeable summary for exact order
    * statistics. Each micro-batch lands its own (group, value, count)
    * partial rows idempotently; counts sum associatively under any
    * replay-safe batch/partition topology, so [[readExactQuantiles]]
    * over the streamed table equals `percentile()` over a direct scan
    * of everything streamed — bit-identical, not within rank error.
    * State per (group, value) is one long: bounded by the value-domain
    * cardinality, the identical 100 TB trade the batch queries make. */
  def exactQuantileRollupQuery(events: DataFrame, table: String,
      groupCols: Seq[String], valueCol: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val w = events.writeStream
    checkpointLocation.fold(w)(l => w.option("checkpointLocation", l))
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        graft.Layout.idempotentBatchAppend(
          b.groupBy((groupCols :+ valueCol).map(col): _*)
            .agg(count(lit(1)).as("vc")),
          table, batchId, Seq.empty)
      }.start()
  }

  /** Exact percentiles from a streamed count-by-value table: re-sum
    * the per-batch partials and run the batch engine's bounded-state
    * interpolation — bit-identical to the collecting `percentile()`
    * aggregate over one scan of the full stream. */
  def readExactQuantiles(rollup: DataFrame, groupCols: Seq[String],
      valueCol: String, ps: Seq[(Double, String)]): DataFrame = {
    val cnt = rollup.groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(sum("vc").as("c"))
    graft.operators.Percentiles.percentilesFromCounts(
      cnt, groupCols, valueCol, "c", ps)
  }

  /** Streaming dedup on event_id within the watermark horizon. */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates("event_id")

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, total: Double)
  final case class SessionOut(user_id: Long, t_start: Timestamp, t_end: Timestamp,
      n_events: Int, total_value: Double)

  /** Gap-based sessionization (30 min) via flatMapGroupsWithState: emits a
    * session when its gap timeout fires. The batch twin (identical
    * semantics on a closed dataset) is graft.operators.Events.sessionize.
    */
  def sessionized(spark: SparkSession, events: DataFrame,
      gapMinutes: Int = 30): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", s"$gapMinutes minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, new Timestamp(s.start),
              new Timestamp(s.last), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  closed += SessionOut(userId, new Timestamp(s.start),
                    new Timestamp(s.last), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  final case class TransState(lastTs: Long, lastId: Long, lastType: String)
  final case class TransOut(user_id: Long, src: String, dst: String)

  /** Streaming twin of the batch e15 transition extraction: keyed state
    * holds only each user's LAST event; a micro-batch sorts its per-user
    * slice by (ts, event_id) — bounded by one user's per-trigger volume,
    * the sessionized() discipline — emits one (src, dst) pair per
    * consecutive event, and bridges across micro-batch boundaries
    * through the stored last event. State is ONE fixed-size row per
    * observed user. Counts/probabilities aggregate downstream exactly as
    * in batch. Divergence contract (cf. capPerSource): emitted pairs
    * equal the batch (ts, event_id) total order only when per-user
    * arrival respects event time across triggers; a late event arriving
    * after a newer one has been bridged would have changed the adjacency
    * in batch — Append output cannot retract the already-emitted pair. */
  def transitions(spark: SparkSession, events: DataFrame): Dataset[TransOut] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[TransState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            val types = state.getOption.map(_.lastType).toSeq ++
              sorted.map(_.event_type)
            val last = sorted.last
            state.update(TransState(last.ts.getTime, last.event_id,
              last.event_type))
            types.sliding(2).collect { case Seq(a, b) => TransOut(uid, a, b) }
          }
      }
  }

  /** Continuous transition-matrix maintenance — the durable side of
    * [[transitions]] (the e15 twin): each micro-batch's bridged
    * (src, dst) pairs aggregate to counts and land idempotently in a
    * rollup table; the matrix at query time is SUM(cnt) per (src, dst)
    * — counts ADD, so per-batch rows roll up exactly like per-grain
    * rows, and a replayed batch replaces its own rows instead of
    * double-counting transitions (the sketchRollupQuery discipline). */
  def transitionRollupQuery(spark: SparkSession, events: DataFrame,
      table: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val w = transitions(spark, events).toDF()
      .writeStream.outputMode(OutputMode.Append)
    checkpointLocation.fold(w)(l => w.option("checkpointLocation", l))
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        graft.Layout.idempotentBatchAppend(
          b.groupBy("src", "dst").agg(count(lit(1)).as("cnt")),
          table, batchId, Seq.empty)
      }.start()
  }

  final case class TouchState(touch: String)
  final case class AttribOut(user_id: Long, event_id: Long, touch: String,
      value: Double)

  /** Streaming twin of the batch e28 last-touch attribution: keyed
    * state carries each user's most recent NON-purchase event type; a
    * micro-batch sorts its per-user slice by (ts, event_id) — bounded
    * by one user's per-trigger volume, the [[transitions]] discipline —
    * emits one attributed row per purchase ('direct' when no touch has
    * ever been seen), and bridges across micro-batch boundaries through
    * the stored touch. State is ONE string per observed user (smaller
    * than transitions' state). Same divergence contract as
    * [[transitions]]: parity with the batch window holds when per-user
    * arrival respects event time across triggers; Append cannot
    * re-attribute an already-emitted purchase after a late touch. */
  def attribution(spark: SparkSession, events: DataFrame): Dataset[AttribOut] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, AttribOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[TouchState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var touch = state.getOption.map(_.touch).orNull
          val out = Seq.newBuilder[AttribOut]
          sorted.foreach { e =>
            if (e.event_type == "purchase")
              out += AttribOut(uid, e.event_id,
                if (touch == null) "direct" else touch, e.value)
            else touch = e.event_type
          }
          if (touch != null) state.update(TouchState(touch))
          out.result().iterator
      }
  }

  /** Stream-stream join: each purchase joined to page views of the same
    * user within the preceding hour. Both sides carry watermarks so the
    * join state store is bounded (views retained only inside the time
    * window — the 100 TB/day state discipline). */
  def purchaseViewJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(views,
      col("user_id") === col("v_user") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select("purchase_id", "user_id", "purchase_ts", "view_id", "view_ts", "value")
  }

  /** Convenience: drive any streaming frame to a named in-memory sink and
    * process everything currently available (local smoke path). */
  def runToMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append): StreamingQuery = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q
  }
}
