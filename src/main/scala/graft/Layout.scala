package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Physical table layout for 100 TB: partitioning and bucketing.
  *
  * The reference's storage layout is L0/L1/L2 column files under a
  * per-table directory with a manifest (reference src/access/sv.rs:
  * 130-138); the Spark-native equivalents that carry its *intent* are:
  *
  *  - **date/hash partition directories** — the unit of pruning: a
  *    filter on the partition column never opens non-matching files
  *    (PartitionFilters in the scan, vs the manifest's file-level xmin
  *    filtering);
  *  - **bucketed tables** — pre-shuffled layout on the join/agg key: a
  *    join of two tables bucketed on the same key by the same bucket
  *    count runs with NO exchange on either side (the co-located join
  *    discipline for repeated fact-fact joins);
  *  - the parquet commit protocol — the manifest/atomic-publish analogue
  *    (sv.rs:537-554).
  *
  * At 100 TB: partition by ingestion date (or hash of a high-cardinality
  * key) so single-day queries touch 1/Nth of the lake; bucket the fact
  * tables on their dominant join key (e.g. orderkey) so the daily joins
  * skip both shuffles; let AQE coalesce small output partitions.
  */
object Layout {

  /** Write `df` as a partitioned parquet table (directory per value of
    * `partitionCols`). */
  def writePartitioned(df: DataFrame, table: String,
      partitionCols: Seq[String]): Unit =
    savePartitioned(df, table, partitionCols, SaveMode.Overwrite)

  private def savePartitioned(df: DataFrame, table: String,
      partitionCols: Seq[String], mode: SaveMode): Unit =
    df.write.mode(mode)
      .partitionBy(partitionCols: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Write `df` bucketed (+ sorted) on `key` — co-located layout for
    * shuffle-free equi-joins/aggregations on `key`. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Persist an IVF-PQ index (`VectorSearch.encodeIvfPq` rows)
    * partitioned by cell id: probed cells become parquet partition
    * pruning in `VectorSearch.ivfPqTopKIndexed` — the encode-once /
    * search-many ANN serving layout. */
  def writeIvfIndex(indexRows: DataFrame, table: String): Unit =
    writePartitioned(indexRows, table, Seq("cid"))

  /** Incremental index maintenance: append newly-arrived vectors,
    * encoded with the SAME PqModel the index was built with (the model
    * is a deterministic function of the original corpus sample, so it
    * must not be re-derived from the grown corpus — re-deriving would
    * silently re-cell existing entries). New files land only in the
    * partitions the new rows hash to; existing files are untouched. */
  def appendIvfIndex(indexRows: DataFrame, table: String): Unit =
    savePartitioned(indexRows, table, Seq("cid"), SaveMode.Append)

  /** Persist an LSH index (`VectorSearch.encodeLsh` rows) partitioned
    * by the combined bucket code: probed buckets become partition
    * pruning in `VectorSearch.lshTopKIndexed`. */
  def writeLshIndex(indexRows: DataFrame, table: String): Unit =
    writePartitioned(indexRows, table, Seq("pcode"))

  /** Idempotent micro-batch append for STREAM-maintained tables: each
    * batch's rows land under partitions (partCols..., batch_id=N) via
    * DYNAMIC partition overwrite, so a replayed micro-batch (crash
    * between the parquet write and the checkpoint commit) REPLACES its
    * own partitions instead of duplicating rows — the exactly-once
    * recipe for an append-only parquet sink (Structured Streaming
    * re-runs a batch with the same batchId and the same checkpointed
    * offsets, so the replacement is byte-equivalent). Reads are
    * unchanged: filters on the leading partition columns still prune
    * (batch_id is a trailing partition level), batch_id rides along as
    * an extra column. The table is OWNED by its stream — created on
    * the first batch with the batch_id partition; don't mix with
    * batch-built tables (writeIvfIndex layouts have no batch_id). */
  def idempotentBatchAppend(rows: DataFrame, table: String,
      batchId: Long, partCols: Seq[String]): Unit = {
    val spark = rows.sparkSession
    val withId = rows.withColumn("batch_id", lit(batchId))
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(mode)
    spark.conf.set(mode, "dynamic")
    try {
      if (spark.catalog.tableExists(table)) {
        // insertInto is position-based: align to the table's column order
        val cols = spark.table(table).columns.toIndexedSeq
        withId.select(cols.map(col): _*)
          .write.mode(SaveMode.Overwrite).insertInto(table)
      } else {
        withId.write.mode(SaveMode.Overwrite)
          .partitionBy((partCols :+ "batch_id"): _*)
          .format("parquet").saveAsTable(table)
      }
    } finally prev match {
      case Some(v) => spark.conf.set(mode, v)
      case None => spark.conf.unset(mode)
    }
    // the batch's files are on disk, the commit log entry is not yet —
    // the exact window the dynamic-overwrite replay protocol exists for
    Chaos.afterBatchWrite(spark, batchId)
  }

  /** Pre-aggregated distinct-count sketch table: one row per fine-grain
    * group carrying a mergeable HLL sketch per tracked column (plus the
    * exact row count). The OLAP cube-maintenance pattern at 100 TB:
    * the corpus is scanned ONCE at write time; any coarser rollup later
    * is a merge over the tiny sketch table — and because
    * union-of-sketches IS the sketch-of-union, rolled-up estimates are
    * IDENTICAL to what a direct scan would estimate (asserted in
    * LayoutSpec), not a second approximation. */
  def writeSketchTable(df: DataFrame, table: String,
      groupCols: Seq[String], sketchCols: Seq[String]): Unit =
    saveSketches(df, table, groupCols, sketchCols, SaveMode.Overwrite)

  /** Delta-append newly-arrived rows' sketches: a batch aggregates to
    * its own sketch rows and appends; the query-time rollup merges
    * per-batch rows exactly like per-grain rows (sketch union is
    * associative and commutative), so incremental maintenance needs no
    * read-modify-write of existing rows. */
  def appendSketchTable(df: DataFrame, table: String,
      groupCols: Seq[String], sketchCols: Seq[String]): Unit =
    saveSketches(df, table, groupCols, sketchCols, SaveMode.Append)

  private def saveSketches(df: DataFrame, table: String,
      groupCols: Seq[String], sketchCols: Seq[String], mode: SaveMode): Unit =
    saveGroups(df, table, groupCols, sketchCols.map(c =>
      expr(s"hll_sketch_agg($c)").as(s"hll_$c")), mode)

  /** Aggregate `df` per `groupCols` (`aggs` plus the exact row count
    * `n_rows`) and save the rows as parquet table `table`. */
  private def saveGroups(df: DataFrame, table: String, groupCols: Seq[String],
      aggs: Seq[Column], mode: SaveMode): Unit = {
    val withCount = aggs :+ count(lit(1)).as("n_rows")
    df.groupBy(groupCols.map(col): _*)
      .agg(withCount.head, withCount.tail: _*)
      .write.mode(mode).format("parquet").saveAsTable(table)
  }

  /** Delta-append moments rows (exact decimal sums add associatively —
    * same incremental discipline as [[appendSketchTable]]). */
  def appendMomentsTable(df: DataFrame, table: String,
      groupCols: Seq[String], momentCols: Seq[String]): Unit =
    saveMoments(df, table, groupCols, momentCols, SaveMode.Append)

  /** Roll a sketch table up to a coarser grain: merge sketches with
    * hll_union_agg, emit estimates + summed exact counts. */
  def rollupSketches(sketchTable: DataFrame, groupCols: Seq[String],
      sketchCols: Seq[String]): DataFrame = {
    val aggs = sketchCols.map(c =>
      expr(s"hll_sketch_estimate(hll_union_agg(hll_$c))").as(s"approx_$c")) :+
      sum(col("n_rows")).as("n_rows")
    sketchTable.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Exact-statistics companion to the sketch table: per fine-grain
    * group, the exact decimal moments (n, Σx, Σx²) of each tracked
    * column. Moments ADD — a coarser rollup sums the decimal columns
    * (exact, order-independent), so rolled-up mean/variance/stddev are
    * EXACTLY what a direct scan computes, with no approximation at
    * either level. This is how per-day stats tables serve per-month
    * questions at 100 TB without rescanning the lake. */
  def writeMomentsTable(df: DataFrame, table: String,
      groupCols: Seq[String], momentCols: Seq[String]): Unit =
    saveMoments(df, table, groupCols, momentCols, SaveMode.Overwrite)

  private def saveMoments(df: DataFrame, table: String,
      groupCols: Seq[String], momentCols: Seq[String], mode: SaveMode): Unit =
    saveGroups(df, table, groupCols, momentCols.flatMap(c => Seq(
      sum(Engine.exactDec(col(c))).as(s"s_$c"),
      sum(Engine.exactDec(col(c) * col(c))).as(s"ss_$c"))), mode)

  /** Roll a moments table to a coarser grain and emit mean / var_samp /
    * stddev_samp per tracked column — the q55 moment formulas over the
    * SUMMED (still exact) moments. */
  def rollupMoments(momentsTable: DataFrame, groupCols: Seq[String],
      momentCols: Seq[String]): DataFrame = {
    val summed = momentsTable.groupBy(groupCols.map(col): _*)
      .agg(sum(col("n_rows")).as("n"),
        momentCols.flatMap(c => Seq(
          sum(col(s"s_$c")).as(s"s_$c"),
          sum(col(s"ss_$c")).as(s"ss_$c"))): _*)
    val outCols = groupCols.map(col) ++ Seq(col("n")) ++ momentCols.flatMap { c =>
      val sx = col(s"s_$c").cast("double")
      val sxx = col(s"ss_$c").cast("double")
      val vr = (sxx - sx * sx / col("n")) / (col("n") - 1)
      Seq(round(sx / col("n"), 6).as(s"mean_$c"),
        round(vr, 4).as(s"var_$c"),
        round(sqrt(vr), 4).as(s"stddev_$c"))
    }
    summed.select(outCols: _*)
  }

  /** Mergeable quantile-sketch table (KLL, double-valued columns) —
    * the third leg of the pre-aggregation discipline next to the HLL
    * distinct table and the exact moments table: one row per fine-
    * grain group carrying a KLL sketch per tracked column plus the
    * exact count. Rollups MERGE sketches (kll_merge_agg) instead of
    * rescanning, so per-day sketch rows answer per-month p50/p99
    * questions over 100 TB from a tiny table. Unlike HLL union (exact
    * sketch-of-union) and moments (exact sums), KLL compaction is
    * randomized — a merged estimate is not bit-identical to a direct
    * sketch; what survives the merge is the published RANK-ERROR bound
    * (~1.65% at the default k), which is what LayoutSpec asserts
    * against exact quantiles. */
  def writeQuantileTable(df: DataFrame, table: String,
      groupCols: Seq[String], quantCols: Seq[String]): Unit =
    saveQuantiles(df, table, groupCols, quantCols, SaveMode.Overwrite)

  /** Delta-append quantile sketches (KLL merge is associative and
    * commutative up to its randomized compaction — per-batch rows roll
    * up exactly like per-grain rows, within the rank-error bound). */
  def appendQuantileTable(df: DataFrame, table: String,
      groupCols: Seq[String], quantCols: Seq[String]): Unit =
    saveQuantiles(df, table, groupCols, quantCols, SaveMode.Append)

  private def saveQuantiles(df: DataFrame, table: String,
      groupCols: Seq[String], quantCols: Seq[String], mode: SaveMode): Unit =
    saveGroups(df, table, groupCols, quantCols.map(c =>
      expr(s"kll_sketch_agg_double(CAST($c AS DOUBLE))").as(s"kll_$c")), mode)

  /** Roll a quantile-sketch table up to a coarser grain: merge each
    * column's sketches, emit the requested quantile estimates + the
    * exact summed counts. */
  def rollupQuantiles(sketchTable: DataFrame, groupCols: Seq[String],
      quantCols: Seq[String], qs: Seq[Double]): DataFrame = {
    val merged = sketchTable.groupBy(groupCols.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        quantCols.map(c =>
          expr(s"kll_merge_agg_double(kll_$c)").as(s"m_$c")): _*)
    val outCols = groupCols.map(col) ++ Seq(col("n_rows")) ++
      quantCols.flatMap { c =>
        qs.map(q =>
          expr(s"kll_sketch_get_quantile_double(m_$c, $q)").as(s"p${(q * 100).toInt}_$c"))
      }
    merged.select(outCols: _*)
  }

  /** Derived date partition column for event-shaped data. */
  def withEventDate(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("event_date", to_date(col(tsCol)))

  /** Compact a table's small files: rewrite with ~`targetFileMB` output
    * files (continuous ingest produces one file per micro-batch/task —
    * the classic small-files problem; compaction restores scan
    * efficiency: fewer footers, full row groups, better codec ratios).
    *
    * Publish discipline (the reference's manifest-publish analogue,
    * sv.rs:537-554): the compacted data is staged under
    * `<table>__compacted`, then published into the target and the staging
    * table dropped — the table name exists at every failure point.
    *
    * Crash recovery: the publish is INSERT OVERWRITE on a file-source
    * table, which is NOT atomic — Spark clears the target's files before
    * the write job commits, so a crash inside that window leaves the
    * target truncated while the staging table holds the only complete
    * copy. Recovery runs on EXPLICIT publish intent, not inference: the
    * publish first durably marks the staging table (a table property in
    * the metastore — the WAL-record analogue of the reference's manifest
    * publish) and the marker only disappears when staging is dropped
    * after a completed overwrite. On entry: staging with the marker =>
    * a publish was in flight => re-publish (idempotent overwrite);
    * staging without the marker => the crash was mid-staging-write =>
    * the target is authoritative and staging is dropped. Row-count
    * comparison is NOT used — it cannot distinguish a truncated target
    * from one that legitimately shrank after the crash.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, table: String,
      targetFileMB: Int = 128): Unit = {
    val staging = s"${table}__compacted"
    if (spark.catalog.tableExists(staging)) {
      if (hasPublishIntent(spark, staging))
        publish(spark, staging, table) // publish was in flight: finish it
      else
        spark.sql(s"DROP TABLE $staging") // crash pre-publish: target authoritative
    }
    val df = spark.table(table)
    val bytes = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .stats.map(_.sizeInBytes.toLong)
      .getOrElse(df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong)
    val files = math.max(1, (bytes / (targetFileMB * 1024L * 1024L)).toInt)
    df.repartition(files).write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(staging)
    publish(spark, staging, table)
  }

  /** Compact a stream-maintained (partCols..., batch_id) table (the
    * [[idempotentBatchAppend]] layout): fold every batch partition into
    * a single batch_id = -1 "compacted epoch", fixing continuous
    * ingest's one-partition-per-micro-batch small-files problem while
    * keeping the table append-compatible — future batches land
    * normally next to the epoch, and leading-column pruning is
    * unchanged. MUST only run once the stream's checkpoint has
    * committed every batch present: a replay of a compacted batch
    * would re-add rows the epoch already holds (the standard contract
    * for any external rewrite of a streaming sink's table). Crash-safe
    * via the same staging + publish-intent protocol as [[compact]]. */
  def compactBatchTable(spark: org.apache.spark.sql.SparkSession,
      table: String, partCols: Seq[String], targetFiles: Int = 1): Unit = {
    val staging = s"${table}__compacted"
    if (spark.catalog.tableExists(staging)) {
      if (hasPublishIntent(spark, staging))
        publish(spark, staging, table)
      else
        spark.sql(s"DROP TABLE $staging")
    }
    spark.table(table).withColumn("batch_id", lit(-1L))
      .repartition(targetFiles)
      .write.mode(SaveMode.Overwrite)
      .partitionBy((partCols :+ "batch_id"): _*)
      .format("parquet").saveAsTable(staging)
    publish(spark, staging, table)
  }

  /** Marker recorded in the metastore BEFORE the destructive overwrite
    * begins; cleared only by dropping staging after it completes. */
  private val PublishIntentProp = "graft.publish_intent"

  private def hasPublishIntent(spark: org.apache.spark.sql.SparkSession,
      staging: String): Boolean =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(staging))
      .properties.contains(PublishIntentProp)

  /** Durably record intent, INSERT OVERWRITE `target` from `staging`,
    * then drop `staging` (which clears the intent) — staging's data
    * outlives the publish so a crash at any point is recoverable by
    * compact()'s entry reconciliation, and re-publish is idempotent. */
  private def publish(spark: org.apache.spark.sql.SparkSession,
      staging: String, target: String): Unit = {
    spark.sql(
      s"ALTER TABLE $staging SET TBLPROPERTIES('$PublishIntentProp' = '$target')")
    spark.table(staging).write.mode(SaveMode.Overwrite).insertInto(target)
    spark.sql(s"DROP TABLE $staging")
  }

  /** Z-order (Morton) clustering write: cluster `df` on MULTIPLE numeric
    * columns at once so every output file covers a narrow min/max range
    * of EACH column — parquet column stats then prune scans filtered on
    * any clustered column, not just the first sort key (a lexicographic
    * sort gives file-level locality only on its leading column).
    *
    * Mechanics: each column is min/max-normalized into 2^bits buckets
    * (one tiny agg job for the bounds), the bucket bits are interleaved
    * into a Morton key (native kernel, functions.InterleaveBits), and
    * the data is range-partitioned + sorted by that key. At 100 TB the
    * bounds agg is a full scan but a scalar result; use known domain
    * bounds via `boundsHint` to skip it. Skew caveat: min/max bucketing
    * degrades under heavy-tailed columns (most rows share few buckets) —
    * quantile bucketing would be the upgrade, at the cost of an
    * approx-percentile pass.
    */
  def writeZOrdered(df: DataFrame, table: String, zCols: Seq[String],
      files: Int, bits: Int = 16,
      boundsHint: Map[String, (Double, Double)] = Map.empty): Unit = {
    require(zCols.nonEmpty && zCols.size <= 8, "1..8 z-order columns")
    val bounds: Map[String, (Double, Double)] =
      if (zCols.forall(boundsHint.contains)) boundsHint
      else {
        val aggs = zCols.flatMap(c =>
          Seq(min(col(c).cast("double")).as(s"mn_$c"),
            max(col(c).cast("double")).as(s"mx_$c")))
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        zCols.zipWithIndex.map { case (c, i) =>
          // empty/all-null input -> any constant bounds work (bucket 0)
          if (r.isNullAt(2 * i)) c -> (0.0, 1.0)
          else c -> (r.getDouble(2 * i), r.getDouble(2 * i + 1))
        }.toMap
      }
    // bits capped at 31: the bucket is materialized as int for the
    // interleave kernel, and 2^31+ buckets would wrap the cast negative
    // (scrambling the Morton order); 31 bits/column already far exceeds
    // any useful stats-pruning granularity
    val top = (1L << math.min(math.min(bits, 31), 63 / zCols.size)) - 1
    val buckets = zCols.map { c =>
      val (mn, mx) = bounds(c)
      val span = if (mx > mn) mx - mn else 1.0
      least(lit(top), greatest(lit(0L),
        ((col(c).cast("double") - lit(mn)) / lit(span) * lit(top.toDouble))
          .cast("long"))).cast("int")
    }
    writeByZ(df, table, buckets, files)
  }

  /** Skew-resistant Z-order: bucket each column by its QUANTILE grid
    * instead of min/max normalization — the upgrade [[writeZOrdered]]'s
    * doc comment names. Under a heavy-tailed column, min/max bucketing
    * collapses (most rows share the bottom buckets, so the Morton curve
    * degrades to ordering by the other columns and file-level locality
    * on the skewed column is lost); equal-MASS buckets keep every bucket
    * holding ~1/2^bits of the rows regardless of the value distribution,
    * so the curve tiles rank space uniformly.
    *
    * Cost model at 100 TB: ONE extra `approx_percentile` scan (bounded
    * sketch state per partition, mergeable) returning (2^bits - 1) x
    * |zCols| doubles to the driver — scalar-sized, independent of data
    * volume. Bucketing each row then costs O(2^bits) comparisons against
    * the literal cut array, which is why `bits` defaults to 8 here (256
    * buckets per column — already far finer than file-level min/max
    * stats can exploit) rather than [[writeZOrdered]]'s 16.
    *
    * Cut ties (heavily duplicated values) merge adjacent buckets —
    * harmless: rows equal on the column cannot be separated by any
    * clustering. Nulls bucket to 0 (sort first), matching the
    * interleave kernel's null contract. */
  def writeZOrderedQuantile(df: DataFrame, table: String, zCols: Seq[String],
      files: Int, bits: Int = 8, accuracy: Int = 10000): Unit = {
    require(zCols.nonEmpty && zCols.size <= 8, "1..8 z-order columns")
    val nb = 1 << math.min(bits, math.min(31, 63 / zCols.size))
    val fracs = (1 until nb).map(i => i.toDouble / nb)
    val aggs = zCols.map(c => expr(
      s"approx_percentile(CAST($c AS DOUBLE), array(${fracs.mkString(",")}), $accuracy)")
      .as(s"cuts_$c"))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val buckets = zCols.zipWithIndex.map { case (c, i) =>
      val cuts: Seq[Double] =
        if (row.isNullAt(i)) Seq.empty else row.getSeq[Double](i)
      if (cuts.isEmpty) lit(0) // empty/all-null input: single bucket
      else
        // bucket = #cuts <= value; a null value nulls the lambda, filter
        // drops every element -> bucket 0
        size(filter(array(cuts.map(lit): _*),
          x => x <= col(c).cast("double")))
    }
    writeByZ(df, table, buckets, files)
  }

  /** Shared Morton-write tail: interleave the per-column buckets, range-
    * partition + sort by the z-value, drop it, publish the table. */
  private def writeByZ(df: DataFrame, table: String, buckets: Seq[Column],
      files: Int): Unit = {
    val zv = graft.functions.GraftFunctions.interleaveBits(buckets: _*)
    df.withColumn("__z", zv)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)
  }

  // ---- persisted classifier models (train once, score any slice
  // later — the serving-index story applied to MODELS): the t28 NB
  // model and the c02 centroid model land as tiny catalog tables
  // (vocab-bounded / |classes| x dim), and the scoring halves run the
  // exact same arithmetic against the loaded tables, so persisted-model
  // predictions equal in-plan predictions EXACTLY (LayoutSpec). A
  // 100 TB pipeline never re-trains per scoring slice: nightly
  // training refreshes the tables; every downstream filter job reads
  // them as broadcast-sized joins.

  /** Train the multinomial-NB model on `docs` and persist it as
    * `<table>_tokens` (clang, token, c) + `<table>_classes`
    * (clang, prior, tot, v). */
  def writeNbModel(docs: DataFrame, table: String): Unit = {
    val (ct, classes) = graft.operators.TextPipeline.nbTrain(docs)
    ct.write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${table}_tokens")
    classes.write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${table}_classes")
  }

  /** Score `docs` with a persisted NB model: (doc_id, lang, pred). */
  def nbClassify(docs: DataFrame, table: String): DataFrame = {
    val spark = docs.sparkSession
    graft.operators.TextPipeline.nbScore(docs,
      spark.table(s"${table}_tokens"), spark.table(s"${table}_classes"))
  }

  /** Train the c02 centroid model on `e` and persist it as a
    * (label, pos, m) table. */
  def writeCentroidModel(e: DataFrame, table: String): Unit = {
    import e.sparkSession.implicits._
    graft.operators.Cluster.trainCentroids(e)
      .flatMap { case (l, c) => c.zipWithIndex.map { case (m, p) => (l, p, m) } }
      .toDF("label", "pos", "m")
      .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)
  }

  /** Classify `e` against a persisted centroid model: the model table
    * collects to |classes| x dim driver doubles (its full size) and the
    * scan-only scoring half runs unchanged. */
  def centroidClassify(e: DataFrame, table: String): DataFrame = {
    val cents = e.sparkSession.table(table).collect()
      .groupBy(_.getInt(0))
      .map { case (l, rs) =>
        l -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
      }
      .toSeq.sortBy(_._1)
    graft.operators.Cluster.classifyByCentroids(e, cents)
  }
}
