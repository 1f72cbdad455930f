package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-level proof of the 100 TB layout claims: partition pruning
  * reaches the scan, and bucketed joins/aggregations run shuffle-free. */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    if (loc.exists()) new scala.reflect.io.Directory(loc).deleteRecursively()
  }

  test("date-partitioned events: filters become PartitionFilters (pruning)") {
    freshTable("events_by_date")
    val ev = Layout.withEventDate(
      Engine.table(spark, TestSpark.sf, "events"), "ts")
    Layout.writePartitioned(ev, "events_by_date", Seq("event_date"))

    val q = spark.table("events_by_date")
      .filter(col("event_date") === "2024-01-05")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan)
    assert(plan.contains("event_date"), plan)
    // pruned scan reads only the matching partition's rows
    val all = spark.table("events_by_date").count()
    val day = q.count()
    assert(day > 0 && day < all)
  }

  test("compaction collapses a many-small-files table to few files") {
    freshTable("frag_t"); freshTable("frag_t__compacted")
    Engine.table(spark, TestSpark.sf, "lineitem")
      .repartition(40) // simulate 40 micro-batch files
      .write.format("parquet").saveAsTable("frag_t")
    def nFiles = {
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "frag_t")
      Option(loc.listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    }
    val before = nFiles
    assert(before >= 40)
    val rows = spark.table("frag_t").count()
    Layout.compact(spark, "frag_t")
    assert(nFiles < 5, s"files after compact: $nFiles")
    assert(spark.table("frag_t").count() == rows) // no data loss
  }

  test("bucketed fact tables join with no exchange on either side") {
    freshTable("li_bucketed"); freshTable("ord_bucketed")
    Layout.writeBucketed(
      Engine.table(spark, TestSpark.sf, "lineitem")
        .withColumnRenamed("l_orderkey", "okey"),
      "li_bucketed", "okey", buckets = 8)
    Layout.writeBucketed(
      Engine.table(spark, TestSpark.sf, "orders")
        .withColumnRenamed("o_orderkey", "okey"),
      "ord_bucketed", "okey", buckets = 8)

    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"), "okey")
      .groupBy("okey").agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(joined.count() > 0)

    // and the same join WITHOUT bucketing does shuffle — the layout is
    // what removes the exchanges, not some global config
    val unbucketed = Engine.table(spark, TestSpark.sf, "lineitem")
      .withColumnRenamed("l_orderkey", "okey")
      .join(Engine.table(spark, TestSpark.sf, "orders")
        .withColumnRenamed("o_orderkey", "okey")
        .hint("merge"), "okey")
    assert(unbucketed.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"))
  }

  test("z-order clustering narrows per-file ranges on BOTH columns") {
    freshTable("grid_z"); freshTable("grid_lin")
    import spark.implicits._
    // a 256x256 grid: x and y independent, so any lexicographic sort
    // leaves the trailing column spread across the full domain per file
    val grid = (0 until 256).flatMap(x => (0 until 256).map(y => (x, y)))
      .toDF("x", "y")
    Layout.writeZOrdered(grid, "grid_z", Seq("x", "y"), files = 16)
    grid.repartitionByRange(16, col("x"), col("y"))
      .write.format("parquet").saveAsTable("grid_lin")

    // per-file min/max spans are exactly what parquet stats pruning sees
    def meanSpan(table: String, c: String): Double = {
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
      val files = loc.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length >= 8, s"$table files: ${files.length}")
      files.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(col(c)), max(col(c))).head
        (r.getInt(1) - r.getInt(0)).toDouble
      }.sum / files.length
    }
    // z-order: 16 files tile the grid ~4x4 -> each file spans ~1/4 of
    // each dimension; allow slack for range-partition boundary files
    assert(meanSpan("grid_z", "x") < 128.0)
    assert(meanSpan("grid_z", "y") < 128.0)
    // lexicographic control: leading column narrow, trailing column spans
    // essentially the whole domain in every file
    assert(meanSpan("grid_lin", "y") > 200.0)
  }

  test("quantile z-order keeps multi-column locality under heavy-tailed skew") {
    freshTable("skew_mm"); freshTable("skew_q")
    import spark.implicits._
    // v = 2^(x/4) over x in 0..255 spans 1..2^63.75: under min/max
    // bucketing, every row with x < 191 (75% of the data) lands in
    // v-bucket 0, so the Morton curve degrades to y-order there and
    // per-file locality on the skewed column is gone. xr rides along as
    // the rank of v (the pre-image) so spans are measured in rank space.
    val grid = (0 until 256).flatMap(x => (0 until 256).map(y => (x, y)))
      .map { case (x, y) => (x, math.pow(2.0, x / 4.0), y) }
      .toDF("xr", "v", "y")
    // 64 files: sampled range boundaries straddle Morton quadrants, so
    // a file can span two curve-adjacent tiles; at an 8x8 tile grid the
    // straddle worst case (2 tiles = 64 ranks) still sits far below the
    // min/max layout's collapsed-bucket spans
    Layout.writeZOrdered(grid, "skew_mm", Seq("v", "y"), files = 64)
    Layout.writeZOrderedQuantile(grid, "skew_q", Seq("v", "y"), files = 64)
    def meanSpan(table: String, c: String): Double = {
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
      val files = loc.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length >= 8, s"$table files: ${files.length}")
      files.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(col(c)), max(col(c))).head
        (r.getInt(1) - r.getInt(0)).toDouble
      }.sum / files.length
    }
    // min/max bucketing: the bucket-0 mass orders purely by y, so most
    // files span nearly the whole xr domain
    val mm = meanSpan("skew_mm", "xr")
    val q = meanSpan("skew_q", "xr")
    assert(mm > 120.0, s"min/max xr span: $mm")
    // equal-mass buckets: ~8x8 rank tiling -> narrow on BOTH columns
    assert(q < 0.6 * mm, s"quantile xr span $q vs min/max $mm")
    assert(meanSpan("skew_q", "y") < 128.0)
  }

  test("IVF-PQ index table: probed-cell partition pruning + inline parity") {
    import graft.operators.VectorSearch
    // a previous JVM's warehouse dir can survive while the catalog entry
    // does not — Overwrite then refuses the orphan location; start clean
    def fresh(table: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
      if (loc.exists) rm(loc)
    }
    fresh("ivf_idx"); fresh("ivf_idx_inc")
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val model = VectorSearch.pqModel(e)
    Layout.writeIvfIndex(VectorSearch.encodeIvfPq(e, model), "ivf_idx")
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = VectorSearch.ivfPqTopKIndexed(
      spark.table("ivf_idx"), e, q, model, k = 10)
    // the probed cells must reach the index scan as PartitionFilters —
    // the property that makes the persisted layout touch nprobe/cells
    // of the files instead of the whole index
    val plan = got.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("ivf_idx") && l.contains("PartitionFilters"))
    assert(scanLine.exists(l => l.contains("cid IN") || l.contains("cid#")),
      s"no pruned index scan in:\n$plan")
    // same model + same codes -> identical results to the inline path
    val inline = VectorSearch.ivfPqTopK(e, q, k = 10)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(x => (x._1, x._2))
    assert(canon(got).toSeq == canon(inline).toSeq)

    // incremental maintenance: an index built on half the corpus and
    // appended with the other half (encoded with the SAME model) must
    // answer identically to the index built at once
    val (h1, h2) = (e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1))
    Layout.writeIvfIndex(VectorSearch.encodeIvfPq(h1, model), "ivf_idx_inc")
    Layout.appendIvfIndex(VectorSearch.encodeIvfPq(h2, model), "ivf_idx_inc")
    val inc = VectorSearch.ivfPqTopKIndexed(
      spark.table("ivf_idx_inc"), e, q, model, k = 10)
    assert(canon(inc).toSeq == canon(got).toSeq)
  }

  test("LSH index table: probed-bucket pruning + inline parity") {
    import graft.operators.VectorSearch
    spark.sql("DROP TABLE IF EXISTS lsh_idx")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "lsh_idx")
    if (loc.exists) rm(loc)
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    Layout.writeLshIndex(VectorSearch.encodeLsh(e), "lsh_idx")
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = VectorSearch.lshTopKIndexed(spark.table("lsh_idx"), q, k = 10)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("lsh_idx") && l.contains("PartitionFilters") &&
        (l.contains("pcode IN") || l.contains("pcode#"))),
      s"no pruned LSH index scan in:\n$plan")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    val inline = VectorSearch.lshTopK(e, q, k = 10)
    assert(canon(got) == canon(inline))
  }

  test("moments table: rolled-up stats == direct-scan stats exactly") {
    spark.sql("DROP TABLE IF EXISTS li_moments")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "li_moments")
    if (loc.exists) rm(loc)
    val li = Engine.table(spark, TestSpark.sf, "lineitem")
    Layout.writeMomentsTable(li, "li_moments",
      Seq("l_returnflag", "l_linestatus"), Seq("l_extendedprice"))
    val rolled = Layout.rollupMoments(spark.table("li_moments"),
      Seq("l_returnflag"), Seq("l_extendedprice"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // the same formulas over moments computed in ONE scan: decimal sums
    // add associatively, so two-level aggregation is bit-identical
    val direct = li.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(Engine.DEC)).as("sx"),
        sum((col("l_extendedprice") * col("l_extendedprice")).cast(Engine.DEC)).as("sxx"))
      .select(col("l_returnflag"), col("n"),
        round(col("sx").cast("double") / col("n"), 6),
        round((col("sxx").cast("double") - col("sx").cast("double")
          * col("sx").cast("double") / col("n")) / (col("n") - 1), 4),
        round(sqrt((col("sxx").cast("double") - col("sx").cast("double")
          * col("sx").cast("double") / col("n")) / (col("n") - 1)), 4))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(rolled == direct, s"rolled=$rolled direct=$direct")

    // incremental maintenance: the same table built as two delta
    // appends (disjoint halves) must roll up identically — decimal
    // moments add associatively across delta rows
    spark.sql("DROP TABLE IF EXISTS li_moments_inc")
    val loc2 = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "li_moments_inc")
    if (loc2.exists) rm(loc2)
    Layout.appendMomentsTable(li.filter(col("l_orderkey") % 2 === 0),
      "li_moments_inc", Seq("l_returnflag", "l_linestatus"), Seq("l_extendedprice"))
    Layout.appendMomentsTable(li.filter(col("l_orderkey") % 2 === 1),
      "li_moments_inc", Seq("l_returnflag", "l_linestatus"), Seq("l_extendedprice"))
    val inc = Layout.rollupMoments(spark.table("li_moments_inc"),
      Seq("l_returnflag"), Seq("l_extendedprice"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(inc == direct, s"inc=$inc direct=$direct")
  }

  test("sketch table: rollup estimates == direct-scan estimates") {
    spark.sql("DROP TABLE IF EXISTS li_sketch")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "li_sketch")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    if (loc.exists) rm(loc)
    val li = Engine.table(spark, TestSpark.sf, "lineitem")
    // fine grain: (returnflag, linestatus); sketches over two id columns
    Layout.writeSketchTable(li, "li_sketch",
      Seq("l_returnflag", "l_linestatus"), Seq("l_partkey", "l_suppkey"))
    // roll up to returnflag only — touches ONLY the sketch table
    val rolled = Layout.rollupSketches(spark.table("li_sketch"),
      Seq("l_returnflag"), Seq("l_partkey", "l_suppkey"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // union-of-sketches == sketch-of-union: estimates must be IDENTICAL
    // to a direct scan's, and n_rows exactly right
    val direct = li.groupBy("l_returnflag").agg(
        expr("hll_sketch_estimate(hll_sketch_agg(l_partkey))").as("p"),
        expr("hll_sketch_estimate(hll_sketch_agg(l_suppkey))").as("s"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rolled == direct, s"rolled=$rolled direct=$direct")

    // delta-append maintenance: two disjoint-half appends roll up to
    // the same estimates (sketch union is associative/commutative)
    spark.sql("DROP TABLE IF EXISTS li_sketch_inc")
    val loc2 = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "li_sketch_inc")
    if (loc2.exists) rm(loc2)
    Layout.appendSketchTable(li.filter(col("l_orderkey") % 2 === 0),
      "li_sketch_inc", Seq("l_returnflag", "l_linestatus"), Seq("l_partkey", "l_suppkey"))
    Layout.appendSketchTable(li.filter(col("l_orderkey") % 2 === 1),
      "li_sketch_inc", Seq("l_returnflag", "l_linestatus"), Seq("l_partkey", "l_suppkey"))
    val inc = Layout.rollupSketches(spark.table("li_sketch_inc"),
      Seq("l_returnflag"), Seq("l_partkey", "l_suppkey"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(inc == direct, s"inc=$inc direct=$direct")
  }

  test("quantile-sketch table: rolled-up estimates hit exact quantiles within rank error") {
    freshTable("ev_quant")
    val ev = Engine.table(spark, TestSpark.sf, "events")
    // fine grain (event_type, date); incremental: two disjoint halves
    val dated = Layout.withEventDate(ev, "ts")
    Layout.writeQuantileTable(dated.filter(col("event_id") % 2 === 0),
      "ev_quant", Seq("event_type", "event_date"), Seq("value"))
    Layout.appendQuantileTable(dated.filter(col("event_id") % 2 === 1),
      "ev_quant", Seq("event_type", "event_date"), Seq("value"))
    // coarser question: per-type p50/p95 from merged sketches
    val rolled = Layout.rollupQuantiles(spark.table("ev_quant"),
        Seq("event_type"), Seq("value"), Seq(0.5, 0.95))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // exact per-type values for rank checking
    val byType = ev.select("event_type", "value").collect()
      .groupBy(_.getString(0)).map { case (t, rows) =>
        t -> rows.map(_.getDouble(1)).sorted }
    for ((t, vals) <- byType) {
      val (n, p50, p95) = rolled(t)
      assert(n == vals.length, s"$t count") // counts are exact, not sketched
      def rankOf(v: Double): Double = {
        val le = vals.count(_ <= v); le.toDouble / vals.length
      }
      // KLL default k: ~1.65% rank error; allow 3% head room
      assert(math.abs(rankOf(p50) - 0.5) <= 0.03, s"$t p50=$p50 rank=${rankOf(p50)}")
      assert(math.abs(rankOf(p95) - 0.95) <= 0.03, s"$t p95=$p95 rank=${rankOf(p95)}")
    }
  }

  test("idempotentBatchAppend: a replayed micro-batch replaces, never duplicates") {
    import spark.implicits._
    freshTable("idem_tbl")
    val b0 = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "k", "v")
    val b1 = Seq((3L, "a", 30L)).toDF("id", "k", "v")
    Layout.idempotentBatchAppend(b0, "idem_tbl", 0L, Seq("k"))
    Layout.idempotentBatchAppend(b1, "idem_tbl", 1L, Seq("k"))
    val before = spark.table("idem_tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // crash-replay: the SAME batch (same batchId, same rows) lands again
    Layout.idempotentBatchAppend(b1, "idem_tbl", 1L, Seq("k"))
    val after = spark.table("idem_tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(after == before, "replay must replace its own partitions")
    assert(after.map(_._1) == Seq(1L, 2L, 3L))
    // a genuinely new batch still appends
    Layout.idempotentBatchAppend(
      Seq((4L, "b", 40L)).toDF("id", "k", "v"), "idem_tbl", 2L, Seq("k"))
    assert(spark.table("idem_tbl").count() == 4)
    // the helper must not leak its dynamic-overwrite conf into the session
    assert(spark.conf.get(
      "spark.sql.sources.partitionOverwriteMode", "static") != "dynamic")
  }

  test("compactBatchTable folds batch partitions into one epoch, appends continue") {
    import spark.implicits._
    freshTable("idem_cmp"); freshTable("idem_cmp__compacted")
    for (b <- 0L until 4L)
      Layout.idempotentBatchAppend(
        Seq((b * 10, "a", b), (b * 10 + 1, "b", b)).toDF("id", "k", "v"),
        "idem_cmp", b, Seq("k"))
    def partDirs(): Int = {
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "idem_cmp")
      loc.listFiles().filter(_.isDirectory).flatMap(_.listFiles())
        .count(_.getName.startsWith("batch_id="))
    }
    val before = spark.table("idem_cmp").select("id").collect().map(_.getLong(0)).sorted
    assert(partDirs() == 8) // 2 k-partitions x 4 batch partitions
    Layout.compactBatchTable(spark, "idem_cmp", Seq("k"))
    assert(partDirs() == 2, "one epoch partition per k after compaction")
    val after = spark.table("idem_cmp").select("id").collect().map(_.getLong(0)).sorted
    assert(after.toSeq == before.toSeq, "compaction must not change rows")
    // the stream keeps appending after compaction; replay of the NEW
    // batch still replaces its own partition only
    Layout.idempotentBatchAppend(
      Seq((100L, "a", 9L)).toDF("id", "k", "v"), "idem_cmp", 4L, Seq("k"))
    Layout.idempotentBatchAppend(
      Seq((100L, "a", 9L)).toDF("id", "k", "v"), "idem_cmp", 4L, Seq("k"))
    assert(spark.table("idem_cmp").count() == before.length + 1)
  }

  test("persisted NB model: loaded-model scores == in-plan scores, on any slice") {
    freshTable("nbm_tokens"); freshTable("nbm_classes")
    val docs = Engine.table(spark, TestSpark.sf, "documents")
    Layout.writeNbModel(docs, "nbm")
    def preds(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // full corpus: persisted == in-plan
    val (ct, classes) = graft.operators.TextPipeline.nbTrain(docs)
    val inPlan = preds(graft.operators.TextPipeline.nbScore(docs, ct, classes))
    val loaded = preds(Layout.nbClassify(docs, "nbm"))
    assert(loaded == inPlan && loaded.nonEmpty)
    // a SLICE scored with the full-corpus model gives exactly the full
    // run's predictions restricted to the slice — train once, score any
    // downstream batch (the serving contract)
    val slice = docs.filter(col("doc_id") < 100)
    val slicePreds = preds(Layout.nbClassify(slice, "nbm"))
    assert(slicePreds == inPlan.view.filterKeys(_ < 100).toMap)
  }

  test("persisted NB model scores NEVER-SEEN tokens with the per-class smoothed weight (OOV serving semantics)") {
    // r15 judge finding #1: the dense-model rewrite's inner join
    // silently DROPPED out-of-vocabulary tokens — harmless when the
    // model trains on the corpus being scored (every gated query), but
    // the serving contract is "train once, score any future slice",
    // and the smoothed c=0 weight log(1/(tot_c+v_c)) differs per class,
    // so an OOV token can flip an argmax. This pins the textbook
    // semantics against a per-token SHADOW implementation (the pre-r15
    // crossJoin + left-join form, the same shape as the DuckDB oracle)
    // on documents that contain tokens the model has never seen —
    // including one that shares NO tokens with the training corpus.
    freshTable("nbm_oov_tokens"); freshTable("nbm_oov_classes")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val docs = Engine.table(spark, TestSpark.sf, "documents")
    Layout.writeNbModel(docs, "nbm_oov")
    val someVocab = docs.select(
        explode(graft.functions.TextFunctions.tokens(col("text"))))
      .limit(3).collect().map(_.getString(0)).mkString(" ")
    val unseen = Seq(
      (900001L, "xx", "zzqx qqzv zzqx wwvk zzqx"), // all tokens OOV
      (900002L, "xx", s"$someVocab zzqx qqzv"), //    mixed vocab + OOV
      (900003L, "xx", "qqzv")).toDF("doc_id", "lang", "text")
    val served = Layout.nbClassify(unseen, "nbm_oov")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // shadow: score EVERY document token per class — vocab-absent
    // tokens get COALESCE(c, 0), exactly the oracle SQL's form
    val ct = spark.table("nbm_oov_tokens")
    val classes = spark.table("nbm_oov_classes")
    val DEC = DecimalType(38, 10)
    val tf = unseen.select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val ds = tf.crossJoin(broadcast(classes))
      .join(ct, Seq("clang", "token"), "left")
      .groupBy("doc_id", "clang")
      .agg(sum(col("tf") *
        round(log((coalesce(col("c"), lit(0L)) + 1).cast(DoubleType)
          / (col("tot") + col("v")).cast(DoubleType)), 6).cast(DEC)).as("s"))
    val shadowScores = unseen.select(col("doc_id"))
      .crossJoin(broadcast(classes.select("clang", "prior")))
      .join(ds, Seq("doc_id", "clang"), "left")
      .select(col("doc_id"), col("clang"),
        (col("prior") + coalesce(col("s"), lit(0))).as("score"))
    def scoreMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "clang", "score").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getDecimal(2)).toMap
    // score-level pin (DECIMAL-exact — argmax alone could coincide):
    // the one-pass dense scorer against the LOADED model must equal
    // the per-token textbook form on OOV-bearing documents
    val servedScores = scoreMap(graft.operators.TextPipeline
      .nbClassScores(unseen, ct, classes))
    assert(servedScores == scoreMap(shadowScores) && servedScores.nonEmpty,
      "OOV scores diverged from the per-token textbook form")
    // and the serving argmax agrees with the shadow's
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("clang"))
    val shadow = shadowScores
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(served == shadow && served.size == 3,
      s"OOV serving semantics diverged: served=$served shadow=$shadow")
  }

  test("persisted centroid model: loaded-model classification == in-plan (c02)") {
    freshTable("centm")
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    Layout.writeCentroidModel(e, "centm")
    val inPlan = graft.operators.Cluster
      .classifyByCentroids(e, graft.operators.Cluster.trainCentroids(e))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val loaded = Layout.centroidClassify(e, "centm")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(loaded == inPlan && loaded.nonEmpty)
    // slice with the full model == full predictions restricted
    val slice = e.filter(col("vec_id") % 7 === 0)
    val slicePreds = Layout.centroidClassify(slice, "centm")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(slicePreds == inPlan.view.filterKeys(_ % 7 == 0).toMap)
  }
}
