package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality linter over EVERY driver query entry: at 100 TB a
  * nested-loop or cartesian join is almost always an accident that
  * multiplies row counts (the round-3 verdict found one hiding inside
  * the IVF assignment). Any new entry that plans one fails here unless
  * it is explicitly allowlisted with a scale justification.
  */
class PlanLintSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Intentionally nested-loop entries, each with a documented scale
    * story:
    *  - d06_embedding_neardup: the exact all-pairs oracle twin of d07's
    *    LSH path (declared-quadratic, VectorSearch.cosineNearDupPairs);
    *  - s01_ann_bruteforce: the exact baseline; the nested-loop side is
    *    the BROADCAST query set (|Q| << corpus), so cost stays linear
    *    in the corpus and the top-k reduction is partial-aggregated;
    *  - s06_range_search: identical shape to s01 (broadcast query set
    *    vs corpus scan) with the radius filter fused into the same
    *    stage — no heap, zero exchanges after the scan;
    *  - t13_lm_quality: the nested-loop side is ONE row (the broadcast
    *    global token total) — a constant-space scalar join;
    *  - t16_bm25: same shape — the broadcast side is the ONE-row
    *    (N, avgdl) corpus-stats aggregate;
    *  - t17_tfidf_keywords: same shape — the broadcast side is the
    *    ONE-row corpus document count feeding the idf term;
    *  - t18_dsir_weights: same shape — the broadcast side is the
    *    ONE-row (tr, b, tt) smoothing-constant aggregate.
    */
  private val allowNestedLoop =
    Set("d06_embedding_neardup", "s01_ann_bruteforce", "s06_range_search",
      "t13_lm_quality", "t16_bm25", "t17_tfidf_keywords", "t18_dsir_weights",
      "t22_bigram_lm", // t22: broadcast side is the ONE-row vocab count
      "t23_temperature_mix", // t23: ONE-row total + normalizer scalars
      // s07: inherits s01's broadcast-query-set arm (ONE query row) and
      // t16's one-row-stats arm; the fusion join itself is k-vs-k rows
      "s07_hybrid_rrf",
      // t28: broadcast sides are the |classes|-row model-constant table
      // and one-row corpus scalars — class count is a label-vocabulary
      // property, never corpus size
      "t28_nb_lang_classifier",
      // s09: the neighbor arm is s01's broadcast-query-set brute force
      // (|Q| << corpus, linear corpus cost); at scale it swaps for any
      // ANN arm since voting consumes only (qid, neighbor label)
      "s09_knn_classifier",
      // t32: t28's scoring plan (same |classes|-row + one-row
      // broadcasts) consumed twice for the top-2 pick
      "t32_nb_margin",
      // t33: the broadcast side is the ONE-row split-total aggregate
      "t33_split_drift",
      // (s10 left this list in r10: the benched arm is the capped LSH
      // bucket join — pure equi joins, no nested loop to allow)
      // e22: the broadcast side is the ONE-row user-count aggregate
      "e22_type_cooccurrence",
      // t37: the broadcast side is the ONE-row corpus-size aggregate
      "t37_term_burstiness",
      // e24: the broadcast side is the ONE-row threshold aggregate
      "e24_user_concentration",
      // s11: the benched arm's pair join is (ida < idb) over the
      // deterministic per-label sample — a nested loop by operator
      // shape, but bounded at (labels x maxPerLabel)^2 / 2 rows
      // regardless of corpus size (the sample IS the bound)
      "s11_label_separation",
      // q64: the broadcast side is the ONE-row divisor-count scalar
      "q64_relational_division",
      // t39: the cross product is |sources| x top-50 — both constants,
      // a bounded dense matrix by construction
      "t39_vocab_divergence",
      // e27: t39's shape on the time axis — |weeks| x |types| dense
      // matrix plus a ONE-row global-total scalar
      "e27_weekly_drift",
      // e30: both broadcast sides are ONE-row scalars (the global
      // max-date anchor; the 9 exact quartile boundaries) — the
      // boundary-broadcast design exists precisely to AVOID the
      // global-ntile single-task sort
      "e30_rfm_segments",
      // t43: the broadcast side is the ONE-row corpus document count
      // feeding the PMI denominator
      "t43_pmi_collocations",
      // g08: each HITS half-step broadcasts the ONE-row per-round max
      // used by the integer normalization
      "g08_hits",
      // s13: candidate generation is s01's broadcast-query-set arm;
      // the greedy loop joins only kCand-row-per-query tables
      "s13_mmr_rerank",
      // q71: both broadcast sides are ONE-row scalars (the balance
      // threshold and the max-date anchor)
      "q71_dormant_accounts",
      // t44: the broadcast side is the 10-row head-term table
      "t44_positional_bias",
      // s17: the SQL-served hybrid — the nested-loop sides are the
      // ONE-row BM25 (n, avgdl) stats aggregate and the single query
      // row's ADC lookup table (the same bounded scalars s07's inline
      // arms broadcast)
      "s17_hybrid_sql_serving")

  /** Spark's exact `percentile()` / `percentile_disc` aggregates
    * collect every group value into ONE aggregation buffer — per-group
    * state linear in group size, an OOM class at 100 TB. Every former
    * user (q59/q61/e17/e21/e25/q28/a02 interpolated;
    * q51/q54/q70/e24/e30 discrete) now runs the bounded count-by-value
    * rollup (operators/Percentiles.scala); this lint is deliberately
    * allowlist-free so no new entry re-introduces either form.
    * (`approx_percentile`/KLL sketches render under their own names
    * and are mergeable — they stay.)
    */
  private val exactPercentile =
    java.util.regex.Pattern.compile("(?<![\\w.])percentile(_disc)?\\(")

  test("no query plans an unapproved nested-loop, cartesian join, or exact percentile") {
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val p = fn(spark, TestSpark.sf).queryExecution.executedPlan.toString
      if (!allowNestedLoop(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans BroadcastNestedLoopJoin — allowlist only with a scale justification")
      assert(!p.contains("CartesianProduct"), s"$name plans CartesianProduct")
      assert(!exactPercentile.matcher(p).find(),
        s"$name plans the exact collecting percentile() aggregate — use " +
          "Percentiles.percentilesFromCounts (bounded per-group state)")
    }
  }

  /** Driver-side collects are how a distributed operator silently
    * becomes a single-machine one. Every `.collect()`/`.head()`/
    * `.first()` in src/main is audited here with a per-file budget; a
    * new call fails the lint until it is justified below.
    *  - Catalog.scala 1: spark.catalog.listTables — |tables| rows.
    *  - Dedup.scala 1: d05 union-find edges, <=2M-edge bounded cutover
    *    with a distributed fixpoint fallback (Dedup.scala:297-323).
    *  - Bpe.scala 2: per-iteration argmax (1 row x 8 iterations) and
    *    the final <=vocab-size merge table.
    *  - Relational.scala 1: q56 kth-value via TakeOrdered(10).
    *  - Cluster.scala 4: k-means centroid reads — k rows each.
    *  - VectorSearch.scala 4: IVF probe lists (nprobe ints) and
    *    fixed-size codebook seeds/reads.
    *  - Layout.scala 3: ONE-row min/max stats aggregate; ONE-row
    *    approx_percentile cuts aggregate ((2^bits - 1) x |zCols|
    *    doubles, bounded by parameters not data); centroid-table read
    *    (k rows).
    *  - WireServer.scala 1: the PG wire SINK — rows cross to the
    *    client here by definition (maxRows-capped); portal fetches
    *    stream through toLocalIterator.
    *  - Skew.scala 1: the ONE-row max-key-count probe aggregate gating
    *    the salted-join arm (sampled, scalar result).
    *  - ClusterCheck.scala 1: the ONE-row (sum, count) fingerprint
    *    aggregate of the multi-JVM parity harness — a scalar per
    *    query, never rows.
    */
  private val collectBudget = Map(
    "Catalog.scala" -> 1, "Dedup.scala" -> 1,
    // Bpe #3 (r18): the driver-local merge-training regime's word
    // table collect — gated by a MEASURED vocab count through
    // Engine.driverLocal (the d05 dual-regime discipline), so
    // the collect is vocabulary-bounded by construction, never
    // corpus-sized
    "Bpe.scala" -> 3,
    // Relational #2 (r15): q69's pair result — value-domain bounded
    // (<= |brands|^2/2 rows survive the support filter over a ~25-value
    // brand domain); collected so the corpus-sized DISK_ONLY input
    // frame can be unpersisted in a finally instead of leaking for the
    // session lifetime (r14 verdict #2)
    // Relational #3 (r19): q59's driver-local median/MAD regime — ONE
    // collect of the (brand, pc) count rollup gated by a MEASURED group
    // count through Engine.driverLocal (the d05/BPE/graph/kmeans
    // dual-regime discipline), so the collect is threshold-bounded by
    // construction, never corpus-row-sized
    // Cluster #5 (r19): kmeans' driver-local Lloyd regime — ONE
    // full-input collect gated by a MEASURED vector count through
    // Engine.driverLocal (the d05/BPE/graph dual-regime
    // discipline), so the collect is threshold-bounded by construction
    "Relational.scala" -> 3, "Cluster.scala" -> 5, "VectorSearch.scala" -> 4,
    "Layout.scala" -> 3, "WireServer.scala" -> 1, "Skew.scala" -> 1,
    // Graph (r18): the iterative operators' driver-local small-graph
    // regime (the d05 pattern) — one edge-list collect gated by a
    // MEASURED edge count through Engine.driverLocal, plus
    // four edge-touched-slice collects (node set x2, seed values,
    // seed ids), each bounded by 2x the already-collected edge count
    // via a broadcast semi join; the node/seed tables themselves are
    // never collected
    // The one-shot ops (triangles/clustering/adamic-adar) share
    // that collect: cutAndMaybeCollectPairs
    // delegates to the fixpoints' cutAndMaybeCollect
    "Graph.scala" -> 5,
    // TextPipeline (r15/r16, folded r18): the NB one-pass scorer's
    // class constants — class list, prior map, per-class OOV default
    // weights — now ONE |langs|-row collect (collectClasses; the
    // centroid-k bounded-collect class). The model's class dimension
    // must be driver-known to emit per-class sum columns, the
    // row-local argmax/top-2 folds, and the OOV coalesce literals.
    // TextPipeline #2: bm25FromIndex's corpus stats — the ONE-row
    // (count, avg) aggregate of the doclens table, memoized per file
    // snapshot (Engine.memoSnapshot, readModel's contract) and bound
    // into the serving plan as two literals
    "TextPipeline.scala" -> 2,
    "ClusterCheck.scala" -> 1,
    // BigGraph (r16): the decade-3 graph-law probe's one-row
    // fingerprint aggregate (a dev tool, never a query path)
    "BigGraph.scala" -> 1,
    // Serving (r18): readModel — the kB-sized persisted PQ model table
    // (|cells| centroid rows + m x 32 codeword rows + 2 params), the
    // same bounded codebook-collect class as VectorSearch's; loaded at
    // serving-plan BUILD time so table-function builders can
    // self-configure from catalog state
    "Serving.scala" -> 1)

  test("every driver-side collect in src/main is audited and budgeted") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val call = java.util.regex.Pattern.compile(
      "\\.(collect\\(\\)|collectAsList\\b|head\\(\\)|first\\(\\))")
    val found = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        val m = call.matcher(src)
        var n = 0
        while (m.find()) n += 1
        f.getFileName.toString -> n
      }
      .filter(_._2 > 0).toMap
    for ((file, n) <- found)
      assert(collectBudget.getOrElse(file, 0) >= n,
        s"$file has $n driver-side collect/head/first calls, budget is " +
          s"${collectBudget.getOrElse(file, 0)} — audit the new call and " +
          "extend the budget with a boundedness justification")
    for ((file, budget) <- collectBudget)
      assert(found.getOrElse(file, 0) == budget,
        s"$file budget is stale ($budget vs ${found.getOrElse(file, 0)} found) — keep the audit exact")
  }

  /** (path, text) of every Scala source under src/main. */
  private def mainSources: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(f => f.toString -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
      .toSeq
  }

  /** Every main, the test suite and the wire path share one session
    * shape: cores, UI off, `Engine.SessionDefaults`
    * and the `GraftExtensions` function surface all come from
    * `Engine.session`, so no other file in src/main may build a session
    * of its own. */
  test("SparkSession.builder appears in src/main only in Engine.scala") {
    val builder = java.util.regex.Pattern.compile("SparkSession\\s*\\.\\s*builder")
    val sites = mainSources
      .filter { case (f, _) => !f.endsWith("/Engine.scala") }
      .flatMap { case (f, src) =>
        val m = builder.matcher(src)
        Iterator.continually(m.find()).takeWhile(identity).map(_ => f)
      }
    if (sites.nonEmpty) fail(
      s"${sites.size} SparkSession.builder site(s) outside Engine.scala — build " +
        s"through Engine.session:\n  ${sites.distinct.sorted.mkString("\n  ")}")
  }

  /** A session is graft-ready when `Engine.session` builds it, so nothing
    * re-prepares one: no per-access prepare call, no per-session function
    * registration, and no file but Engine.scala re-sets a session
    * default (which would undo a caller's own setting). */
  test("src/main neither re-prepares a session nor re-sets a session default") {
    val banned = Seq("Engine.prepare", "createOrReplaceTempFunction")
    val setKey = "conf\\.set\\(\\s*\"([^\"]+)\"".r
    val sites = mainSources.flatMap { case (f, src) =>
      banned.filter(src.contains).map(b => s"$f: $b") ++
        (if (f.endsWith("/Engine.scala")) Nil
         else setKey.findAllMatchIn(src).map(_.group(1))
           .filter(Engine.SessionDefaults.contains).map(k => s"$f: conf.set($k)"))
    }
    assert(sites.isEmpty, s"session re-preparing sites:\n  ${sites.sorted.mkString("\n  ")}")
  }

  /** The top-k heap plans under HashAggregateExec, so no operator needs
    * a session whose SQLConf differs from its caller's: a cloned session
    * with a raised ObjectHashAggregate fallback threshold (the retired
    * ANN twin) must not come back unnoticed. */
  test("src/main neither clones a session nor sets the ObjectHashAggregate fallback threshold") {
    val banned = Seq("cloneSession", "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
    val sites = for ((f, src) <- mainSources; b <- banned if src.contains(b)) yield s"$f: $b"
    assert(sites.isEmpty, s"conf-forking session sites:\n  ${sites.sorted.mkString("\n  ")}")
  }

  /** Planner strategies come from `GraftExtensions`
    * (`injectPlannerStrategy`), once for every session: no file in
    * src/main installs one on a live session per call. */
  test("src/main installs no planner strategy on a live session") {
    val sites = mainSources.collect { case (f, src) if src.contains("extraStrategies") => f }
    assert(sites.isEmpty, s"per-session strategy installs:\n  ${sites.sorted.mkString("\n  ")}")
  }

  /** Sites outside Engine.scala that pass a count to repartition or
    * coalesce: file -> sites. Each names its count for a reason of its
    * own, not as a sizing policy. */
  private val allowCountedRepartition: Map[String, Int] = Map(
    // COPY's `(parallel n)`: the statement names its file count, as
    // KuiBaDB's COPY names its `parallel` workers
    "sources/Copy.scala" -> 1,
    // the correctness dump writes each entry's result as one file
    "Verify.scala" -> 1,
    // test input, not an engine write: each slice of the streaming
    // chaos arms' source directory is written as one file
    "tools/ClusterCheck.scala" -> 6)

  /** One sizing rule: `Engine` picks every cut's partition count (the
    * context's cores, `Engine.cutByKey`) and every written file count
    * (`Engine.filesFor`), and AQE sizes every other shuffle. So no other
    * file in src/main reads the shuffle-partition conf or the core
    * count, and none passes a count to repartition/coalesce but the
    * audited sites above. */
  test("only Engine.scala sizes cuts and written files") {
    val reads = "spark\\.sql\\.shuffle\\.partitions|defaultParallelism".r
    val counted = "\\.(repartition|coalesce)\\(\\s*(?!col\\()".r
    val others = mainSources.filterNot(_._1.endsWith("/Engine.scala"))
    val readSites = others.flatMap { case (f, src) =>
      reads.findAllIn(src).map(m => s"$f: $m") }
    assert(readSites.isEmpty,
      s"sizing reads outside Engine.scala:\n  ${readSites.sorted.mkString("\n  ")}")
    val countSites = others.flatMap { case (f, src) =>
      val n = counted.findAllIn(src).size
      val allowed = allowCountedRepartition.collectFirst {
        case (suffix, k) if f.endsWith("/" + suffix) => k }.getOrElse(0)
      if (n != allowed) Some(s"$f: $n counted repartition/coalesce sites, $allowed allowed")
      else None
    }
    assert(countSites.isEmpty,
      s"partition or file counts outside Engine.scala:\n  ${countSites.sorted.mkString("\n  ")}")
  }

  /** Sites outside Engine.scala that read parquet with Spark's schema
    * inference: file -> sites. None of them reads a driver table. */
  private val allowParquetRead: Map[String, Int] = Map(
    // a restarted child re-creates the catalog entry of the batch table
    // it finds on disk, from the files themselves, once per process
    "tools/TornBatch.scala" -> 1,
    // test input and output: the big-graph arm's prebuilt edge fixture,
    // and the torn-batch arm's table read back by path for its fingerprint
    "tools/ClusterCheck.scala" -> 2)

  /** `file: n` for every file whose `read.parquet(` count differs from
    * [[allowParquetRead]] (Engine.scala exempt). */
  private def parquetReadSites(sources: Seq[(String, String)]): Seq[String] =
    sources.filterNot(_._1.endsWith("/Engine.scala")).flatMap { case (f, src) =>
      val n = "read\\s*\\.\\s*parquet\\(".r.findAllIn(src).size
      val allowed = allowParquetRead.collectFirst {
        case (suffix, k) if f.endsWith("/" + suffix) => k }.getOrElse(0)
      if (n != allowed) Some(s"$f: $n read.parquet sites, $allowed allowed") else None
    }

  /** Driver tables are read through `Engine.table`, which gives the read
    * the schema it memoized per file snapshot: a `read.parquet(` elsewhere
    * would bring back one schema-inference job per call. */
  test("only Engine.scala infers a parquet schema") {
    val sites = parquetReadSites(mainSources)
    assert(sites.isEmpty,
      s"parquet reads outside Engine.table:\n  ${sites.sorted.mkString("\n  ")}")
    val planted = "src/main/scala/graft/operators/Planted.scala" ->
      "object Planted { def f(spark: SparkSession) = spark.read.parquet(\"x\") }"
    assert(parquetReadSites(mainSources :+ planted) ==
      Seq("src/main/scala/graft/operators/Planted.scala: 1 read.parquet sites, 0 allowed"))
  }

  /** A window with no partitionBy funnels its entire input through ONE
    * task (Exchange SinglePartition + full sort) — the r10 verdict
    * found exactly this inside d16's dense-ID mapping, where "input" is
    * the whole name vocabulary (10^8+ rows at 100 TB). Entries below
    * are the audited exceptions, each with the bound that makes the
    * single partition driver-sized rather than data-sized.
    */
  private val allowGlobalWindow: Set[String] = Set(
    // cumulative windows over count-by-value rollups with a GLOBAL
    // group (the Percentiles.scala discipline): window input rows =
    // distinct-value-domain cardinality, not row count
    "e24_user_concentration", "e25_time_to_convert",
    // weekly / monthly series: window input = |weeks| / |months| rows
    "e26_wau_trend", "q63_acquisition_curve",
    // p03's histogram-offset window: input = one row per distinct
    // token count (<= max document length) — the whole POINT of p03's
    // two-phase rank is that the corpus-sized rank IS partitioned
    "p03_curriculum_order",
    // rank windows over .limit(k) candidate lists (BM25 arm + vector
    // arm before RRF fusion): k rows each by construction
    "s07_hybrid_rrf",
    // the SQL-served hybrid twin (r18): the same two k-row rank windows
    // as s07
    "s17_hybrid_sql_serving",
    // regression over the top-100 vocabulary slice
    "t31_zipf_slope")

  test("no query plans an unpartitioned window over an unbounded domain") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (allowGlobalWindow(name)) None
      else {
        val plan = fn(spark, TestSpark.sf).queryExecution.optimizedPlan
        val n = plan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w }.size
        if (n > 0) Some(s"$name: $n") else None
      }
    }
    assert(bad.isEmpty,
      s"unpartitioned window(s) — a single-task global sort; partition " +
        s"or allowlist with the bound that keeps the domain driver-sized:\n  " +
        bad.mkString("\n  "))
  }

  /** Streaming twins: same plan discipline. Physical plans need a
    * running micro-batch, so this lints the analyzed logical plans —
    * where a missing join condition ("Join Cross") and the collecting
    * percentile aggregate are already visible.
    */
  test("streaming twins plan no cross join and no exact percentile") {
    import graft.streaming.EventsStreaming
    val ev = EventsStreaming.readEvents(spark, s"${TestSpark.sf}/events.parquet")
    val twins = Seq(
      "windowedStats" -> EventsStreaming.windowedStats(ev),
      "dedupStream" -> EventsStreaming.dedupStream(ev),
      "sessionized" -> EventsStreaming.sessionized(spark, ev).toDF(),
      "transitions" -> EventsStreaming.transitions(spark, ev).toDF(),
      "attribution" -> EventsStreaming.attribution(spark, ev).toDF(),
      "purchaseViewJoin" -> EventsStreaming.purchaseViewJoin(ev))
    for ((name, df) <- twins) {
      val p = df.queryExecution.analyzed.toString
      assert(!p.contains("Join Cross"), s"streaming $name plans a cross join")
      assert(!exactPercentile.matcher(p).find(),
        s"streaming $name plans the exact collecting percentile() aggregate")
    }
  }
}
