package graft

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Session + catalog bootstrap.
  *
  * KuiBaDB analogue: `GlobalState::init` (reference src/lib.rs:546-550) plus
  * the initdb catalog bootstrap (src/bin/initdb/main.rs:407-894). Where the
  * reference loads its GUCs once and registers 8 types / 186 operators /
  * 203 procs into a SQLite catalog, [[session]] builds the SparkContext
  * with graft's SQL semantics as its defaults ([[SessionDefaults]]: UTC,
  * ANSI mode, AQE) and the graft function surface as a session extension
  * (`GraftExtensions`, the fmgr analogue, src/utils/fmgr.rs:44-53). Every
  * session of the context is graft-ready from its creation, and a later
  * `spark.conf.set` by a caller stands. The driver testdata tables are
  * the catalog.
  *
  * Scale notes (100 TB): every knob here is declarative — AQE handles
  * runtime re-planning (skew joins, partition coalescing) and sizes
  * every batch shuffle, and all table access goes through the Parquet
  * vectorized reader (the `Datums` column-batch analogue, reference
  * src/datums.rs:24-52). The two counts AQE cannot pick are sized here
  * only: cuts ([[cutByKey]]) and written files ([[filesFor]]).
  */
object Engine {

  /** Tables the driver testdata provides (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Cores a standalone main runs on: `SPARK_GRAFT_CPUS`, else every
    * core the JVM sees. The only place the variable is read. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Graft's SQL semantics, the defaults of the context [[session]]
    * builds. They live in the SparkConf, so every session of the context
    * inherits them: `newSession()`, streaming's cloned session, and
    * `RESET`, which re-applies the SparkConf. A deployment that builds
    * its own context (spark-submit) must set these confs and
    * `spark.sql.extensions=graft.GraftExtensions` itself. */
  val SessionDefaults: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    // PG-style overflow/cast errors (reference src/utils/adt.rs:29-34)
    "spark.sql.ansi.enabled" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // Decade-robust default partitioning (r18): start every shuffle WIDE
    // and let AQE coalesce small data back down to the advisory size.
    // Shuffle-partition count is the dial that decides whether a big
    // final-side aggregation fits task memory (measured at the fourth
    // ANN decade: the 6M-vector bucket build's per-task collect_list
    // maps OOM a 24g/32-thread JVM at 32 partitions and complete at 96
    // — SCALING.md r18), and a static low count is a scale landmine: at
    // 100 TB the same plan that passed the gate would OOM. With a wide
    // initial count the effective parallelism follows DATA SIZE: sf0.1
    // shuffles coalesce to the same few post-AQE partitions as before
    // (stage/job counts unchanged — the bench record min-merges, not
    // resets), while decade-3/4-sized aggregation inputs stay wide and
    // per-task state shrinks proportionally.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256",
    // Read only where AQE does not size a shuffle: a streaming query's
    // state-store partitions (fixed in its checkpoint at first start)
    // and plans run with AQE or its coalescing off (the shuffles inside
    // a cutByKey input, tests that sweep the count).
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // runtime row-level join filtering: build a bloom filter from the
    // selective side of a shuffle join and push it into the other side's
    // scan — at 100 TB this prunes fact-table rows before the exchange
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // NOTE on ObjectHashAggregate's sort fallback (default threshold:
    // 128 groups per task): every TypedImperativeAggregate past it
    // degrades to an EXTERNAL SORT of its remaining input. The threshold
    // is deliberately NOT raised: it governs collect_list/collect_set
    // buffers (a bucket group holds ~36 KB of member vectors — 256k
    // in-memory groups OOMed a 32-task JVM in one stage). Cap the
    // stream, don't uncap the map.
    // Driver parquet writes timestamps as not-UTC-adjusted; read them as
    // TimestampType (instant, session TZ = UTC) so timestamp arithmetic
    // and the DuckDB oracle agree on wall-clock values.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // Spark cannot read parquet TIMESTAMP(NANOS) (events.ts) natively —
    // read as long nanos and convert in `table` (truncate to micros,
    // exactly like DuckDB's TIMESTAMP_NS -> TIMESTAMP read).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** The one session factory: every main, the test suite, perfbench and
    * the wire path build through it. `confs` are static confs that must
    * be set before the context starts (a warehouse dir, an executor
    * classpath). The first call in a JVM starts the context with
    * [[SessionDefaults]] in its SparkConf; a later call returns the
    * existing session and sets the runtime confs among these on it
    * again. */
  def session(master: String = "local[*]", app: String = "graft",
      confs: Map[String, String] = Map.empty): SparkSession =
    (SessionDefaults ++ Map("spark.ui.enabled" -> "false") ++ confs)
      .foldLeft(SparkSession.builder().master(master).appName(app)
        .withExtensions(new GraftExtensions)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()

  /** Read one driver table. Scans stay declarative so Catalyst pushes
    * filters + prunes columns into the Parquet reader (check with
    * .explain: PushedFilters / ReadSchema).
    *
    * The read is given its schema ([[tableSchema]]), so building the
    * frame runs no Spark job: Spark's own schema inference starts one
    * job per call to read one footer. The frame still lists its files
    * here and scans them at every action, so an appended or replaced
    * file is seen on the next call.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(tableSchema(spark, path)).parquet(path)
    // events.ts as TIMESTAMP(NANOS) reads as long nanos (nanosAsLong in
    // SessionDefaults): truncate to microseconds (matching DuckDB's
    // TIMESTAMP_NS read).
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Register all driver tables as temp views — the `kb_class` catalog
    * analogue (reference src/commands/tablecmds.rs:103-148) — enabling the
    * plain-SQL surface (`spark.sql`).
    */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    // a view pins the file listing it was created with, so each call
    // folds every table's listing (driver-side metadata, no Spark job)
    // and replaces only the views whose files changed since the session
    // last registered `dir`: an appended part file reaches the next
    // statement, and a warm call reads no schema and builds no frame
    val (dirKey, foldsKey) = ("graft.catalog.dir", "graft.catalog.listing")
    val folds = tableNames.map(n =>
      java.lang.Long.toHexString(listingFold(fnvSeed, filesUnder(spark, s"$dir/$n.parquet"))))
    val before =
      if (spark.conf.getOption(dirKey).contains(dir))
        spark.conf.getOption(foldsKey).fold(Seq.empty[String])(_.split(',').toSeq)
      else Seq.empty
    tableNames.zip(folds).zipWithIndex.foreach { case ((n, f), i) =>
      if (!before.lift(i).contains(f)) table(spark, dir, n).createOrReplaceTempView(n)
    }
    spark.conf.set(dirKey, dir)
    spark.conf.set(foldsKey, folds.mkString(","))
  }

  /** SQL passthrough over the registered catalog — the
    * `exec_simple_query` analogue (reference src/lib.rs:438-466): Catalyst
    * parse -> analyze (catalog/function resolution, sem.rs:355-377) ->
    * optimize -> execute.
    */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(query)
  }

  /** Corpus-size lookup memoized on the logical plan — the derived-
    * density-knob functions (SemDeDup k, LSH planes, IVF cells;
    * ARCHITECTURE principle 10) each need |corpus| at plan-build time,
    * and without memoization every build (bench warm+timed runs, every
    * PlanLint sweep, repeated model builds in one serving session)
    * re-runs the count job.
    *
    * Key = the canonicalized plan's `semanticHash` (NOT its rendering —
    * treeString output truncates per spark.sql.debug.maxToStringFields,
    * so two plans differing only in elided fields would collide) + every
    * file relation's root paths + a fingerprint of every file relation's
    * LISTED FILES. The file fingerprint is what makes the cache correct
    * under this engine's own write paths with NO explicit invalidation
    * hooks: COPY-loaded tables, streaming micro-batch appends
    * (DocsStreaming/EventsStreaming foreachBatch) and Layout compaction
    * all add/replace parquet part files UNDER an unchanged root path —
    * a post-write REBUILD of the frame lists the new files, fingerprints
    * differently, and misses to a fresh count. (Purging from each write
    * call site was rejected: ~20 sites to keep in sync, and a writer in
    * ANOTHER session/JVM would still serve this session a stale count;
    * the listing fingerprint catches both, at the cost of a driver-side
    * file-status walk per call — metadata-only, no Spark job, the same
    * cost class as Spark's own relation-statistics refresh.)
    * A frame held from BEFORE the write still serves its old count —
    * same staleness contract as the frame's own scan, which pinned its
    * file list at construction.
    *
    * Two r12-review hardenings:
    *  - the plan discriminator is semanticHash PLUS the canonicalized
    *    plan's hashCode (two independent 32-bit functions — a collision
    *    needs both to collide on the same file set), and the listing
    *    fold covers full path bytes + length + modificationTime instead
    *    of String.hashCode;
    *  - Layout-managed / streaming tables (anything partitioned on
    *    batch_id) use a COMMIT-VERSION token — the partition directory
    *    set, i.e. the batch_id high-water + epoch markers — instead of
    *    the leaf-file listing. O(partitions) per call, not O(files):
    *    at 100 TB a corpus table holds millions of part files and the
    *    per-call listing fold itself becomes a driver stall. Sound
    *    under Layout's write discipline ONLY (appends create NEW
    *    batch_id partitions; a replayed batch REPLACES its partition
    *    with identical rows — the exactly-once contract; compaction
    *    collapses partitions into the batch_id=-1 epoch, changing the
    *    set), which is why raw roots keep the listing fingerprint. */
  private final case class MemoKey(
      tag: String, semHash: Int, planHash: Int, paths: Seq[String],
      filesFp: Long)

  /** An access-ordered map that drops its least recently used entry
    * past `bound` entries. Callers synchronize on it. */
  private def lru[K, V](bound: Int): java.util.LinkedHashMap[K, V] =
    new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > bound
    }

  private val memoCache = lru[MemoKey, AnyRef](64)

  /** The key [[tableSchema]] memoizes a schema under: the path, the
    * listing fold of every file under it, and the parquet confs the
    * session sets. */
  private final case class SchemaKey(
      path: String, filesFp: Long, confs: Map[String, String])

  private val schemaCache = lru[SchemaKey, StructType](64)

  /** A table's schema as Spark infers it, `spark.read.parquet(path)
    * .schema`, resolved once per snapshot of the files under `path` —
    * the `kb_attribute` analogue, without a schema declared anywhere
    * but in the files. A replaced or added file changes the listing
    * fold, so it misses; so does any parquet conf the session sets
    * (they decide how footer types convert: nanosAsLong,
    * binaryAsString, int96AsTimestamp, ...) and `spark.sql.caseSensitive`,
    * which the converter also reads, so a caller's `spark.conf.set`
    * reaches the schema. The listing is driver-side metadata, no Spark
    * job; only a miss runs Spark's inference job. */
  private def tableSchema(spark: SparkSession, path: String): StructType = {
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }
    val k = SchemaKey(path, listingFold(fnvSeed, filesUnder(spark, path)), confs)
    schemaCache.synchronized {
      val hit = schemaCache.get(k)
      if (hit != null) return hit
    }
    val s = spark.read.parquet(path).schema
    schemaCache.synchronized { schemaCache.put(k, s) }
    s
  }

  /** Every file under `path` (a file, a directory or a glob); none when
    * nothing matches, and then inference raises Spark's own error.
    * Walked with `listStatus`: `listFiles` returns located statuses,
    * which load each file's permissions, and the local file system
    * forks a process for that (2.7 ms against 0.02 ms per table). */
  private def filesUnder(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk) else Seq(st)
    Option(fs.globStatus(p)).toSeq.flatten.flatMap(walk)
  }

  private val fnvSeed = -3750763034362895579L
  private def fnvS(h: Long, s: String): Long =
    s.foldLeft(h)((a, c) => (a ^ c.toLong) * 1099511628211L)
  private def fnvL(h: Long, v: Long): Long = (h ^ v) * 1099511628211L

  /** FNV-1a fold of (path, length, mtime) over `files` in path order:
    * any added, removed, rewritten or touched file changes it. */
  private def listingFold(h0: Long, files: Seq[FileStatus]): Long =
    files.sortBy(_.getPath.toString).foldLeft(h0) { (h, f) =>
      fnvL(fnvL(fnvS(h, f.getPath.toString), f.getLen), f.getModificationTime)
    }

  def memoCount(df: DataFrame): Long = memoStat(df, "count")(df.count())

  /** The generalized memo behind [[memoCount]]: any long-valued,
    * plan-determined table statistic (row count, Skew's sampled
    * max-key estimate) cached under the same key contract — one
    * probe job per (statistic, plan, file listing), not one per
    * operator EXECUTION. */
  def memoStat(df: DataFrame, tag: String)(compute: => Long): Long =
    memoSnapshot[java.lang.Long](df, tag)(Long.box(compute)).longValue

  /** The one session switch over every size-gated driver-local regime:
    * `off` forces the distributed arm of all of them (how the parity
    * specs, the chaos harness and the pricing study run the
    * distributed loops at gate scale). */
  val DriverLocalConf = "graft.driverLocal"

  /** The one driver-local regime gate, shared by the graph operators,
    * connected components, the BPE trainer, k-means and q59: true
    * ("collect and run on the driver") when [[DriverLocalConf]] is not
    * `off` and `gated` has at most `maxRows` rows. Each caller's limit
    * is a constant at its call site, sized for driver memory. The row
    * count is memoized on `gated` under [[memoCount]]'s entry, so a
    * warm call on an unchanged plan and file set runs no job. `rows`
    * is by name: a caller may count an already-cut frame of the same
    * rows, and it is never evaluated when the switch is off or the
    * memo hits. */
  def driverLocal(gated: DataFrame, maxRows: Long)(rows: => Long): Boolean =
    !gated.sparkSession.conf.getOption(DriverLocalConf).contains("off") &&
      memoStat(gated, "count")(rows) <= maxRows

  /** Any value read from `df` — a statistic, or a small table read
    * whole (Serving's PQ model) — memoized once per snapshot of the
    * files under it, under the key contract above. One `tag` must
    * always memoize one value type. */
  def memoSnapshot[T <: AnyRef](df: DataFrame, tag: String)(compute: => T): T = {
    val k = snapshotKey(df, tag)
    memoCache.synchronized {
      val hit = memoCache.get(k)
      if (hit != null) return hit.asInstanceOf[T]
    }
    val v = compute
    memoCache.synchronized { memoCache.put(k, v) }
    v
  }

  /** The memo key: the canonical plan's two hashes, every file
    * relation's root paths, and a fingerprint of the files under them
    * (driver-side metadata only, no Spark job). */
  private def snapshotKey(df: DataFrame, tag: String): MemoKey = {
    import org.apache.spark.sql.execution.datasources.{
      CatalogFileIndex, FileIndex, PartitioningAwareFileIndex}
    val plan = df.queryExecution.analyzed
    val locs = plan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            Right(fs.location)
          case other => Left(other.toString)
        }
    }
    val paths = locs.map {
      case Right(loc) => loc.rootPaths.mkString(",")
      case Left(s) => s
    }
    def isBatchTable(loc: FileIndex): Boolean =
      loc.partitionSchema.fieldNames.contains("batch_id")
    // invalidation token per relation (see the key contract above):
    // commit-version (partition set) for batch_id tables, full listing
    // (path + length + mtime) for raw roots
    val filesFp = locs.collect { case Right(loc) => loc }
      .foldLeft(fnvSeed) { (h0, loc) =>
        loc match {
          case c: CatalogFileIndex if isBatchTable(c) =>
            // partition names straight from the catalog — no file listing
            val id = c.table.identifier
            val parts = df.sparkSession.sessionState.catalog.externalCatalog
              .listPartitionNames(id.database.getOrElse("default"), id.table)
              .sorted
            parts.foldLeft(fnvL(h0, parts.size.toLong))(fnvS)
          case p: PartitioningAwareFileIndex if isBatchTable(p) =>
            // path-read batch table: partition dirs from the (cached)
            // partition spec — O(partitions), no leaf-file fold
            val parts = p.partitionSpec().partitions
              .map(_.path.toString).sorted
            parts.foldLeft(fnvL(h0, parts.size.toLong))(fnvS)
          case other =>
            listingFold(h0, other.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus))
        }
      }
    val canon = plan.canonicalized
    MemoKey(tag, canon.semanticHash(), canon.hashCode(), paths, filesFp)
  }

  // -------------------------------------------------------------------
  // Deterministic numeric helpers shared by the operator library.
  // Double sums are order-dependent across partitions; aggregating through
  // DECIMAL(38,10) is exact, therefore deterministic under ANY partition
  // count (a 100 TB re-aggregation requirement) and bit-identical to an
  // oracle using the same cast. The OUTPUT type is DOUBLE: emit via an
  // exact decimal round to scale 6, extract the (integral) unscaled
  // value as a LONG, and convert as (double)unscaled / 1e6 — the exact
  // operation DuckDB's decimal->double cast performs, so the emission
  // is bit-identical at ANY magnitude the long holds (+-9.2e12 at 6dp).
  // r12: the previous plain decimal->double cast went through
  // BigDecimal.doubleValue, which is CORRECTLY rounded — one ulp off
  // DuckDB's two-step division once |unscaled| crosses 2^52, exactly
  // where the first full sf1 run caught q01's 5.2e10 sum_charge
  // splitting engines. Below 2^52 the two paths are identical (the
  // long->double conversion is exact there), so every gate hash is
  // unchanged. (Emitting the wide decimal itself breaks downstream
  // consumers that read parquet decimals as exact Decimal objects while
  // the SQL oracle returns binary doubles.) Averages are
  // small-magnitude; they are emitted as round(double, 6), where a
  // 1-ulp numerator difference dies in the 6dp round.
  // Column-API double -> DEC casts go through exactDec (the SQL-text
  // window sums of q47/q50/e11 keep the plain CAST). Spark's cast builds
  // Double.toString(x), parses it as a BigDecimal and rounds HALF_UP to
  // 10 places, per row. The ExactDec10 expression instead calls
  // `ExactDecKernel.unscaled(x, 10)`: r = rint(x * 1e10) and, with an fma
  // residual, the exact distance of x from r * 1e-10. When that distance
  // plus half an ulp of x (how far the cast's string can lie from x),
  // both in units of 1e-10, stays below 0.5, HALF_UP gives exactly r:
  // the kernel returns Decimal(r, 38, 10) with no string and no
  // BigDecimal. Anything else (NaN, +-Inf, |x| >= 2^19, near a
  // half-point, a non-double input) is NULL from the kernel and takes
  // the cast itself, so values and ANSI errors are unchanged by
  // construction. Spark's Sum over DEC stays the accumulator.
  // -------------------------------------------------------------------
  val DEC: DecimalType = DecimalType(38, 10)
  val DEC6: DecimalType = DecimalType(38, 6)

  /** `c.cast(DEC)` with the proven ExactDec10 fast path for doubles
    * (see block comment above). Value- and error-identical to the cast
    * for every input type. */
  def exactDec(c: Column): Column = {
    val shim = org.apache.spark.sql.GraftShim
    coalesce(shim.column(graft.functions.ExactDec10(shim.expression(c))), c.cast(DEC))
  }

  /** Exact decimal -> DOUBLE emission (see block comment above).
    * Values whose 6dp unscaled form exceeds a long (|v| >= 9e12 —
    * q55's 7.4e19 sum of squares) keep the plain decimal->double
    * cast: at those magnitudes the emission grain (1e-6) sits many
    * orders below one double ulp, where the correctly-rounded and
    * divide-through conversions have always hash-agreed (q55 was
    * green at every SF before this path split). NOTE (r12 review):
    * the above-threshold branch is EMPIRICALLY gated, not proven —
    * Spark's correctly-rounded BigDecimal cast and DuckDB's two-step
    * (double)unscaled/1e6 could in principle split by one ulp on some
    * magnitude; every observed sum at sf0.01-sf10 agrees, and the
    * sf-sweep re-checks it each round. If a future corpus ever splits
    * here, route this branch through the integer-numerator scheme at a
    * coarser scale (millis) so both engines do the identical two-step. */
  def decOut(c: Column): Column = {
    val d = c.cast(DEC6)
    when(abs(d) < lit(9.0e12),
        (d * lit(1000000L)).cast(LongType).cast(DoubleType) / lit(1e6))
      .otherwise(d.cast(DoubleType))
  }

  /** Exact, order-independent sum of a double column (double result). */
  def dsum(c: Column): Column = decOut(sum(exactDec(c)))

  /** Average of a double column: exact sum, one double division, 6dp. */
  def davg(c: Column): Column = round(sum(exactDec(c)).cast(DoubleType) / count(c), 6)

  /** Collapse IEEE -0.0 to +0.0 on an emitted double. Engines that round
    * doubles in float space (DuckDB: nearbyint(x*10^d)/10^d) keep the sign
    * of a tiny negative value that rounds to zero and emit -0.0; Spark's
    * round goes through BigDecimal, which has no signed zero, and emits
    * +0.0. The two compare equal under SQL `=` but hash differently —
    * invisible to every rows/values check, fatal to a bit/text-hash gate
    * (t18's two-round red was exactly this, on one document). Apply to any
    * emitted double whose value can round to zero from below; pair with
    * GQ.ozeroNorm on the oracle side. */
  def zeroNorm(c: Column): Column = when(c === 0, lit(0.0)).otherwise(c)

  // -------------------------------------------------------------------
  // Lineage cut — THE funnel for every iterative operator's per-round
  // materialization (graph fixpoints, MMR greedy rounds, BPE merges,
  // connected components, k-means). Strategy is session-configured:
  //
  //   graft.checkpoint.mode = local (default)
  //     `localCheckpoint()` — blocks cached on executors, lineage
  //     truncated. Fastest (no durable write), and on local[*] (one
  //     JVM, no executor loss) exactly correct. NOT executor-loss-safe
  //     on a real cluster: localCheckpoint stores unreplicated blocks
  //     AND truncates lineage, so losing one executor (preemption,
  //     spot reclaim, OOM kill) makes the RDD unrecoverable and fails
  //     the query terminally — worst in exactly the long-running
  //     iterative jobs a 100 TB run cares about.
  //
  //   graft.checkpoint.mode = reliable
  //     `checkpoint()` to a durable dir (graft.checkpoint.dir; HDFS/
  //     object store on a cluster). Each round's frame is written once
  //     to reliable storage and re-read from there on any task retry —
  //     the query survives the loss of ANY number of executors
  //     (proven by the executor-kill chaos arm in tools/ClusterCheck).
  //     Cost: one durable write + read per round — the classic
  //     Pregel/GraphX trade, paid only when the deployment opts in.
  //
  // `persist(MEMORY_AND_DISK_2)` was considered and rejected as the
  // cluster strategy: it does not truncate lineage (fixpoint plans and
  // RDD DAGs then grow per round — the plan-size blowup cut() exists to
  // stop), and 2-replica loss (two preempted nodes) is still terminal;
  // reliable checkpoint is O(1) plan depth and survives any loss.
  // -------------------------------------------------------------------

  /** Job-description tag carried by every job a reliable-mode [[cut]]
    * submits — the chaos harness keys its mid-checkpoint-write kill
    * off it (see ClusterCheck). */
  val CutJobDescription = "graft.cut.reliable"

  /** Session-serial cut counter for `graft.checkpoint.everyK` (the
    * phase is irrelevant; only the <= k spacing between durable
    * boundaries matters, and cuts within one iterative operator are
    * driver-serial). */
  private val cutSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** everyK deferred durable deletes (r16 advice, HIGH): under
    * checkpoint-every-k, up to k-1 intermediate rounds keep lineage
    * back to the last DURABLE checkpoint, so an eager-release fixpoint
    * (BPE, kCorePeel, bfsHops, label propagation, dedup components)
    * releasing the superseded durable round must NOT delete its files
    * yet — an executor loss inside the window would find the lineage
    * root gone (FileNotFound on the deleted ReliableCheckpointRDD
    * part-files), exactly the terminal failure bounded recovery exists
    * to prevent. Deletion is deferred until the NEXT durable boundary
    * lands on the SAME driver thread (fixpoint loops are driver-serial
    * on one thread; once a new checkpoint lands, that pipeline's live
    * frames root at the new boundary). Keyed by thread id so one
    * pipeline's boundary cannot delete another pipeline's still-needed
    * root. A pipeline that ends between boundaries leaves at most one
    * round's files pending until the thread's next everyK boundary or
    * session end — dead files, bounded by one frame per idle thread.
    *
    * Accepted residual (r16 advice, low): the thread key assumes the
    * NEXT durable boundary on a thread belongs to the same pipeline or
    * to one that no longer needs the deferred root. A LATER query
    * reusing the thread drains the earlier pipeline's deferred root;
    * if the earlier pipeline ended WITHOUT a final durable boundary,
    * handed its everyK lineage-kept frame to the caller, and that
    * frame later loses cached partitions, the recompute hits the
    * deleted root (FileNotFound) — the class the deferral prevents, in
    * a much narrower window. Every fixpoint here closes with a durable
    * cut before returning (the loop's final round is a boundary), so
    * the window requires a caller holding an INTERMEDIATE round frame
    * across queries — not a shape this engine's query surface
    * produces. A serving deployment wanting cross-query caching of
    * everyK intermediates should key deferral by an explicit pipeline
    * token instead. */
  private val pendingDurableDeletes =
    new java.util.concurrent.ConcurrentHashMap[Long, List[String]]()

  private def deleteCheckpointFile(f: String,
      hadoopConf: org.apache.hadoop.conf.Configuration): Unit = {
    val p = new org.apache.hadoop.fs.Path(f)
    p.getFileSystem(hadoopConf).delete(p, true)
  }

  /** A new durable boundary supersedes every delete this thread
    * deferred — the files are now dead for this pipeline's lineage. */
  private def drainPendingDeletes(spark: SparkSession): Unit = {
    val pend = pendingDurableDeletes.remove(Thread.currentThread().getId)
    if (pend != null) pend.foreach(
      deleteCheckpointFile(_, spark.sparkContext.hadoopConfiguration))
  }

  /** Cut lineage + materialize `df` via the configured strategy. Every
    * former `.localCheckpoint()` site routes through here
    * (`.transform(Engine.cut)`); both strategies are eager, so call
    * sites keep run-the-plan-once semantics. */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("graft.checkpoint.mode").getOrElse("local") match {
      case "reliable"
          if spark.conf.getOption("graft.checkpoint.everyK")
            .exists(_.toInt > 1) &&
            cutSeq.incrementAndGet() %
              spark.conf.get("graft.checkpoint.everyK").toInt != 0 =>
        // Checkpoint-every-k (r15, built on the slow-store pricing —
        // SCALING.md's PriceReliable table: 2.89x family / 4.83x worst
        // at 40 ms RTT + 100 MB/s — per-ROUND durable writes are
        // RTT-bound, so pay the store only at every k-th cut):
        // intermediate rounds
        // materialize into the executor cache with lineage KEPT — an
        // executor loss recomputes the lost partitions through at most
        // k-1 cached rounds back to the last durable checkpoint
        // (bounded recovery), unlike localCheckpoint whose truncated
        // lineage makes any loss terminal. The trade: logical plans
        // grow k rounds deep between boundaries (execution stays flat —
        // CacheManager substitutes each prior round's InMemoryRelation)
        // and recovery re-runs up to k-1 rounds. Spacing is guaranteed
        // for driver-serial cuts (every iterative operator here);
        // concurrent pipelines interleave the counter and may checkpoint
        // sooner than k, never later.
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
      case "reliable" =>
        val sc = spark.sparkContext
        val dir = spark.conf.getOption("graft.checkpoint.dir")
          .getOrElse(sys.props("java.io.tmpdir") + "/graft-checkpoint")
        // setCheckpointDir appends a per-call UUID subdir — re-point only
        // when the configured ROOT actually changed. Compare the current
        // dir's resolved parent path against the configured root (a
        // substring test would let `/ckpt` match a current `/ckpt2/uuid`
        // and skip the re-point).
        val root = new org.apache.hadoop.fs.Path(dir)
        val fs = root.getFileSystem(sc.hadoopConfiguration)
        val qualifiedRoot = fs.makeQualified(root)
        val sameRoot = sc.getCheckpointDir.exists { cur =>
          val parent = new org.apache.hadoop.fs.Path(cur).getParent
          // a current dir on a DIFFERENT FileSystem (scheme change, e.g.
          // file: -> slowfs: when a session re-points mid-life) makes
          // makeQualified throw "Wrong FS" — that is precisely "not the
          // same root", not an error
          parent != null && (try fs.makeQualified(parent) == qualifiedRoot
          catch { case _: IllegalArgumentException => false })
        }
        if (!sameRoot) sc.setCheckpointDir(dir)
        // Tag the jobs this call submits (the materializing action AND
        // ReliableRDDCheckpointData's separate write-files job) so the
        // ClusterCheck mid-write chaos arm can aim its executor kill at
        // a task INSIDE the checkpoint write rather than a job boundary.
        val prevDesc = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(CutJobDescription)
        val out =
          try df.checkpoint()
          finally sc.setLocalProperty("spark.job.description", prevDesc)
        // only once the new checkpoint has LANDED are the deletes this
        // thread deferred under everyK safe (a failed checkpoint keeps
        // them pending — the old boundary is still the recovery root)
        drainPendingDeletes(spark)
        out
      case "local" => df.localCheckpoint()
      case other => throw new IllegalArgumentException(
        s"graft.checkpoint.mode=$other (expected local|reliable)")
    }
  }

  /** [[cut]] `df` hash-partitioned on `key`, one partition per core,
    * with the layout kept ([[withoutAqe]]): an iterative operator's
    * rounds group or join the cut on `key` with no exchange on its side
    * (the graph fixpoints, Dedup's components). */
  def cutByKey(df: DataFrame, key: String): DataFrame = {
    val spark = df.sparkSession
    withoutAqe(spark) {
      cut(df.repartition(spark.sparkContext.defaultParallelism, col(key)))
    }
  }

  /** Files a write of `bytes` lands: one per 128 MB, at least one. */
  def filesFor(bytes: Long): Int =
    math.max(1L, math.min(bytes / (128L << 20), Int.MaxValue)).toInt

  /** `df`, `bytes` in all, coalesced (no shuffle) to [[filesFor]] write
    * partitions: a COPY batch or a compaction writes by size, not by core. */
  def inFiles(df: DataFrame, bytes: Long): DataFrame = df.coalesce(filesFor(bytes))

  /** Drop the storage behind a cut() frame once a downstream
    * materialization supersedes it (iterative operators cut lineage
    * every round; without the release each local-mode round's blocks
    * pin storage memory — and each reliable-mode round's files pin
    * durable storage — for the life of the session). */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        // reliable cut: the superseded round's files under
        // <ckptDir>/<uuid>/rdd-<id> are dead weight — delete eagerly
        // rather than waiting for ContextCleaner GC. EXCEPT under
        // everyK: intermediate rounds' kept lineage still roots at
        // this checkpoint, so the delete is deferred to the next
        // durable boundary (see pendingDurableDeletes).
        l.rdd.getCheckpointFile.foreach { f =>
          val spark = df.sparkSession
          val everyK =
            spark.conf.getOption("graft.checkpoint.mode")
              .contains("reliable") &&
            spark.conf.getOption("graft.checkpoint.everyK")
              .exists(_.toInt > 1)
          if (everyK)
            pendingDurableDeletes.merge(Thread.currentThread().getId,
              List(f), (a, b) => a ::: b)
          else deleteCheckpointFile(f,
            spark.sparkContext.hadoopConfiguration)
        }
      // everyK intermediate cut: the frame is dataset-cached with its
      // logical plan intact — drop the cache entry (no-op for frames
      // that were never persisted)
      case _ => df.unpersist(blocking = false); ()
    }

  /** Run `body` with Catalyst constraint propagation disabled on
    * `spark`, restoring the prior value after. Workaround for a Spark
    * optimizer defect hit by the iterative union-of-join shape on
    * lineage-cut inputs (found the first time bfsHops ran on a
    * mutual-kNN edge fixture): `Union.rewriteConstraints` throws
    * `NoSuchElementException: key not found: <attr>` when a union
    * child's constraint set references an attribute outside that
    * child's output after projection pushdown — a planner crash, not a
    * wrong answer. The conf is read at OPTIMIZATION time, so the
    * set/restore window only affects queries PLANNED concurrently on
    * this session, and for those the effect is the loss of inferred
    * is-not-null join filters — a perf assist, never correctness. */
  def withoutConstraintPropagation[T](spark: SparkSession)(body: => T): T =
    withConfOff(spark, "spark.sql.constraintPropagation.enabled")(body)

  /** Scope AQE off for `body`. Used by [[cutByKey]] (r19): an EAGER
    * checkpoint planned under AQE captures AdaptiveSparkPlanExec, whose
    * outputPartitioning is UnknownPartitioning, so the LogicalRDD
    * silently loses the hash layout the repartition paid for (a join
    * over an AQE-planned pre-partitioned cut still exchanges both
    * sides; the AQE-off cut exchanges only the other side, pinned in
    * CheckpointStrategySpec). CONSUMERS still plan under AQE — only the
    * materializing execution of the cut frame itself runs without it. */
  def withoutAqe[T](spark: SparkSession)(body: => T): T =
    withConfOff(spark, "spark.sql.adaptive.enabled")(body)

  /** Set boolean conf `key` to false on `spark` for `body`, restoring the
    * prior value after. Reentrant per (session, key) (r17 advice):
    * without a depth count, two overlapping scopes would have the inner
    * capture prior="false" and restore it after the outer exits —
    * leaving the conf disabled session-wide. Only the OUTERMOST scope
    * captures and restores; the bookkeeping runs under one monitor
    * (scope entry/exit only, never around `body`). */
  private def withConfOff[T](spark: SparkSession, key: String)(body: => T): T = {
    val scope = (spark, key)
    scopeLock.synchronized {
      scopes.get(scope) match {
        case Some((prior, d)) => scopes(scope) = (prior, d + 1)
        case None => scopes(scope) = (spark.conf.get(key), 1); spark.conf.set(key, "false")
      }
    }
    try body finally scopeLock.synchronized {
      val (prior, d) = scopes(scope)
      if (d == 1) { spark.conf.set(key, prior); scopes.remove(scope) }
      else scopes(scope) = (prior, d - 1)
    }
  }
  private val scopeLock = new Object
  // (session, key) -> (value before the outermost scope, open scopes)
  private val scopes =
    scala.collection.mutable.HashMap.empty[(SparkSession, String), (String, Int)]

  /** No-op kept for callers of the retired per-query cache registry: no
    * operator persists a per-query frame any more (the top-k heap runs
    * inside the consumer's plan), so there is never anything to release.
    * Always returns 0. */
  def releaseEphemeral(owner: SparkSession): Int = 0
}
