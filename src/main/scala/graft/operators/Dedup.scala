package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Engine, GQ}
import graft.functions.{GraftFunctions => GF}
import graft.functions.TextFunctions._

/** Deduplication operators for the 100 TB training-data pipeline:
  * exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design:
  *  - exact dedup shuffles once on the content hash (not the text) — keys
  *    are 128-bit, uniformly distributed, no skew;
  *  - MinHash/LSH shuffles on (band, bandHash) buckets; candidate groups
  *    are capped (maxBucket) so a degenerate constant column cannot
  *    produce a quadratic bucket — the standard guard at web scale;
  *  - SimHash buckets by maxHamming+1 bit-range chunks (pigeonhole: any
  *    pair within the hamming radius shares at least one chunk — recall
  *    is complete for every maxHamming, not just a fixed radius);
  *  - pairwise Jaccard is only ever run INSIDE candidate buckets (or on
  *    explicitly bounded subsets for the oracle check), never all-pairs.
  */
object Dedup {

  /** Degenerate-bucket cap shared by EVERY capped bucket-join scheme
    * (minhash bands d02, simhash chunks d03, n-gram buckets, the LSH
    * bucket self-joins in VectorSearch, perceptual-hash chunks m04) AND
    * by their oracle texts: the cap is part of each operator's
    * semantics (the documented recall trade of principle 6 — the first
    * sf0.1 oracle sweep proved a capless oracle diverges exactly where
    * a bucket tops the cap), so kernel default and oracle SQL must
    * reference ONE constant — an edit to either alone cannot silently
    * decouple them. */
  val MaxBucket: Int = 1000


  private def docs(s: SparkSession, d: String): DataFrame =
    Engine.table(s, d, "documents")

  /** Exact dedup: one shuffle on md5(text); survivor = lowest doc_id
    * (deterministic, unlike dropDuplicates' arbitrary pick). */
  def exactGroups(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text").cast(BinaryType)).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** Survivor rows only (the "dedup the corpus" operation). */
  def exactSurvivors(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text").cast(BinaryType)))
      .orderBy(col("doc_id"))
    documents.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** MinHash+LSH candidate pairs: shingle -> n-permutation signature ->
    * band -> bucket-join. Returns (id_a, id_b, est_jaccard) with
    * est_jaccard = fraction of matching signature components.
    */
  def minhashCandidates(
      documents: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      minEstJaccard: Double = 0.2,
      maxBucket: Int = MaxBucket): DataFrame = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes): a non-dividing " +
        "split silently ignores the signature tail, and bands beyond the " +
        "signature length produce constant (whole-corpus) buckets")
    // Tokens/shingles/minhash/banding are all native one-pass kernels.
    // The bucket stage carries ONLY (id, band, bh): shuffling signatures
    // through the groupBy would amplify sig bytes x bands (64*8B x 16
    // per doc); instead candidate pairs are deduped narrow and the two
    // signatures joined back afterward — at corpus scale the pair list
    // is orders of magnitude smaller than the banded corpus. The trade:
    // the sig lineage (scan+tokenize+minhash, cheap native kernels) is
    // re-executed for the join-back sides instead of cached — measured
    // net win at sf0.1 (2.0s -> 1.1s) and no leaked cache state.
    val sig = documents
      .select(col(idCol).as("id"), tokens(col(textCol)).as("tok"))
      .select(col("id"), array_distinct(shingles(col("tok"), shingleK)).as("sh"))
      .select(col("id"), GF.minhash(col("sh"), numHashes).as("sig"))

    val banded = sig.select(col("id"),
      posexplode(GF.bandHashes(col("sig"), bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")

    // ONE shuffle: group each (band, bucket); skew guard caps pathological
    // buckets (a degenerate constant column cannot go quadratic); pair
    // generation is a bounded in-bucket cross product via double explode,
    // deduped while still narrow (a pair can surface from many bands).
    val buckets = banded.groupBy("band", "bh")
      .agg(collect_list(col("id")).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
    val pairs = buckets
      .select(explode(col("members")).as("id_a"), col("members"))
      .select(col("id_a"), explode(col("members")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()

    pairs
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (GF.sigMatch(col("sig_a"), col("sig_b"))
          .cast(DoubleType) / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** SimHash near-dup pairs: 64-bit signature, bucketed into
    * `maxHamming + 1` bit-range chunks, pairs within `maxHamming`
    * (bit_count(xor) — builtin). The chunk count is DERIVED from
    * maxHamming so the pigeonhole recall guarantee always holds: a pair
    * differing in at most maxHamming bits cannot differ in all
    * maxHamming+1 chunks, so it shares at least one chunk value and is
    * guaranteed to surface as a candidate (100% recall at any
    * maxHamming <= 63 — a fixed 4x16-bit split would silently miss
    * pairs differing in all 4 chunks once maxHamming > 3). Like the
    * minhash path this is ONE shuffle on (chunk, ck) with in-bucket
    * pair generation — a linear pipeline, one corpus scan, nothing
    * cached. The recall/shuffle trade is explicit: higher maxHamming =
    * more, narrower chunks = more bucket rows and larger buckets. */
  def simhashPairs(
      documents: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      maxBucket: Int = MaxBucket): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming ($maxHamming) must be in [0, 63] for a 64-bit signature")
    val sig = documents
      .select(col(idCol).as("id"), tokens(col(textCol)).as("tok"))
      .select(col("id"), GF.simhash(col("tok")).as("sig"))
    hammingNeighborPairs(sig, maxHamming, maxBucket)
  }

  /** The d03 oracle's chunkdef CTE: one row per pigeonhole chunk with
    * 2^lo and 2^width as HUGEINT literals, boundaries computed by the
    * SAME integer arithmetic as [[hammingNeighborPairs]] so the
    * oracle's (signature // 2^lo) % 2^width equals the Scala side's
    * shift-and-mask chunk value bit for bit. */
  private[graft] def oracleSimhashChunks(maxHamming: Int = 6): String = {
    val n = maxHamming + 1
    val rows = (0 until n).map { i =>
      val lo = i * 64 / n
      val hi = (i + 1) * 64 / n
      s"($i, ${BigInt(2).pow(lo)}::HUGEINT, ${BigInt(2).pow(hi - lo)}::HUGEINT)"
    }.mkString(", ")
    s"chunkdef(i, plo, pw) AS (VALUES $rows),"
  }

  /** All (id_a < id_b) pairs whose 64-bit signatures differ in at most
    * `maxHamming` bits, from a (id, sig) frame — the pigeonhole-complete
    * candidate scheme shared by simhash text dedup (d03) and perceptual-
    * hash media dedup (m04): any two signatures within the radius agree
    * on at least one of maxHamming+1 disjoint chunks, so bucketing on
    * every (chunk, value) finds every qualifying pair. One shuffle on
    * (chunk, value); `maxBucket` caps degenerate buckets (constant
    * signatures) so no aggregation row is unbounded. */
  def hammingNeighborPairs(sig: DataFrame, maxHamming: Int,
      maxBucket: Int = MaxBucket): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming ($maxHamming) must be in [0, 63] for a 64-bit signature")
    val nChunks = maxHamming + 1
    // chunk i covers bits [i*64/n, (i+1)*64/n) — widths differ by at most
    // one bit when n does not divide 64; boundaries are computed here so
    // every signature bit lands in exactly one chunk
    val chunkExprs: Seq[Column] = (0 until nChunks).map { i =>
      val lo = i * 64 / nChunks
      val hi = (i + 1) * 64 / nChunks
      val width = hi - lo
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      call_function("shiftrightunsigned", col("sig"), lit(lo))
        .bitwiseAND(lit(mask))
    }
    val chunked = sig.select(col("id"), col("sig"),
      posexplode(array(chunkExprs: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ck")
    // same skew guard as the minhash path: a degenerate chunk value (e.g.
    // simhash 0 from empty token lists) must not collect an unbounded
    // bucket into one aggregation row
    val buckets = chunked.groupBy("chunk", "ck")
      .agg(collect_list(struct(col("id"), col("sig"))).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
    buckets
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming) // before distinct: dedup survivors only
      .distinct()
  }

  /** Exact n-gram Jaccard similarity for bounded candidate sets: explode
    * distinct shingles, self-join on shingle, |A∩B| / (|A|+|B|-|A∩B|). */
  def ngramJaccardPairs(
      documents: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      minJaccard: Double): DataFrame = {
    // shingle-set sizes ride along with each exploded row, so the
    // intersection groupBy recovers them with any_value — no extra joins
    // back to a cached frame (tokenization runs once per join side; this
    // operator is only ever applied to bounded candidate sets)
    val ex = documents
      .select(col(idCol).as("id"), tokens(col(textCol)).as("tok"))
      .select(col("id"), array_distinct(shingles(col("tok"), shingleK)).as("sh"))
      .select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
    val inter = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("ic"),
        any_value(col("a.sz")).as("sz_a"), any_value(col("b.sz")).as("sz_b"))
    inter
      .select(col("id_a"), col("id_b"),
        round(col("ic").cast(DoubleType) / (col("sz_a") + col("sz_b") - col("ic")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Signature frame: id, minhash sig over k-shingles (shared by the
    * in-corpus and cross-corpus pipelines). */
  private def signatures(documents: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleK: Int): DataFrame =
    documents
      .select(col(idCol).as("id"), tokens(col(textCol)).as("tok"))
      .select(col("id"), array_distinct(shingles(col("tok"), shingleK)).as("sh"))
      .select(col("id"), GF.minhash(col("sh"), numHashes).as("sig"))

  private def bandify(sig: DataFrame, bands: Int): DataFrame =
    sig.select(col("id"), col("sig"),
      posexplode(graft.functions.GraftFunctions.bandHashes(col("sig"), bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")

  /** Incremental corpus hygiene: which NEW documents survive against an
    * EXISTING corpus? Drops (1) exact duplicates (fingerprint anti join —
    * both within the batch, keeping the lowest id, and vs the corpus) and
    * (2) near-duplicates of corpus documents (banded minhash cross-join,
    * est jaccard >= minEstJaccard). Returns the surviving new rows.
    *
    * Scale: the corpus side is touched only as fingerprints + signatures
    * (both tiny, precomputable, and storable as a side table); the
    * cross-set candidate join shuffles on band buckets exactly like the
    * in-corpus LSH path.
    */
  def dedupAgainstCorpus(
      newDocs: DataFrame, corpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
      minEstJaccard: Double = 0.8): DataFrame = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    // (1) exact: in-batch survivors, then anti join on corpus fingerprints
    val inBatch = exactSurvivors(newDocs)
    val corpusFp = corpus.select(fingerprint(col(textCol)).as("fp"))
    val exactClean = inBatch
      .withColumn("fp", fingerprint(col(textCol)))
      .join(corpusFp, Seq("fp"), "left_anti").drop("fp")

    // (2) near-dup vs corpus: banded signatures cross-set join
    val nb = bandify(signatures(exactClean, idCol, textCol, numHashes, shingleK),
      bands)
    val cb = bandify(signatures(corpus, idCol, textCol, numHashes, shingleK),
      bands)
      .select(col("band"), col("bh"), col("sig").as("c_sig"))
    val nearDupIds = nb.join(cb, Seq("band", "bh"))
      .select(col("id"), (GF.sigMatch(col("sig"), col("c_sig"))
        .cast(DoubleType) / numHashes).as("est"))
      .filter(col("est") >= minEstJaccard)
      .select(col("id").as(idCol)).distinct()

    exactClean.join(nearDupIds, Seq(idCol), "left_anti")
  }

  /** Connected components over a near-dup pair graph + survivor pick —
    * the step that turns pairwise similarity into actual corpus dedup
    * (each cluster keeps its lowest id). Two execution regimes chosen
    * from the MEASURED edge count (see body): a driver-local union-find
    * when the graph is small (exact, no per-round scheduling), and an
    * iterative distributed min-label propagation to a fixpoint
    * otherwise: label(v) := min(label(v), min over neighbors); each
    * round is one shuffle on the node id, lineage is cut per round
    * (localCheckpoint) so plans stay flat. Rounds needed = O(log
    * diameter) with pointer jumping — near-dup clusters are shallow
    * (dups of dups of X are dups of X), so this converges in a handful
    * of rounds at any scale; both regimes produce identical labels
    * (spec-asserted).
    *
    * Returns (id, cluster, is_survivor): cluster = min id reachable,
    * survivor = the row whose id equals its cluster id.
    */
  def nearDupClusters(pairs: DataFrame, nodes: DataFrame): DataFrame =
    componentsByMinLabel(pairs, nodes)

  /** Driver-local union-find limit for [[componentsByMinLabel]]: 2M
    * pairs, ~32 MB of longs (see the regime note there). The union-find
    * stays: d05 runs 555 ms against 3296 ms (5.94x) and d16 794 ms
    * against 2067 ms (2.60x) for the fixpoint (sf0.1, local[4], median
    * of 5 interleaved warm build+collect pairs, rows equal). */
  private val DriverMaxEdges = 2000000L

  /** Connected components by min-label propagation, generic over the
    * node-id type: LongType (d05's doc ids) and StringType (d16's name
    * domain) share one implementation because min-label convergence
    * needs only a TOTAL ORDER on labels, not dense integers. Running
    * directly on the natural key removes the dense-ID assignment that
    * previously fed d16 — a `row_number()` window with no partitionBy,
    * i.e. a single task sorting the whole name vocabulary (10^8+ rows
    * at 100 TB). The component's min label IS its canonical value, so
    * no rank mapping is needed at any scale.
    *
    * String order parity: Spark's min()/least() compare strings as
    * UTF-8 bytes (UTF8String), which equals code-point order — the
    * driver union-find arm compares the same way so both regimes pick
    * identical canonical labels (java.lang.String's UTF-16 order would
    * diverge above the BMP). DuckDB's default binary collation matches,
    * which is what keeps the d16 oracle exact.
    */
  private def componentsByMinLabel(pairs: DataFrame,
      nodes: DataFrame): DataFrame = {
    // materialize the (possibly expensive) pair source ONCE, then derive
    // the symmetric edge list from the materialized form — a union of
    // two references to the raw plan would execute it twice
    val pl = pairs.select(col("id_a"), col("id_b"))
    val p = pl.transform(Engine.cut)
    val idType = p.schema.head.dataType
    // adaptive execution, sized from the (already materialized) edge
    // count — the same runtime-statistics reasoning AQE applies within
    // a query, applied across the loop. The candidate-pair graph holds
    // only docs WITH a near-dup candidate (the LSH residue), orders
    // smaller than the corpus, so two regimes:
    //  - graph fits driver memory (<= DriverMaxEdges pairs, ~32 MB):
    //    exact union-find on the driver — O(E α(E)) with zero
    //    per-round job scheduling, the same min-id labels;
    //  - larger, or the Engine.DriverLocalConf switch off (how the
    //    ClusterCheck chaos harness executor-kills the min-label
    //    fixpoint at gate scale): the distributed min-label fixpoint
    //    below, over cuts pre-partitioned on the round keys.
    // The gate memoizes its count on the pre-cut plan.
    if (Engine.driverLocal(pl, DriverMaxEdges)(p.count())) {
      val edgeRows = p.collect()
      Engine.releaseCheckpoint(p)
      // ordering must agree with the distributed arm's min()/least():
      // longs compare numerically, strings as UTF-8 bytes (see Scaladoc)
      val lt: (Any, Any) => Boolean = idType match {
        case LongType => (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long]
        case StringType => (a, b) =>
          org.apache.spark.unsafe.types.UTF8String
            .fromString(a.asInstanceOf[String])
            .compareTo(org.apache.spark.unsafe.types.UTF8String
              .fromString(b.asInstanceOf[String])) < 0
        case t => throw new IllegalArgumentException(
          s"componentsByMinLabel: unsupported node-id type $t")
      }
      // union-find, roots pinned to the component minimum: attaching the
      // LARGER root under the smaller keeps root == min id with no
      // separate relabel pass; path compression bounds chain length
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def root(x: Any): Any = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edgeRows.foreach { e =>
        val a = e.get(0); val b = e.get(1)
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val ra = root(a); val rb = root(b)
        if (lt(ra, rb)) parent(rb) = ra else if (lt(rb, ra)) parent(ra) = rb
      }
      val spark = nodes.sparkSession
      import scala.jdk.CollectionConverters._
      val schema = StructType(Seq(
        StructField("id", idType), StructField("lbl", idType)))
      val labels = spark.createDataFrame(
        parent.keys.toSeq
          .map(id => org.apache.spark.sql.Row(id, root(id))).asJava, schema)
      return attachLabels(nodes, labels)
    }
    val edges = Engine.cutByKey(p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst"))), "src")
    Engine.releaseCheckpoint(p) // edges (eagerly materialized) supersedes p
    // iterate ONLY over nodes that occur in the graph: an isolated node
    // can never adopt a neighbor's label, so dragging the full corpus
    // through every round just re-shuffles rows that cannot change. At
    // 100 TB that is the difference between |corpus| rows per round and
    // |near-dup candidate| rows per round (typically orders smaller —
    // the LSH residue). Isolated nodes rejoin at the end as their own
    // single-member clusters. The symmetric edge list lists every graph
    // node as a src, so distinct(src) IS the graph's node set.
    // `labelsCp` is always the checkpointed frame itself (its logical
    // plan is the LogicalRDD), so Engine.releaseCheckpoint can find the
    // persisted RDD; `labels` is the (id, lbl) view over it
    var labelsCp = Engine.cutByKey(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl")), "id")
    var labels = labelsCp
    var changed = 1L
    while (changed > 0) {
      // neighbor min: one shuffle on the node id
      val prop = edges.join(labels.withColumnRenamed("id", "dst2"),
          col("dst") === col("dst2"))
        .groupBy(col("src").as("pid")).agg(min("lbl").as("nlbl"))
      // pointer jumping: also adopt lbl(lbl(v)) — labels always point at
      // real node ids, so the chain-halving join keeps the invariant
      // (label stays within the component, >= component min) while
      // cutting convergence from O(diameter) to O(log diameter) rounds
      val hop = labels.select(col("id").as("hid"), col("lbl").as("hlbl"))
      val next = labels.withColumnRenamed("lbl", "old")
        .join(prop, col("id") === col("pid"), "left")
        .join(hop, col("old") === col("hid"), "left")
        .select(col("id"), col("old"),
          least(col("old"),
            coalesce(col("nlbl"), col("old")),
            coalesce(col("hlbl"), col("old"))).as("lbl"))
        .transform(Engine.cut)
      changed = next.filter(col("lbl") =!= col("old")).count()
      Engine.releaseCheckpoint(labelsCp) // next (eagerly materialized) supersedes it
      labelsCp = next
      labels = next.select("id", "lbl")
    }
    Engine.releaseCheckpoint(edges) // the fixpoint no longer needs the edge list
    // the final labels checkpoint stays persisted: the returned frame
    // reads from it. It holds one (id, lbl) row per GRAPH node (small)
    // and is released by ContextCleaner when the frame is GC'd.
    attachLabels(nodes, labels)
  }

  /** Rejoin the corpus to the graph labels — one broadcast-able join
    * (labels is the tiny side), never an extra corpus shuffle; isolated
    * nodes surface as their own surviving singleton clusters. */
  private def attachLabels(nodes: DataFrame, labels: DataFrame): DataFrame =
    nodes.join(labels.withColumnRenamed("id", "gid"),
        col("id") === col("gid"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("cluster"),
        (col("id") === coalesce(col("lbl"), col("id"))).as("is_survivor"))

  /** Exact membership dedup with a bloom pre-filter: drop batch rows
    * whose content hash exists in the corpus. The bloom filter (built
    * distributed, shipped in the task closure like a broadcast join
    * side) splits the batch in one shuffle-free scan:
    *   - probe negative -> DEFINITELY not in the corpus (bloom has no
    *     false negatives): kept without touching the join;
    *   - probe positive -> candidate: verified by an exact anti join.
    * Result is exact; the bloom only shrinks the join's input. At 100 TB
    * this is the difference between anti-joining the full batch against
    * the corpus-fingerprint table and anti-joining the ~(dup_rate + fpp)
    * fraction that probes positive. fpp trades bloom size (driver+task
    * memory) against wasted join traffic.
    */
  def bloomMembershipDedup(batch: DataFrame, corpus: DataFrame,
      textCol: String = "text", fpp: Double = 0.03,
      maxBloomItems: Long = 100000000L): DataFrame = {
    val spark = batch.sparkSession
    val fpCol = md5(col(textCol).cast(BinaryType))
    val corpusFp = corpus.select(fpCol.as("fp"))
    val b = batch.withColumn("fp", fpCol)
    // Size the bloom WITHOUT a dedicated counting scan (round-3 finding:
    // corpusFp.count() cost one extra full pass): use the plan's
    // statistics — parquet row-count when the plan exposes it, else a
    // bytes-based overestimate. Sizing only shifts the REALIZED fpp;
    // correctness never depends on it (the anti join verifies every
    // positive probe).
    val stats = corpusFp.queryExecution.optimizedPlan.stats
    val expected = stats.rowCount.map(_.toLong)
      .getOrElse(math.max(stats.sizeInBytes.toLong / 64L, 1L))
    if (expected > maxBloomItems) {
      // Ceiling: beyond ~1e8 items the driver-aggregated bloom is the
      // new bottleneck (~1.1 GB/1e9 items at 3% fpp -> driver OOM at a
      // 10^12-doc corpus). The operator degrades to the plain exact
      // anti join — same result, no sketch. A partitioned bloom build
      // would be the next step if the prefilter is still wanted there.
      b.join(corpusFp, Seq("fp"), "left_anti").drop("fp")
    } else {
      val bloom = corpusFp.stat.bloomFilter("fp", math.max(expected, 1L), fpp)
      val probe = GF.bloomContains(spark, col("fp"), bloom)
      val definiteKeep = b.filter(!probe)
      val verified = b.filter(probe).join(corpusFp, Seq("fp"), "left_anti")
      definiteKeep.unionByName(verified).drop("fp")
    }
  }

  /** Eval-set decontamination: drop every training document sharing at
    * least one k-word shingle with an eval/benchmark document — the
    * standard pre-training leakage guard. Shingles are compared by a
    * 128-bit hash pair (fnv64 + xxhash64) so the semi/anti joins shuffle
    * 16-byte keys instead of k-word strings; a false contamination
    * requires the SAME 128-bit collision, ~2^-128 per pair — not
    * reachable at any corpus size.
    */
  /** (id, h1, h2) — one row per distinct k-shingle of each document,
    * keyed by the 128-bit (fnv64, xxhash64) hash pair. The shared
    * shingle-table builder for batch and streaming decontamination;
    * an eval set's table is tiny, precomputable, and broadcastable. */
  def shingleHashes(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame = df
    .select(col(idCol).as("id"), tokens(col(textCol)).as("tok"))
    .select(col("id"),
      explode(array_distinct(shingles(col("tok"), shingleK))).as("s"))
    .select(col("id"), GF.fnv64(col("s")).as("h1"), xxhash64(col("s")).as("h2"))

  def decontaminate(train: DataFrame, eval_ : DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 8): DataFrame = {
    val contaminated = shingleHashes(train, idCol, textCol, shingleK)
      .join(shingleHashes(eval_, idCol, textCol, shingleK)
        .select("h1", "h2").distinct(), Seq("h1", "h2"), "left_semi")
      .select(col("id").as(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Entity resolution by token-blocked fuzzy matching — near-duplicate
    * catalog/name entries (the PII-dedup / record-linkage shape of the
    * training-data pipeline), resolved over the DISTINCT-VALUE domain.
    *
    * Scale design (the percentile-rollup trick applied to ER):
    *  1. roll rows up to distinct names first — every later stage is
    *     bounded by name-vocabulary cardinality, not row count;
    *  2. candidate pairs come from standard token blocking: two names
    *     are candidates iff they share a token whose document frequency
    *     is in [2, dfCap]. The df cap drops non-discriminative hot
    *     tokens (a stopword-like token would otherwise pair everything
    *     with everything — the same quadratic-bucket guard as LSH's
    *     maxBucket); df-1 tokens cannot form a pair and are pruned
    *     before the self-join;
    *  3. `levenshtein` runs only on blocked candidates, never all pairs;
    *  4. the output stays at the value level (name_a, name_b, dist,
    *     rows represented by each side) — row-level linkage is a later
    *     equi-join on name, so no row-pair set is ever materialized.
    */
  def entityPairs(parts: DataFrame, nameCol: String = "p_name",
      maxDist: Int = 3, dfCap: Long = 1000L): DataFrame = {
    val names = parts.groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).as("cnt"))
    // r19 (the t14 doc-local-distinct discipline): names are unique
    // after the groupBy, so distinct (name, tok) pairs dedupe
    // NAME-LOCALLY — array_distinct inside the projection replaces the
    // corpus-wide .distinct() exchange; the multiset is identical.
    val toks = names.select(col("name"),
      explode(array_distinct(split(col("name"), " "))).as("tok"))
    val keep = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
      .select("tok")
    val blocked = toks.join(keep, Seq("tok"))
    val cand = blocked.as("a")
      .join(blocked.as("b"),
        col("a.tok") === col("b.tok") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
    cand
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .join(names.select(col("name").as("name_a"), col("cnt").as("rows_a")),
        Seq("name_a"))
      .join(names.select(col("name").as("name_b"), col("cnt").as("rows_b")),
        Seq("name_b"))
      .select(col("name_a"), col("name_b"), col("dist"),
        col("rows_a"), col("rows_b"))
  }

  /** Entity grouping over [[entityPairs]]' fuzzy matches: connected
    * components over the value-level pair graph, canonical entity =
    * the cluster's minimum name. Components run DIRECTLY on the string
    * name domain ([[componentsByMinLabel]] is generic over the label
    * type) — min-label propagation needs only a total order, so no
    * dense-ID mapping exists, and in particular no global rank window:
    * the previous `row_number().over(Window.orderBy("name"))` funneled
    * the whole name vocabulary through ONE task, a scale-killer at a
    * 10^8+ entity domain. Every stage here is value-domain bounded and
    * fully partitioned. */
  def entityClusters(parts: DataFrame, nameCol: String = "p_name",
      maxDist: Int = 3, dfCap: Long = 1000L): DataFrame = {
    val pairs = entityPairs(parts, nameCol, maxDist, dfCap)
      .select(col("name_a").as("id_a"), col("name_b").as("id_b"))
    val names = parts.select(col(nameCol).as("name")).distinct()
    componentsByMinLabel(pairs, names.select(col("name").as("id")))
      .select(col("id").as("name"), col("cluster").as("entity"),
        (col("id") === col("cluster")).as("is_canonical"))
  }

  // ------------------------------------------------------------------
  // Driver-verified query entries
  // ------------------------------------------------------------------
  val defs: Seq[GQ] = Seq(

    // ER grouping: components over the fuzzy-pair graph (the d05
    // recursive-CTE oracle discipline on STRING node labels)
    GQ("d16_entity_clusters",
      Some("""WITH RECURSIVE nm AS (SELECT DISTINCT p_name AS name FROM part),
        toks AS (SELECT DISTINCT name, unnest(string_split(name, ' ')) AS tok FROM nm),
        keep AS (SELECT tok FROM toks GROUP BY tok HAVING COUNT(*) >= 2 AND COUNT(*) <= 1000),
        cand AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
                 FROM toks a JOIN keep k ON a.tok = k.tok JOIN toks b ON b.tok = a.tok
                 WHERE a.name < b.name),
        p AS (SELECT name_a, name_b FROM cand WHERE levenshtein(name_a, name_b) <= 3),
        edges AS (SELECT name_a AS src, name_b AS dst FROM p
                  UNION ALL SELECT name_b, name_a FROM p),
        cc AS (
          SELECT name AS n, name AS lbl FROM nm
          UNION
          SELECT e.dst, c.lbl FROM cc c JOIN edges e ON c.n = e.src)
        SELECT n AS name, MIN(lbl) AS entity, (n = MIN(lbl)) AS is_canonical
        FROM cc GROUP BY n"""),
      (s, d) => entityClusters(Engine.table(s, d, "part"))),

    GQ("d15_entity_pairs",
      Some("""WITH names AS (SELECT p_name AS name, COUNT(*) AS cnt FROM part GROUP BY 1),
        toks AS (SELECT DISTINCT name, unnest(string_split(name, ' ')) AS tok FROM names),
        keep AS (SELECT tok FROM toks GROUP BY tok HAVING COUNT(*) >= 2 AND COUNT(*) <= 1000),
        cand AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
                 FROM toks a JOIN keep k ON a.tok = k.tok JOIN toks b ON b.tok = a.tok
                 WHERE a.name < b.name)
        SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS INT) AS dist,
               na.cnt AS rows_a, nb.cnt AS rows_b
        FROM cand JOIN names na ON cand.name_a = na.name
                  JOIN names nb ON cand.name_b = nb.name
        WHERE levenshtein(name_a, name_b) <= 3"""),
      (s, d) => entityPairs(Engine.table(s, d, "part"))),

    GQ("d01_dedup_exact",
      Some("""SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_dupes
        FROM documents GROUP BY md5(text)"""),
      (s, d) => exactGroups(docs(s, d))),

    // r10 oracle upgrade (the d03-simhash discipline applied to minhash):
    // the full scheme restated in SQL — FNV-1a shingle hashes over
    // HUGEINT mod 2^64, the 64 splitmix64-derived (A, B) permutation
    // coefficients embedded as literals (same public constants
    // GraftHash.A/B compute), the 64x64-bit wrapping multiply done in
    // 32-bit halves (a full 64x64 product overflows HUGEINT), banding
    // grouped by SLICE CONTENTS (the semantics the band hash is a proxy
    // for — fold-hash collisions are ~2^-64), and the same [2, maxBucket]
    // bucket-size guard. Empty-shingle docs get the all-0xFF signature
    // via the LEFT JOIN + COALESCE(2^64-1) arm, like the kernel.
    GQ("d02_dedup_minhash_lsh", Some {
      val ab = (0 until 64).map { j =>
        val a = java.lang.Long.toUnsignedString(graft.functions.GraftHash.A(j))
        val b = java.lang.Long.toUnsignedString(graft.functions.GraftHash.B(j))
        s"($j, $a::HUGEINT, $b::HUGEINT)"
      }.mkString(", ")
      s"""WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tok
        FROM documents),
      shing AS (
        SELECT doc_id,
               unnest(list_distinct([array_to_string(tok[i:i+2], ' ')
                                     for i in range(1, greatest(len(tok)-1, 1))])) AS s
        FROM toks),
      hashed AS (
        SELECT doc_id, s,
               list_reduce(
                 list_prepend(14695981039346656037::HUGEINT,
                   [unicode(c)::HUGEINT for c in split(s, '')]),
                 (h, b) -> (xor(h, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT
               ) AS h
        FROM shing),
      ab(j, a, b) AS (VALUES $ab),
      sigv AS (
        SELECT h.doc_id, ab.j,
               MIN(((h.h % 4294967296::HUGEINT) * ab.a
                    + (((h.h // 4294967296::HUGEINT) * ab.a) % 4294967296::HUGEINT)
                      * 4294967296::HUGEINT
                    + ab.b) % 18446744073709551616::HUGEINT) AS v
        FROM hashed h CROSS JOIN ab GROUP BY 1, 2),
      sig AS (
        SELECT d.doc_id, ab.j,
               COALESCE(s.v, 18446744073709551615::HUGEINT) AS v
        FROM documents d CROSS JOIN ab
        LEFT JOIN sigv s ON s.doc_id = d.doc_id AND s.j = ab.j),
      bandrows AS (
        SELECT doc_id, j // 4 AS band, list(v ORDER BY j) AS slice
        FROM sig GROUP BY doc_id, j // 4),
      bsz AS (
        SELECT band, slice, COUNT(*) AS c FROM bandrows GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bandrows a
        JOIN bsz ON bsz.band = a.band AND bsz.slice = a.slice
        JOIN bandrows b ON b.band = a.band AND b.slice = a.slice
        WHERE a.doc_id < b.doc_id AND bsz.c BETWEEN 2 AND $MaxBucket),
      est AS (
        SELECT c.id_a, c.id_b,
               SUM(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) / 64.0 AS est_jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b AND sb.j = sa.j
        GROUP BY 1, 2)
      SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.05"""
    },
      (s, d) => minhashCandidates(docs(s, d), minEstJaccard = 0.05)),

    // radius 6: simhash dedup radii stay small in practice (the published
    // web-scale scheme uses hamming<=3 on 64-bit fingerprints) because
    // chunk width shrinks as maxHamming+1 chunks are needed for total
    // recall — at radius 12 the 13 ~5-bit chunks have only ~32 distinct
    // values each, so every bucket approaches the maxBucket cap and pair
    // generation goes quadratic-ish. Radius 6 keeps 9-bit chunks (512
    // values) and still catches real near-dups.
    // Full SQL oracle (upgraded from rows-only in r10): simhash is
    // deterministic end-to-end — the oracle recomputes FNV-1a 64 per
    // token via list_reduce over HUGEINT (mod 2^64 wrapping = the JVM's
    // Long overflow), takes the per-bit majority vote, reconstructs the
    // signed 64-bit signature, and then — r11 — MIRRORS the pigeonhole
    // chunk-bucket scheme INCLUDING the maxBucket cap: the cap is part
    // of the operator's semantics (the documented recall trade of
    // principle 6), and the first full sf0.1 oracle sweep proved a
    // brute-force oracle diverges exactly where a chunk bucket tops
    // 1000 members (13622 vs 13980 rows at sf0.1; sf0.01 never caps).
    // Chunk boundaries [i*64/7, (i+1)*64/7) are embedded as 2^lo /
    // 2^width literals computed by the same integer arithmetic as
    // hammingNeighborPairs.
    GQ("d03_dedup_simhash",
      Some(s"""WITH RECURSIVE ${oracleSimhashChunks()} toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tok
          FROM documents),
        tok AS (SELECT doc_id, unnest(tok) AS t FROM toks),
        hashed AS (
          SELECT doc_id,
                 list_reduce(
                   list_prepend(14695981039346656037::HUGEINT,
                     [unicode(c)::HUGEINT for c in split(t, '')]),
                   (h, b) -> (xor(h, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT
                 ) AS h
          FROM tok),
        bits AS (SELECT unnest(range(64)) AS b),
        pw(b, p) AS (SELECT 0, 1::HUGEINT UNION ALL SELECT b + 1, p * 2 FROM pw WHERE b < 63),
        votes AS (
          SELECT h.doc_id, bits.b,
                 SUM(CASE WHEN (h.h // pw.p) % 2 = 1 THEN 1 ELSE -1 END) AS v
          FROM hashed h CROSS JOIN bits JOIN pw ON pw.b = bits.b
          GROUP BY 1, 2),
        sigu AS (
          SELECT d.doc_id,
                 COALESCE(SUM(CASE WHEN v.v > 0 THEN pw.p ELSE 0::HUGEINT END), 0::HUGEINT) AS su
          FROM documents d LEFT JOIN votes v ON d.doc_id = v.doc_id
          LEFT JOIN pw ON pw.b = v.b
          GROUP BY 1),
        sig AS (
          SELECT doc_id,
                 CAST(CASE WHEN su >= 9223372036854775808::HUGEINT
                      THEN su - 18446744073709551616::HUGEINT ELSE su END AS BIGINT) AS s
          FROM sigu),
        ck AS (
          SELECT g.doc_id, s.s, c.i,
                 CAST((g.su // c.plo) % c.pw AS BIGINT) AS ckv
          FROM sigu g JOIN sig s USING (doc_id) CROSS JOIN chunkdef c),
        buck AS (SELECT i, ckv FROM ck GROUP BY i, ckv
                 HAVING COUNT(*) BETWEEN 2 AND $MaxBucket),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                          a.s AS sa, b.s AS sb
          FROM ck a JOIN buck USING (i, ckv)
          JOIN ck b ON b.i = a.i AND b.ckv = a.ckv AND a.doc_id < b.doc_id)
        SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= 6"""),
      (s, d) => simhashPairs(docs(s, d), maxHamming = 6)),

    GQ("d04_dedup_ngram_jaccard",
      Some(s"""WITH $ngramPairCtes
        SELECT id_a, id_b,
               round(CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic), 6) AS jaccard
        FROM it
        JOIN sz sa ON id_a = sa.doc_id
        JOIN sz sb ON id_b = sb.doc_id
        WHERE round(CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic), 6) >= 0.02"""),
      (s, d) => ngramJaccardPairs(
        docs(s, d).filter(col("doc_id") < 300), "doc_id", "text", 3, 0.02)),

    // clustering + survivor selection over the same bounded pair set as
    // d04 — the oracle computes connected components with a recursive
    // CTE (label = min reachable id, exactly the fixpoint the Spark
    // label propagation converges to)
    GQ("d05_neardup_clusters",
      Some(s"""WITH RECURSIVE $ngramPairCtes,
        p AS (SELECT id_a, id_b FROM it
              JOIN sz sa ON id_a = sa.doc_id
              JOIN sz sb ON id_b = sb.doc_id
              WHERE round(CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic), 6) >= 0.02),
        edges AS (SELECT id_a AS src, id_b AS dst FROM p
                  UNION ALL SELECT id_b, id_a FROM p),
        cc AS (
          SELECT doc_id AS id, doc_id AS lbl FROM documents WHERE doc_id < 300
          UNION
          SELECT e.dst, c.lbl FROM cc c JOIN edges e ON c.id = e.src)
        SELECT id, MIN(lbl) AS cluster, (id = MIN(lbl)) AS is_survivor
        FROM cc GROUP BY id"""),
      (s, d) => {
        val dd = docs(s, d).filter(col("doc_id") < 300)
        val pairs = ngramJaccardPairs(dd, "doc_id", "text", 3, 0.02)
          .select("id_a", "id_b")
        nearDupClusters(pairs, dd.select(col("doc_id").as("id")))
      }),

    // Dedup audit rollup: the cluster-size histogram of d05's
    // components — how much of the corpus sits in size-1 (unique),
    // size-2, size-k near-dup clusters. THE number a curation team
    // reads after a dedup run (mass in big clusters = template farms;
    // all-singletons = threshold too tight). One aggregation over
    // d05's (id, cluster) table, then a histogram over the (tiny)
    // cluster-size table — output rows bounded by max cluster size.
    GQ("d12_cluster_sizes",
      Some(s"""WITH RECURSIVE $ngramPairCtes,
        p AS (SELECT id_a, id_b FROM it
              JOIN sz sa ON id_a = sa.doc_id
              JOIN sz sb ON id_b = sb.doc_id
              WHERE round(CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic), 6) >= 0.02),
        edges AS (SELECT id_a AS src, id_b AS dst FROM p
                  UNION ALL SELECT id_b, id_a FROM p),
        cc AS (
          SELECT doc_id AS id, doc_id AS lbl FROM documents WHERE doc_id < 300
          UNION
          SELECT e.dst, c.lbl FROM cc c JOIN edges e ON c.id = e.src),
        cl AS (SELECT id, MIN(lbl) AS cluster FROM cc GROUP BY id),
        szs AS (SELECT cluster, COUNT(*) AS csize FROM cl GROUP BY cluster)
        SELECT CAST(csize AS INT) AS cluster_size,
               COUNT(*) AS n_clusters,
               CAST(SUM(csize) AS BIGINT) AS n_docs
        FROM szs GROUP BY csize"""),
      (s, d) => {
        val dd = docs(s, d).filter(col("doc_id") < 300)
        val pairs = ngramJaccardPairs(dd, "doc_id", "text", 3, 0.02)
          .select("id_a", "id_b")
        nearDupClusters(pairs, dd.select(col("doc_id").as("id")))
          .groupBy("cluster").agg(count(lit(1)).as("csize"))
          .groupBy(col("csize").cast(IntegerType).as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("csize")).as("n_docs"))
      }),

    // Quality-based cluster survivorship — d05's survivor rule upgraded
    // to what a curation pipeline actually does: within each near-dup
    // cluster keep the BEST member (here: highest alpha ratio, the t02
    // quality axis; doc_id breaks exact-duplicate ties), not the lowest
    // id. Scale shape: d05's connected components dominate; the added
    // cost is one broadcast-or-shuffle join of the (id, cluster) table
    // with a scan-derived quality column and one window whose partition
    // cardinality is bounded by cluster size (near-dup clusters are
    // small by construction; a mega-cluster is a dedup-threshold
    // problem upstream, not a survivor-pick problem).
    GQ("d11_quality_survivor",
      Some(s"""WITH RECURSIVE $ngramPairCtes,
        p AS (SELECT id_a, id_b FROM it
              JOIN sz sa ON id_a = sa.doc_id
              JOIN sz sb ON id_b = sb.doc_id
              WHERE round(CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic), 6) >= 0.02),
        edges AS (SELECT id_a AS src, id_b AS dst FROM p
                  UNION ALL SELECT id_b, id_a FROM p),
        cc AS (
          SELECT doc_id AS id, doc_id AS lbl FROM documents WHERE doc_id < 300
          UNION
          SELECT e.dst, c.lbl FROM cc c JOIN edges e ON c.id = e.src),
        cl AS (SELECT id, MIN(lbl) AS cluster FROM cc GROUP BY id),
        al AS (SELECT doc_id AS id,
                 round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                   AS DOUBLE) / length(text), 6) AS alpha_ratio
               FROM documents WHERE doc_id < 300),
        rk AS (SELECT cl.cluster, cl.id, al.alpha_ratio,
                 ROW_NUMBER() OVER (PARTITION BY cl.cluster
                   ORDER BY al.alpha_ratio DESC, cl.id) AS rn
               FROM cl JOIN al USING (id)),
        cn AS (SELECT cluster, COUNT(*) AS n_members FROM cl GROUP BY cluster)
        SELECT r.cluster, r.id AS survivor_id, cn.n_members,
               r.alpha_ratio AS best_alpha
        FROM rk r JOIN cn USING (cluster) WHERE r.rn = 1"""),
      (s, d) => {
        val dd = docs(s, d).filter(col("doc_id") < 300)
        val pairs = ngramJaccardPairs(dd, "doc_id", "text", 3, 0.02)
          .select("id_a", "id_b")
        val clusters = nearDupClusters(pairs, dd.select(col("doc_id").as("id")))
          .select("id", "cluster")
        val alpha = dd.select(col("doc_id").as("id"),
          round(length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
            .cast(DoubleType) / length(col("text")), 6).as("alpha_ratio"))
        val counts = clusters.groupBy("cluster").agg(count(lit(1)).as("n_members"))
        val w = Window.partitionBy("cluster")
          .orderBy(col("alpha_ratio").desc, col("id"))
        clusters.join(alpha, "id")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .join(counts, "cluster")
          .select(col("cluster"), col("id").as("survivor_id"),
            col("n_members"), col("alpha_ratio").as("best_alpha"))
      }),

    // bloom pre-filtered exact membership dedup: result is EXACT (the
    // bloom only prunes the anti join's input), so the oracle is the
    // plain NOT IN — the probabilistic structure must be invisible in
    // the output
    GQ("d08_bloom_dedup",
      Some("""SELECT doc_id, lang, source, n_chars FROM documents
        WHERE doc_id < 250 AND md5(text) NOT IN
          (SELECT md5(text) FROM documents WHERE doc_id >= 250)"""),
      (s, d) => bloomMembershipDedup(
        docs(s, d).filter(col("doc_id") < 250),
        docs(s, d).filter(col("doc_id") >= 250))
        .select("doc_id", "lang", "source", "n_chars")),

    // eval-set decontamination (8-gram overlap): the 128-bit-hash join
    // is output-equivalent to the oracle's string-equality join
    GQ("d09_decontaminate",
      Some(s"""WITH tok AS (SELECT doc_id,
          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
          FROM documents),
        sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 8 THEN
            list_transform(range(1, len(t) - 6), i -> t[i] || ' ' || t[i+1] || ' ' ||
              t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5] || ' ' ||
              t[i+6] || ' ' || t[i+7])
          ELSE [] END)) AS s FROM tok),
        bad AS (SELECT DISTINCT t.doc_id FROM sh t
                JOIN (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0) e ON t.s = e.s
                WHERE t.doc_id % 50 <> 0)
        SELECT doc_id, lang, source FROM documents
        WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)"""),
      (s, d) => decontaminate(
        docs(s, d).filter(col("doc_id") % 50 =!= 0),
        docs(s, d).filter(col("doc_id") % 50 === 0))
        .select("doc_id", "lang", "source"))
  ) ++ Seq(

    // Cross-source duplication matrix — which source pairs share
    // content (licensing leak detection, crawl-overlap audit). NO
    // pair self-join: per-(hash, source) multiplicities are counted
    // first, then the pair count for (s1, s2) is the product c1*c2
    // (C(c,2) on the diagonal) — per-hash fan-out is bounded by the
    // number of sources, so a million-copy boilerplate hash costs one
    // row per source it appears in, not a quadratic pair explosion
    // (the d01 groupBy discipline extended to the pair matrix).
    GQ("d13_cross_source_dups",
      Some("""WITH hs AS (SELECT source, md5(text) AS h FROM documents),
          cs AS (SELECT h, source, COUNT(*) AS c FROM hs GROUP BY 1, 2),
          x AS (SELECT a.h AS h, a.source AS s1, b.source AS s2,
                  a.c * b.c AS np
                FROM cs a JOIN cs b ON a.h = b.h AND a.source < b.source
                UNION ALL
                SELECT h, source, source, (c * (c - 1)) // 2
                FROM cs WHERE c > 1)
        SELECT s1, s2, CAST(COUNT(*) AS INT) AS n_groups,
               CAST(SUM(np) AS BIGINT) AS n_pairs
        FROM x GROUP BY 1, 2"""),
      (s, d) => {
        val cs = docs(s, d)
          .groupBy(md5(col("text").cast(BinaryType)).as("h"), col("source"))
          .agg(count(lit(1)).as("c"))
        val cross = cs.as("a").join(cs.as("b"),
            col("a.h") === col("b.h") && col("a.source") < col("b.source"))
          .select(col("a.h").as("h"), col("a.source").as("s1"),
            col("b.source").as("s2"), (col("a.c") * col("b.c")).as("np"))
        val diag = cs.filter(col("c") > 1)
          .select(col("h"), col("source").as("s1"), col("source").as("s2"),
            expr("(c * (c - 1)) div 2").as("np"))
        cross.unionByName(diag)
          .groupBy("s1", "s2")
          .agg(count(lit(1)).cast(IntegerType).as("n_groups"),
            sum("np").cast(LongType).as("n_pairs"))
      }),

    // Subset-duplicate detection on the d04 candidate set: containment
    // |A∩B| / min(|A|,|B|) rather than Jaccard — a quote or excerpt
    // wholly inside a longer doc scores 1.0 here while its Jaccard is
    // a miss. Pure-integer micro-unit score (see ngramContainmentPairs).
    GQ("d14_containment_pairs",
      Some(s"""WITH $ngramPairCtes
        SELECT id_a, id_b,
               CAST((ic * 1000000) // least(sa.sz, sb.sz) AS DOUBLE) / 1e6
                 AS containment
        FROM it
        JOIN sz sa ON id_a = sa.doc_id
        JOIN sz sb ON id_b = sb.doc_id
        WHERE (ic * 1000000) // least(sa.sz, sb.sz) >= 100000"""),
      (s, d) => ngramContainmentPairs(
        docs(s, d).filter(col("doc_id") < 300), "doc_id", "text", 3, 100000L))
  )

  /** Asymmetric containment pairs — the subset-duplicate detector
    * Jaccard structurally misses: a short doc fully contained in a long
    * one has jaccard |A|/|B| (arbitrarily small) but containment
    * |A∩B|/min(|A|,|B|) = 1. Same bounded-candidate dataflow as
    * [[ngramJaccardPairs]]; the score is a pure-integer micro-unit
    * floor division (no rational round() ties). */
  def ngramContainmentPairs(
      documents: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      minContainMicros: Long): DataFrame = {
    val ex = documents
      .select(col(idCol).as("id"), tokens(col(textCol)).as("tok"))
      .select(col("id"), array_distinct(shingles(col("tok"), shingleK)).as("sh"))
      .select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
    ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("ic"),
        any_value(col("a.sz")).as("sz_a"), any_value(col("b.sz")).as("sz_b"))
      .select(col("id_a"), col("id_b"),
        expr("(ic * 1000000) div least(sz_a, sz_b)").as("contain_micros"))
      .filter(col("contain_micros") >= minContainMicros)
      .select(col("id_a"), col("id_b"),
        (col("contain_micros").cast(DoubleType) / 1e6).as("containment"))
  }

  /** Shared DuckDB CTE chain producing the bounded n-gram candidate set
    * (d04's oracle twin of ngramJaccardPairs on doc_id < 300).
    * (def, not val: referenced from `defs`, which initializes first.) */
  private[operators] def ngramPairCtes: String = """tok AS (
          SELECT doc_id, list_distinct(
            CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t)-1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [] END) AS sh
          FROM (SELECT doc_id, list_filter(
                  string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
                FROM documents WHERE doc_id < 300)),
        ex AS (SELECT doc_id, unnest(sh) AS s FROM tok),
        sz AS (SELECT doc_id, len(sh) AS sz FROM tok),
        it AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ic
               FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2)"""
}
