package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Engine, Errors, GQ, GraftStateError}
import graft.functions.{GraftFunctions => GF, GraftHash, NearestCellsKernel, PqKernels}

/** Similarity search over embedding columns (array<float>).
  *
  * Two paths, per the north-star spec:
  *  - brute force: broadcast the (small) query set against the corpus and
  *    rank with a window — the exact baseline. At 100 TB the corpus side
  *    stays partitioned; only queries are broadcast; the cosine kernel is
  *    a codegen'd Catalyst expression (functions/GraftExpressions.scala),
  *    so the scan stays in one WholeStageCodegen span.
  *  - LSH (random hyperplanes): deterministic ±1 hyperplanes hash each
  *    vector to a bucket; candidate generation is a bucket equi-join
  *    (shuffle on bucket id) — the scale path; recall/speed traded via
  *    number of planes.
  */
object VectorSearch {

  private def emb(s: SparkSession, d: String): DataFrame =
    Engine.table(s, d, "embeddings")

  /** Rounded cosine — rounding (6dp) makes ranking robust to last-ulp
    * differences vs an oracle while keeping full discrimination. */
  private[graft] def sim6(a: Column, b: Column): Column = GF.round6(GF.cosine(a, b))

  /** Per-query exact top-k over a (qid, nid, sim) candidate set via the
    * bounded-heap aggregate (functions/GraftExpressions TopKPairsAgg):
    * each input partition reduces to <= k pairs per qid BEFORE the
    * shuffle, then k-sized heaps merge per query — the per-group
    * TakeOrderedAndProject shape. A window row_number() here would sort
    * every query's full candidate list in one task (the round-3 verdict's
    * named scale-killer).
    *
    * The plan is lazy for every caller, one query or many: the heap needs
    * no bound on the number of qids because its fixed-width buffer plans
    * under HashAggregateExec, which keeps any number of groups in its
    * hash map and spills by sort only under memory pressure.
    */
  private[graft] def topKPerQid(pairs: DataFrame, k: Int,
      distinct: Boolean = false): DataFrame = {
    // distinct=true: in-heap dedup by nid (exact when duplicates are
    // identical (nid, sim) repeats — the multi-table LSH case), saving
    // the dropDuplicates shuffle of the full candidate set
    val agg =
      if (distinct) GF.topKPairsDistinct(col("nid").cast(LongType), col("sim"), k)
      else GF.topKPairs(col("nid").cast(LongType), col("sim"), k)
    pairs.groupBy("qid").agg(agg.as("topk"))
      .select(col("qid"), explode(col("topk")).as("p"))
      .select(col("qid"), col("p.nid").as("nid"), col("p.sim").as("sim"))
  }

  /** Exact top-k neighbors for each query vector (brute force). */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // queries: (qid, qv); corpus: (vec_id, embedding)
    val pairs = corpus.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        sim6(col("qv"), col("embedding")).as("sim"))
    topKPerQid(pairs, k)
  }

  /** Deterministic random hyperplanes: plane j element i in {-1,+1}. */
  def hyperplane(j: Int, dim: Int): Seq[Double] =
    (0 until dim).map(i =>
      if ((GraftHash.splitmix64(j.toLong * 131071 + i) & 1L) == 0L) -1.0 else 1.0)

  /** Sign-bucket id from `planes` hyperplanes of table `table`
    * (int in [0, 2^planes)). */
  def lshBucket(v: Column, planes: Int, dim: Int, table: Int = 0): Column =
    (0 until planes).map { j =>
      val h = typedLit(hyperplane(table * planes + j, dim))
      when(GF.dot(v, h) > 0.0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** All `tables` bucket codes in ONE native kernel pass (plane matrix
    * in the plan as a referenced object) — bit-identical to exploding
    * `tables` [[lshBucket]] columns, but with O(1) plan/codegen size:
    * the literal form embeds tables x planes 64-double arrays into the
    * generated code, which at s14's 48 planes is Janino-compile cost
    * paid on every build and a step toward the 64 KB fallback. Every
    * multi-table call site (top-k, index encode/probe, pair self-join)
    * goes through here; the single-table [[lshBucket]] stays as the
    * oracle-documentation form and the kernel's parity pin. */
  def lshBucketsAll(v: Column, planes: Int, tables: Int, dim: Int): Column =
    GF.lshBuckets(v,
      Array.tabulate(tables * planes)(p => hyperplane(p, dim).toArray),
      tables, planes)

  /** Approximate top-k with the standard multi-table scheme: `tables`
    * independent hyperplane sets; a candidate qualifies if it shares ANY
    * table's bucket with the query (union of tables -> recall compounds:
    * P(miss) = (1-p)^tables). One shuffle on (table, bucket); cross-
    * table duplicates dedup inside the bounded heap.
    *
    * `planes` DERIVES from corpus size when defaulted — the same
    * [[derivePlanes]] discipline as the pair self-join family, on the
    * query side's cost axis: with FIXED planes the per-query candidate
    * count is bucket density = N/2^planes, so total work |Q| x N/2^planes
    * goes QUADRATIC per scale decade when the query set grows with the
    * corpus (the sf1->sf10 probe measured fixed-planes s02 at 63x on 10x
    * data — the s05/d10 regime class, one decade later; decade 1's 4.3x
    * just absorbed density 1250 into one box's headroom). At the gate
    * scale factors the derivation yields the embedded-oracle value 4
    * (N = 500 and 2000), so the plane-literal oracle stays exact. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int = -1, tables: Int = 8, dim: Int = 64): DataFrame = {
    val p = derivePlanes(corpus, planes, 4)
    def withBuckets(df: DataFrame, v: String): DataFrame = df.select(
      df.columns.toIndexedSeq.map(col) :+
        posexplode(lshBucketsAll(col(v), p, tables, dim)).as(Seq("tbl", "bucket")): _*)
    val c = withBuckets(corpus, "embedding")
    val q = withBuckets(queries, "qv")
    // duplicates across tables are exact (qid, nid, sim) repeats (sim is
    // deterministic per pair) — the distinct heap dedups them in-place,
    // so the full candidate set is never shuffled for a dropDuplicates.
    //
    // The FLAT join is a MEASURED choice at decade 3 (r15 stage split,
    // SCALING.md): a bucket-collect + per-bucket query-vs-members kernel
    // (the s05/s10 cure, implemented and proven row-identical at sf100)
    // re-timed s14 142 -> 203 s and s02 14 -> 44 s — the query side has
    // only ~2-12 queries per bucket, so collecting the corpus into
    // bucket lists pays a WIDER external sort (members carry vectors)
    // than the narrow candidate sort it removes; the self-join family
    // wins that trade only because m^2/2 pairs amortize m collected
    // members. Lifting the heap's 128-group sort fallback (r15: a raised
    // ObjectHashAggregate threshold; the heap now plans under
    // HashAggregateExec, which has none) bought just 27% (147 -> 107 s):
    // the dominant cost
    // is the honest |Q| x tables x density candidate volume through the
    // codegen'd cosine, and derived planes already hold THAT sub-linear
    // (3.1x on the 10x sf10->sf100 step).
    val pairs = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        sim6(col("qv"), col("embedding")).as("sim"))
    topKPerQid(pairs, k, distinct = true)
  }

  /** LSH index rows for the persisted serving layout: the bucket-
    * exploded corpus, one row per (table, vector) with the combined
    * partition code pcode = tbl * 2^planes + bucket (a single partition
    * column so probed buckets prune as one IN filter). The `tables`-fold
    * row duplication is THE storage cost of multi-table LSH — the
    * published trade: recall compounds across tables, storage scales
    * with them. Unlike the PQ index this one carries the embedding
    * (LSH scores candidates with the true cosine, no codes). */
  def encodeLsh(corpus: DataFrame, planes: Int = 4, tables: Int = 8,
      dim: Int = 64): DataFrame =
    corpus.select(col("vec_id"), col("embedding"),
        posexplode(lshBucketsAll(col("embedding"), planes, tables, dim)).as(Seq("tbl", "bucket")))
      .select(col("vec_id"), col("embedding"),
        (col("tbl") * (1 << planes) + col("bucket")).as("pcode"))

  /** ANN top-k over a PERSISTED LSH index (`Layout.writeLshIndex`,
    * partitioned by pcode): the query set's probed buckets are driver-
    * known (|Q| x tables codes), so the scan prunes to those partitions
    * — at 100 TB a query touches |probed|/(tables x 2^planes) of the
    * index files. Candidate semantics are identical to [[lshTopK]]
    * (pcode is a bijection of (tbl, bucket)). */
  def lshTopKIndexed(index: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 4, tables: Int = 8, dim: Int = 64): DataFrame = {
    val q = queries.select(col("qid"), col("qv"),
        posexplode(lshBucketsAll(col("qv"), planes, tables, dim)).as(Seq("tbl", "bucket")))
      .select(col("qid"), col("qv"),
        (col("tbl") * (1 << planes) + col("bucket")).as("pcode"))
    val probed = q.select("pcode").distinct().collect().map(_.getInt(0)).sorted
    val pairs = index.filter(col("pcode").isin(probed.toIndexedSeq: _*))
      .join(broadcast(q), Seq("pcode"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        sim6(col("qv"), col("embedding")).as("sim"))
    topKPerQid(pairs, k, distinct = true)
  }

  /** IVF-flavored ANN: a coarse codebook of `cells` centroids (derived
    * from corpus size when defaulted — see [[deriveCells]]), corpus
    * rows assigned to their nearest cell by a one-pass native argmin
    * expression (graft_nearest_cells: no row explosion, no window, no
    * BroadcastNestedLoopJoin), queries probing their `nprobe` nearest
    * cells. At 100 TB: centroid selection is a TakeOrderedAndProject
    * (cells x dim doubles to the driver), assignment is one codegen'd
    * pass over the corpus, and candidate generation broadcasts the
    * (small) probed query set — the corpus is never shuffled. Recall /
    * cost dial: the probed fraction nprobe/cells.
    */
  /** Cell count / probe width derived from corpus size when the
    * caller leaves them defaulted (<= 0): cells ~ ceil(sqrt(N/8)) —
    * the standard IVF regime. Cells LINEAR in N (the r11 form,
    * ceil(N/125)) holds cell size constant but makes the driver-
    * collected, task-closure-shipped codebook O(N) and the assignment
    * pass O(N * cells) ~ quadratic index build; fixed cells makes every
    * cell grow linearly. sqrt balances the two sides — codebook scan
    * per row and probed-cell candidate volume per query BOTH grow as
    * sqrt(N) — and keeps the codebook driver/broadcast-safe at any
    * corpus (capped at 2^17 cells = 64 MB of doubles at dim 64; the
    * sqrt of a 100 TB-scale corpus stays under it). nprobe grows
    * ~ln(cells) — slowly, the recall dial decoupled from the probed
    * FRACTION (a constant fraction keeps per-query work linear in N,
    * the regime bug class). Same gate-stable discipline as d10's k and
    * the LSH plane derivation: at sf0.01/sf0.1 (N = 500/2000) these
    * equal the embedded-oracle constants (16, 3) exactly —
    * ceil(sqrt(2000/8)) = 16, ceil(ln 16) = 3. All arithmetic in
    * double/long before one guarded toInt: no Int overflow at any N. */
  private[graft] def deriveCells(corpus: DataFrame, cells: Int): Int =
    if (cells > 0) cells
    else {
      val n = math.max(1L, Engine.memoCount(corpus))
      math.min(131072L,
        math.max(16L, math.ceil(math.sqrt(n / 8.0)).toLong)).toInt
    }

  private[graft] def deriveNprobe(cells: Int, nprobe: Int): Int =
    if (nprobe > 0) nprobe
    else math.max(3, math.ceil(math.log(cells.toDouble)).toInt)

  /** Deterministic corpus-row sample for partial sf100 verification
    * (the IVF twin of [[bucketSampled]]): restrict the ASSIGNED corpus
    * to vec_id % mod = 0 while the model (centroids / PQ books) still
    * derives from the FULL corpus — cell and code assignment are
    * per-row independent, so any row-local divergence class (all the
    * r13/r14 finds were) reproduces inside the sample, and the
    * sub-problem's top-k is exactly defined and oracle-hashable at
    * ~1/mod of the assignment-restatement cost. 0 = off. */
  private def rowSampled(corpus: DataFrame, mod: Int): DataFrame =
    if (mod <= 0) corpus else corpus.filter(col("vec_id") % mod === 0)

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      cells: Int = -1, nprobe: Int = -1, sampleMod: Int = 0): DataFrame = {
    val cc = deriveCells(corpus, cells)
    val np = deriveNprobe(cc, nprobe)
    // Deterministic spread sample of the codebook: the `cells` corpus
    // vectors with the smallest murmur3(vec_id) — uniform over the
    // corpus, stable across runs/partitionings; canonical order by id.
    val picked = corpus.select(col("vec_id"), col("embedding"))
      .orderBy(hash(col("vec_id")), col("vec_id")).limit(cc).collect()
    val centroids: Array[Array[Double]] = picked.sortBy(_.getLong(0)).map(r =>
      r.getSeq[Number](1).map(_.doubleValue).toArray)

    val c = rowSampled(corpus, sampleMod).withColumn(
      "cid", GF.nearestCells(col("embedding"), centroids, 1)(0))
    val q = queries.withColumn(
      "cid", explode(GF.nearestCells(col("qv"), centroids, np)))
    val pairs = c.join(broadcast(q), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        sim6(col("qv"), col("embedding")).as("sim"))
    // NO dedup (r16, the s03 decade-3 stage split): a (qid, nid) pair
    // can meet at most ONCE — each corpus row is assigned exactly one
    // cell and a query's probed cells are distinct by construction
    // (NearestCellsKernel.topN inserts each centroid index once) — so
    // the dropDuplicates("qid", "nid") this plan used to carry was a
    // provable no-op that built a |candidates|-unique-key hash state
    // (~0.5B entries at sf100) before the bounded top-k heap: measured
    // 768 s warm WITH it vs 129 s without at sf100, value-identical
    // (sampled sf100 oracle + sf0.01/sf0.1 gates re-verified). The
    // multi-table LSH family genuinely repeats pairs and keeps its
    // in-heap distinct (topKPerQid(distinct = true)); IVF does not.
    topKPerQid(pairs, k)
  }

  /** IVF-PQ: the production-scale ANN shape — coarse IVF cells for
    * candidate generation plus product-quantized codes for candidate
    * scoring, then an exact rerank of the ADC shortlist.
    *
    * Why this is THE 100 TB path: candidate generation joins on cell id
    * carrying only (vec_id, cid, codes) — m small ints per row instead of
    * the dim-float vector (8 codes vs 64 floats = 16x less shuffle/scan
    * width per candidate); scoring a candidate is m table lookups (the
    * per-query ADC table is computed once per query row); only the
    * Q x rerank shortlist ever touches full vectors again. On a real
    * deployment the (cid, codes) columns are precomputed once and stored
    * alongside the table (Layout.scala's bucketing discipline) — here the
    * encode pass runs inline since the testdata has no index table.
    *
    * Codebooks are a deterministic hash-ordered corpus sample (same
    * scheme as [[ivfTopK]]'s centroids): subspace j's codeword c is
    * sample vector c sliced to dims [j*subDim, (j+1)*subDim). */
  /** The IVF-PQ model: coarse centroids + per-subspace codebooks — a
    * deterministic hash-ordered corpus sample, so indexing and search
    * sessions derive the SAME model from the same corpus. kBytes-sized;
    * on a deployment it persists alongside the index table. */
  final case class PqModel(
      centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      nprobe: Int, rerank: Int)

  def pqModel(corpus: DataFrame, cells: Int = -1, m: Int = 8,
      codebookSize: Int = 32, dim: Int = 64,
      nprobe: Int = -1, rerank: Int = 50): PqModel = {
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    // cells/nprobe derive from corpus size when defaulted (see
    // deriveCells): gate-identical, cell size constant beyond it
    val cc = deriveCells(corpus, cells)
    val np = deriveNprobe(cc, nprobe)
    val subDim = dim / m
    val picked = corpus.select(col("vec_id"), col("embedding"))
      .orderBy(hash(col("vec_id")), col("vec_id"))
      .limit(math.max(cc, codebookSize)).collect()
    val sampleVecs: Array[Array[Double]] = picked.sortBy(_.getLong(0)).map(r =>
      r.getSeq[Number](1).map(_.doubleValue).toArray)
    PqModel(
      sampleVecs.take(cc),
      Array.tabulate(m) { j =>
        sampleVecs.take(codebookSize).map(v => v.slice(j * subDim, (j + 1) * subDim))
      },
      np, rerank)
  }

  /** Index rows (vec_id, cid, codes): one codegen'd pass, the full
    * embedding dropped. Persist with `Layout.writeIvfIndex` (partitioned
    * by cid) so probed cells become parquet partition pruning. */
  def encodeIvfPq(corpus: DataFrame, model: PqModel): DataFrame = corpus
    .withColumn("cid", GF.nearestCells(col("embedding"), model.centroids, 1)(0))
    .withColumn("codes", GF.pqEncode(col("embedding"), model.books))
    .select("vec_id", "cid", "codes")

  /** Probed query side: nprobe cells + the per-query ADC lookup table. */
  private def probedQueries(queries: DataFrame, model: PqModel): DataFrame =
    queries
      .withColumn("cid", explode(GF.nearestCells(col("qv"), model.centroids, model.nprobe)))
      .withColumn("adc", GF.pqAdcTable(col("qv"), model.books))
      .select("qid", "cid", "adc")

  /** ADC-score candidates from an encoded index (inline or persisted),
    * shortlist with the bounded heap, rerank exactly from true vectors. */
  private def pqSearch(index: DataFrame, corpus: DataFrame,
      queries: DataFrame, q: DataFrame, k: Int, rerank: Int): DataFrame = {
    // each corpus row has exactly ONE cid, so a (qid, nid) pair cannot
    // repeat across probes — no dedup needed before the heap
    val cand = index.join(broadcast(q), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        GF.pqAdcSum(col("codes"), col("adc")).as("sim"))
    val shortlist = topKPerQid(cand, rerank)
      .select("qid", "nid")
    // exact rerank: fetch true vectors for the Q x rerank shortlist only
    val exact = corpus
      .join(broadcast(shortlist), col("vec_id") === col("nid"))
      .join(broadcast(queries.select(col("qid"), col("qv"))), Seq("qid"))
      .select(col("qid"), col("nid"), sim6(col("qv"), col("embedding")).as("sim"))
    topKPerQid(exact, k)
  }

  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      cells: Int = -1, nprobe: Int = -1, m: Int = 8, codebookSize: Int = 32,
      rerank: Int = 50, dim: Int = 64, sampleMod: Int = 0): DataFrame = {
    val model = pqModel(corpus, cells, m, codebookSize, dim, nprobe, rerank)
    // Exchange the computed index on cid BEFORE the candidate join.
    // Whole-stage codegen defers stream-side projection columns that
    // only the join's PARENT consumes into the per-match loop, so
    // without a materialization barrier `codes = pqEncode(...)`
    // re-evaluates once per CANDIDATE (join fan-out amplification:
    // 15M pqEncode calls instead of 200k at sf10 — measured 36.5 s vs
    // 1.5 s for the same scan). The exchange writes each index row —
    // codes evaluated exactly once — and co-locates the index by cell,
    // the same layout `Layout.writeIvfIndex` persists; it is the
    // inline-index twin of the serving path's on-disk partitioning.
    pqSearch(encodeIvfPq(rowSampled(corpus, sampleMod), model).repartition(col("cid")),
      corpus, queries, probedQueries(queries, model), k, rerank)
  }

  /** Each query row's probed cells, computed ONCE on the driver from one
    * collect of the (qid, qv) rows, by the kernel the in-plan
    * NearestCells expression compiles to (round6 = false). The indexed
    * searches feed these same cells to the index partition filter AND to
    * the probe side, so the two cannot disagree. A NULL embedding probes
    * no cells, like the expression's null -> explode-drops-row path. */
  private def probeCells(queries: DataFrame,
      model: PqModel): Array[(Row, Array[Int])] = {
    val et = queries.schema("qv").dataType.asInstanceOf[ArrayType].elementType
    val norms = NearestCellsKernel.sqrtNorms(model.centroids)
    queries.select("qid", "qv").collect().map { r =>
      val cells =
        if (r.isNullAt(1)) Array.empty[Int]
        else {
          val c = NearestCellsKernel.topN(arrayData(r, 1), et,
            model.centroids, norms, model.nprobe, false)
          Array.tabulate(c.numElements())(c.getInt)
        }
      (r, cells)
    }
  }

  private def arrayData(r: Row, i: Int): ArrayData =
    new GenericArrayData(r.getSeq[Any](i).toArray)

  /** IVF-PQ over a PERSISTED index table (written by
    * `Layout.writeIvfIndex`, partitioned by cid): the probed cell set is
    * tiny and driver-known (|Q| x nprobe ids, [[probeCells]]), so it
    * becomes a literal IN filter the scan turns into PartitionFilters —
    * at 100 TB the query touches nprobe/cells of the index files and
    * never scans the corpus except for the Q x rerank shortlist fetch.
    * The collected query rows, with their cells, are also the probe and
    * rerank sides (a local relation), so the query set is scanned once.
    * This is the multi-query shape; one query is served by
    * [[ivfPqTopKForQid]]. */
  def ivfPqTopKIndexed(index: DataFrame, corpus: DataFrame,
      queries: DataFrame, model: PqModel, k: Int): DataFrame = {
    val probed = probeCells(queries, model)
    val local = queries.sparkSession.createDataFrame(
      probed.toSeq.map { case (r, cells) => Row(r.get(0), r.get(1), cells.toSeq) }.asJava,
      queries.select("qid", "qv").schema
        .add("cells", ArrayType(IntegerType, containsNull = false)))
    val q = local.select(col("qid"), explode(col("cells")).as("cid"),
      GF.pqAdcTable(col("qv"), model.books).as("adc"))
    val cells = probed.flatMap(_._2).distinct.sorted
    // same exchange barrier as ivfPqTopK: an INLINE-encoded index would
    // otherwise re-encode per candidate (the deferred projection)
    pqSearch(index.filter(col("cid").isin(cells.toIndexedSeq: _*))
        .repartition(col("cid")),
      corpus, local.select("qid", "qv"), q, k, model.rerank)
  }

  /** One query's top-`n` candidates in [[TopKHeap]]'s total order (sim
    * desc, nid asc) as a sort-limit; null sims drop, as the heap drops
    * them. */
  private def sortLimit(cand: DataFrame, n: Int): DataFrame =
    cand.filter(col("sim").isNotNull).orderBy(col("sim").desc, col("nid")).limit(n)

  /** Single-query IVF-PQ top-k over a persisted index: the serving plan
    * of `graft_ann_topk` and of [[hybridRrfTopKIndexed]]'s vector arm.
    * The query vector `qid` is looked up once on the driver; its probed
    * cells ([[probeCells]]) and ADC table (the `PqKernels.adcTable` the
    * in-plan expression runs) are bound into the plan as literals:
    * pruned index scan -> ADC score -> sort-limit shortlist of
    * max(`model.rerank`, `k`) -> broadcast join to the corpus -> exact
    * sim -> sort-limit `k`. For one query the per-qid heap's order (sim desc,
    * nid asc) is a plain sort order, so the sort-limits return the rows
    * [[ivfPqTopKIndexed]] returns with `rerank` raised to k
    * (ServingSqlSpec pins them equal)
    * without its two heap aggregates, query-side broadcasts or extra
    * corpus scans for the query row. A missing qid or a NULL embedding
    * returns no rows; a qid matching more than one corpus row fails. */
  def ivfPqTopKForQid(index: DataFrame, corpus: DataFrame, model: PqModel,
      qid: Long, k: Int): DataFrame = {
    val probed = probeCells(corpus.filter(col("vec_id") === qid)
      .select(col("vec_id").as("qid"), col("embedding").as("qv")), model)
    if (probed.length > 1)
      throw new GraftStateError(Errors.CardinalityViolation,
        s"query vector vec_id = $qid is ambiguous: ${probed.length} corpus " +
          "rows carry it, and vec_id must be unique")
    probed.headOption.filter(_._2.nonEmpty) match {
      case None =>
        corpus.sparkSession.createDataFrame(java.util.Collections.emptyList[Row](),
          StructType(Seq(StructField("qid", LongType), StructField("nid", LongType),
            StructField("sim", DoubleType))))
      case Some((r, cells)) =>
        val qvType = corpus.schema("embedding").dataType
        val qv = arrayData(r, 1)
        val adc = PqKernels.adcTable(qv,
          qvType.asInstanceOf[ArrayType].elementType, model.books).toDoubleArray()
        val cand = index
          .filter(col("cid").isin(cells.toIndexedSeq: _*) && col("vec_id") =!= qid)
          .select(col("vec_id").cast(LongType).as("nid"),
            GF.pqAdcSum(col("codes"), typedLit(adc)).as("sim"))
        val exact = corpus
          .join(broadcast(sortLimit(cand, math.max(model.rerank, k)).select("nid")),
            col("vec_id") === col("nid"))
          .select(lit(qid).as("qid"), col("nid"),
            sim6(GraftShim.column(Literal(qv, qvType)), col("embedding")).as("sim"))
        sortLimit(exact, k)
    }
  }

  /** Capped LSH bucket self-join pair generator — the shared candidate
    * stage of [[cosineNearDupPairsLsh]] and [[mutualKnnGraph]]. Multi-
    * table hyperplane buckets, ONE shuffle on (tbl, bucket), in-bucket
    * pairing from a collect_list capped at `maxBucket` (the d02/d03
    * skew guard: ONE degenerate bucket — zero vectors, a hub cluster,
    * any skewed hyperplane cell — otherwise produces a quadratic pair
    * explosion inside a single join task, and AQE skew-split cannot fix
    * row MULTIPLICATION). Buckets above the cap are DROPPED: the recall
    * trade is explicit — pairs co-located only in over-full buckets are
    * lost (multi-table hashing usually resurfaces them elsewhere), in
    * exchange for hard bounds: per-task state <= maxBucket embeddings,
    * pair volume <= buckets x maxBucket^2/2.
    *
    * The cosine computes IN-BUCKET: members carry their embedding
    * through the bucket groupBy (the one shuffle grows by the vector
    * payload — tables x N x ~dim*4 bytes, ~0.4 GB per million vectors
    * at dim 64), and the pair explosion emits narrow (id_a, id_b, sim)
    * directly — the wide two-embedding intermediate exists only inside
    * the generator pipeline of one stage, never in a shuffle. The r10
    * form deduped narrow (id, id) pairs first and joined the embeddings
    * back; at the sf10 decade that shape's cost INVERTED: the
    * candidate-volume distinct (~10^8 rows, linear in N x targetBucket
    * x tables) plus two shuffle joins against the corpus dwarfed the
    * bucket shuffle it saved, and d07 probed at 36x for a 10x step —
    * the in-bucket kernel re-times it at ~1.4x per decade of
    * CANDIDATE volume. Dedup of cross-table repeats now happens
    * in-heap (the top-k consumers, identical (nid, sim) repeats) or
    * after `minSim` thresholding (the near-dup consumer) — both
    * far below candidate volume.
    *
    * `minSim` (NaN = off) pushes the consumer's similarity threshold
    * below the distinct, so only survivors shuffle for dedup; sims are
    * deterministic per pair (6dp-rounded kernel cosine), so
    * per-occurrence filtering then distinct equals the r10
    * distinct-then-filter exactly. `dedup` = false skips the distinct
    * entirely for consumers whose bounded heap dedups in-place. */
  /** Hyperplane count for the bucket self-join, derived from corpus
    * size when the caller leaves it defaulted (`planes <= 0`):
    * max(minPlanes, ceil(log2(N / targetBucket))) from one
    * metadata-only count. Bucket density — not corpus size — is what
    * drives the self-join's cost (in-bucket pairs grow quadratically
    * with members-per-bucket), so the bucket count must grow WITH the
    * corpus to keep expected bucket size at targetBucket and pair
    * volume linear: the r11 sf1 probe measured fixed-planes s05 at
    * 37x on 10x data; derived planes restore ~linear. At the gate
    * scale factors the derivation yields exactly the embedded-oracle
    * values (4 for d07, 5 for s05/s10 at N = 500/2000), so the
    * hyperplane-literal oracles stay exact — same discipline as d10's
    * derived k. */
  private[graft] def derivePlanes(e: DataFrame, planes: Int, minPlanes: Int,
      targetBucket: Long = 128L): Int =
    if (planes > 0) planes
    else {
      val n = math.max(1L, Engine.memoCount(e))
      math.max(minPlanes,
        math.ceil(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt)
    }

  /** Deterministic bucket-sample predicate (r15, the sf100 partial-
    * verification path): keep only buckets whose combined key
    * tbl * 2^planes + bucket is divisible by `mod` — pure integer
    * arithmetic both engines restate identically, so a DuckDB oracle
    * re-derives the SAME ~1/mod bucket subset and hash-pins the exact
    * result restricted to it at a scale where the full oracle is
    * cost-bound. 0 = off (the production path). */
  private def bucketSampled(buckets: DataFrame, planes: Int, mod: Int): DataFrame =
    if (mod <= 0) buckets
    else buckets.filter(
      (col("tbl") * lit(1 << planes) + col("bucket")) % mod === 0)

  private[graft] def lshPairSims(e: DataFrame, planes: Int, tables: Int,
      dim: Int, maxBucket: Int, minSim: Double = Double.NaN,
      dedup: Boolean = true, sampleMod: Int = 0): DataFrame = {
    val withB = e.select(col("vec_id"), col("embedding"),
      posexplode(lshBucketsAll(col("embedding"), planes, tables, dim)).as(Seq("tbl", "bucket")))
    val buckets = bucketSampled(withB.groupBy("tbl", "bucket")
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("members"))
      .filter(size(col("members")).between(2, maxBucket)), planes, sampleMod)
    val sims = buckets
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        sim6(col("a.embedding"), col("b.embedding")).as("sim"))
    val kept = if (minSim.isNaN) sims else sims.filter(col("sim") > minSim)
    if (dedup) kept.distinct() else kept
  }

  /** Directed per-node top-k over the capped LSH bucket candidate set —
    * the s05/s10 candidate-graph stage. Same buckets as [[lshPairSims]],
    * but the in-bucket work runs through [[GF.bucketTopK]]: each bucket
    * emits every member's k best in-bucket neighbors (m x k rows)
    * instead of all m^2/2 cosine pairs exploded in both directions, and
    * the global distinct heap merges the per-bucket lists. EXACTLY the
    * per-qid distinct top-k of the flat pair emission (per-group top-k
    * under the heap's strict (sim desc, nid asc) total order distributes
    * over candidate-set union — argument + parity pin in
    * [[graft.functions.BucketTopKKernel]]/BucketTopKSpec). The decade-3
    * stage split (SCALING.md) measured the flat emission's ~1.6B-row
    * heap feed as the family's dominant cost at sf100; this caps the
    * feed at N x tables x k. */
  private[graft] def lshDirectedTopK(e: DataFrame, k: Int, planes: Int,
      tables: Int, dim: Int, maxBucket: Int, sampleMod: Int = 0): DataFrame = {
    val withB = e.select(col("vec_id"), col("embedding"),
      posexplode(lshBucketsAll(col("embedding"), planes, tables, dim)).as(Seq("tbl", "bucket")))
    val buckets = bucketSampled(withB.groupBy("tbl", "bucket")
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("members"))
      .filter(size(col("members")).between(2, maxBucket)), planes, sampleMod)
    val cand = buckets
      .select(explode(GF.bucketTopK(col("members"), k)).as("e"))
      .select(col("e.qid"), col("e.nid"), col("e.sim"))
    topKPerQid(cand, k, distinct = true)
  }

  /** Mutual k-NN graph over the WHOLE corpus — the neighborhood-graph
    * primitive behind graph-based curation (an edge survives only if
    * each endpoint ranks the other in its own top-k, which prunes the
    * asymmetric "hub" edges a plain kNN graph accumulates).
    *
    * Scale shape: corpus-vs-corpus kNN must NOT broadcast anything
    * ([[lshTopK]] broadcasts its query set — correct for |Q| << N, a
    * scale-killer here). Candidates come from the capped multi-table
    * LSH bucket self-join ([[lshPairSims]]; `planes` is the volume
    * dial — in-bucket pairs shrink ~2x per extra plane, per-table
    * recall drops p_plane^planes, compensated by `tables`; `maxBucket`
    * bounds any single bucket's quadratic blowup). The ONE pair scan
    * feeds both directions of the bounded-heap per-qid top-k via a
    * generator (a union of two references to the pair plan would
    * execute the LSH join twice — the d05 lesson), and mutuality is a
    * canonical-pair count==2 aggregation, not a self-join that would
    * re-execute the top-k subtree. Emits (id_a < id_b, sim) once per
    * mutual edge. */
  def mutualKnnGraph(e: DataFrame, k: Int,
      planes: Int = -1, tables: Int = 8, dim: Int = 64,
      maxBucket: Int = Dedup.MaxBucket, sampleMod: Int = 0): DataFrame = {
    val topk = lshDirectedTopK(e, k, derivePlanes(e, planes, 5), tables,
      dim, maxBucket, sampleMod)
    // a directed (qid, nid) leaves the heap at most once, so canonical
    // count == 2 <=> both endpoints kept each other
    topk.select(least(col("qid"), col("nid")).as("id_a"),
        greatest(col("qid"), col("nid")).as("id_b"), col("sim"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n"), max(col("sim")).as("sim"))
      .filter(col("n") === 2)
      .select("id_a", "id_b", "sim")
  }

  /** Majority-vote tail shared by the exact (s09) and ANN serving
    * arms of k-NN classification: join neighbor labels, count votes,
    * argmax per query (vote ties to the smaller label — the s09
    * oracle's total order). Consumes only (qid, nid[, sim]) — which
    * is exactly why the neighbor arm swaps freely between brute
    * force, LSH, and the persisted indexes. */
  def knnVote(e: DataFrame, q: DataFrame, topk: DataFrame): DataFrame = {
    val votes = topk
      .join(e.select(col("vec_id").as("nid"), col("label").as("nlabel")), "nid")
      .groupBy("qid", "nlabel").agg(count(lit(1)).as("c"))
    // r19 NOTE (measured and REVERTED, the q59-persist discipline): a
    // min(struct(-c, nlabel)) aggregate fold of this top-1 window was
    // tried — struct has no mutable agg buffer, so Spark planned it as
    // SortAggregate + Sort TWICE (partial + final), strictly worse
    // than the window's single sort; two alternating plateau A/Bs at
    // sf0.1 put the fold at 2.02/3.55 s vs 1.73/2.06 s for the window.
    // The t32 fold won because it deleted a corpus-sized stack+window;
    // here the window input is already the |Q| x |labels| vote table.
    val w = Window.partitionBy("qid").orderBy(col("c").desc, col("nlabel"))
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(broadcast(q), "qid")
      .select(col("qid"), col("qlabel").as("label"),
        col("nlabel").as("pred"))
  }

  /** The SCALE arm of s09: k-NN classification with neighbors from
    * the LSH candidate generator instead of the |Q| x N brute-force
    * scan (the sf1 probe measured the brute arm at 35x on 10x data —
    * by definition: both factors grow). Approximate where LSH recall
    * misses a true neighbor; VectorSearchSpec pins prediction
    * agreement with the exact arm. The brute arm stays the driver
    * oracle entry (exact -> full SQL oracle); a deployment serves
    * this one, or [[lshTopKIndexed]]/[[ivfPqTopKIndexed]] plugged
    * into the same [[knnVote]] tail.
    *
    * Defaults trade candidate volume for recall (classification
    * flips on a missed neighbor, unlike near-dup pair mining): fewer
    * planes -> coarser buckets -> per-table hit probability p^planes
    * stays high, more tables -> P(miss) = (1-p^planes)^tables
    * collapses. At this corpus's neighbor angles (~70 deg) that is
    * ~98% per-neighbor recall. Planes DERIVE from corpus size when
    * defaulted (the [[derivePlanes]] discipline its own Scaladoc
    * promised: +1 plane per corpus doubling past targetBucket=250,
    * floored at 3 — the gate value at N = 500 AND 2000, so the s14
    * embedded-plane oracle stays exact); 16 tables hold the recall
    * product. Or skip the tuning entirely and serve the IVF index. */
  def knnClassifierAnn(e: DataFrame, k: Int = 5,
      planes: Int = -1, tables: Int = 16, dim: Int = 64): DataFrame = {
    val q = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    knnVote(e, q.select("qid", "qlabel"),
      lshTopK(e, q.select("qid", "qv"), k,
        derivePlanes(e, planes, 3, targetBucket = 250L), tables, dim))
  }

  /** s10 purity rollup over a supplied (qid, nid, sim) neighbor set:
    * join both endpoint labels, count label agreement per vector, then
    * per-label mean purity in exact integer micro-units (floor div —
    * hash-stable under any partitioning). Denominator is the ACTUAL
    * neighbor count, so the same code is exact-arm (everyone has k
    * neighbors) and approximate-arm (some vectors reach fewer)
    * correct. */
  private def labelPurityFrom(e: DataFrame, topk: DataFrame): DataFrame = {
    val lbl = e.select(col("vec_id"), col("label"))
    val m = topk
      .join(lbl.select(col("vec_id").as("nid"), col("label").as("nlabel")), "nid")
      .join(lbl.select(col("vec_id").as("qid"), col("label").as("qlabel")), "qid")
      .groupBy("qid", "qlabel")
      .agg(sum(when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
        .as("matches"), count(lit(1)).as("nn"))
    m.groupBy(col("qlabel").as("label"))
      .agg(count(lit(1)).as("n_vecs"), sum("matches").as("sm"),
        sum("nn").as("snn"))
      .select(col("label"), col("n_vecs"),
        (expr("(sm * 1000000) div snn").cast(DoubleType) / 1e6)
          .as("mean_purity"))
  }

  /** Exact-arm label purity (declared-quadratic d06 class) — the spec
    * oracle the benched LSH arm is pinned against. */
  def labelPurityExact(e: DataFrame, k: Int = 5): DataFrame = {
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val pairs = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        sim6(col("qv"), col("embedding")).as("sim"))
    labelPurityFrom(e, topKPerQid(pairs, k))
  }

  /** Benched s10 arm: neighbors from the capped multi-table LSH bucket
    * self-join (s05's candidate machinery — nothing broadcasts, bucket
    * quadratics capped), bounded-heap top-k per vector, same purity
    * rollup. */
  def labelPurityLsh(e: DataFrame, k: Int = 5,
      planes: Int = -1, tables: Int = 8, dim: Int = 64,
      maxBucket: Int = Dedup.MaxBucket, sampleMod: Int = 0): DataFrame = {
    labelPurityFrom(e,
      lshDirectedTopK(e, k, derivePlanes(e, planes, 5), tables, dim,
        maxBucket, sampleMod))
  }

  /** s11 body: intra/inter class mean cosine, optionally over a
    * DETERMINISTIC per-label sample (maxPerLabel > 0): vectors rank by
    * content hash within their label (the t21 two-phase-cap
    * discipline) and only the first maxPerLabel enter the all-pairs
    * join — pair volume bounded by (labels x maxPerLabel)^2 / 2
    * regardless of corpus size, and the sample is partition-count
    * independent. maxPerLabel = 0 is the exact arm
    * ([[labelSeparationExact]]). */
  def labelSeparation(e0: DataFrame, maxPerLabel: Int): DataFrame = {
    val e =
      if (maxPerLabel <= 0) e0
      else e0.withColumn("rn", row_number().over(
          Window.partitionBy("label")
            .orderBy(md5(col("vec_id").cast(StringType)), col("vec_id"))))
        .filter(col("rn") <= maxPerLabel).drop("rn")
    val a = e.select(col("vec_id").as("ida"), col("label").as("la"),
      col("embedding").as("va"))
    val b = e.select(col("vec_id").as("idb"), col("label").as("lb"),
      col("embedding").as("vb"))
    val pr = a.join(b, col("ida") < col("idb"))
      .select(col("la"), col("lb"), sim6(col("va"), col("vb")).as("sim"))
    val x = pr.select(col("la").as("label"), col("lb").as("other"), col("sim"))
      .unionByName(pr.select(col("lb").as("label"), col("la").as("other"),
        col("sim")))
    x.groupBy("label").agg(
      count(when(col("other") === col("label"), 1)).as("n_intra"),
      Engine.davg(when(col("other") === col("label"), col("sim")))
        .as("intra_sim"),
      Engine.davg(when(col("other") =!= col("label"), col("sim")))
        .as("inter_sim"))
  }

  /** Exact-arm class separation — the spec oracle for the sampled arm. */
  def labelSeparationExact(e: DataFrame): DataFrame = labelSeparation(e, 0)

  /** Exact radius (range) search: every corpus vector with cosine >=
    * `tau` of each query — the fixed-radius dual of top-k retrieval
    * (candidate pools for curation, "all docs similar to this seed").
    * Scale shape matches [[bruteForceTopK]]: queries broadcast, corpus
    * never shuffled, the cosine + threshold evaluate in ONE codegen'd
    * scan pass, and only matching (qid, nid, sim) triples leave the
    * stage — there is no top-k heap because the radius itself bounds
    * the output. At 100 TB with a selective tau this is the cheapest
    * retrieval shape possible: scan + filter, zero exchanges. */
  def rangeSearch(corpus: DataFrame, queries: DataFrame,
      tau: Double): DataFrame =
    corpus.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        sim6(col("qv"), col("embedding")).as("sim"))
      .filter(col("sim") >= tau)

  /** All embedding pairs above a cosine threshold (near-dup detection).
    * General path bounds candidates via LSH buckets; the oracle entry
    * below runs the exact bounded variant. */
  def cosineNearDupPairs(e: DataFrame, threshold: Double): DataFrame = {
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), sim6(col("va"), col("vb")).as("sim"))
      .filter(col("sim") > threshold)
  }

  private val oracleCosine =
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"

  /** r10 oracle upgrade for the LSH family (the d02 embedded-constant
    * discipline applied to hyperplanes): the scheme's +-1 planes are
    * DETERMINISTIC functions of splitmix64, so all planes x tables of
    * them embed as literal DOUBLE[] rows and the whole candidate scheme
    * restates in SQL. DuckDB's `list_dot_product` over CAST DOUBLE[]
    * reproduces the native kernel's left-to-right double accumulation
    * bit-for-bit (hash-proven by d06/s01/s06), so even a sign decision
    * at a near-zero dot agrees. Bucket membership groups on the
    * (tbl, bucket) code with the same [2, maxBucket] size guard, pairs
    * dedup across tables, and the exact rounded cosine scores
    * candidates — identical semantics, engine-independent text. */
  /** The bucket-membership prefix of [[oracleLshSims]] (planes/e/dots/
    * buck CTEs) — also the candidate generator of the query-vs-corpus
    * LSH oracles (s02's shape, reused by s14's serving arm). */
  private def oracleLshBuckets(planes: Int, tables: Int): String = {
    val planeRows = (0 until planes * tables).map { p =>
      s"($p, [${hyperplane(p, 64).mkString(", ")}])"
    }.mkString(", ")
    val bits = (0 until planes).map(j => s"WHEN $j THEN ${1 << j}").mkString(" ")
    s"""planes(pid, s) AS (VALUES $planeRows),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      dots AS (SELECT e.vec_id, p.pid, list_dot_product(e.v, p.s) AS d
               FROM e CROSS JOIN planes p),
      buck AS (
        SELECT vec_id, pid // $planes AS tbl,
               SUM(CASE WHEN d > 0.0 THEN CASE pid % $planes $bits END ELSE 0 END) AS bucket
        FROM dots GROUP BY 1, 2)"""
  }

  /** `sampleMod` > 0 restricts the pair mining to the deterministic
    * bucket subset (tbl * 2^planes + bucket) % mod = 0 — the r15
    * partial-verification predicate, integer-identical to the Spark
    * side's [[bucketSampled]]. */
  private def oracleLshSims(planes: Int, tables: Int,
      maxBucket: Int = Dedup.MaxBucket, sampleMod: Int = 0): String = {
    val sample = if (sampleMod <= 0) ""
      else s" AND (a.tbl * ${1 << planes} + a.bucket) % $sampleMod = 0"
    s"""${oracleLshBuckets(planes, tables)},
      bsz AS (SELECT tbl, bucket, COUNT(*) AS c FROM buck GROUP BY 1, 2),
      pairs AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM buck a
        JOIN bsz ON bsz.tbl = a.tbl AND bsz.bucket = a.bucket
        JOIN buck b ON b.tbl = a.tbl AND b.bucket = a.bucket
        WHERE a.vec_id < b.vec_id AND bsz.c BETWEEN 2 AND $maxBucket$sample),
      sims AS (
        SELECT p.id_a, p.id_b, round($oracleCosine, 6) AS sim
        FROM pairs p JOIN e a ON a.vec_id = p.id_a JOIN e b ON b.vec_id = p.id_b)"""
  }

  /** Spark's `hash()` (Murmur3_x86_32, seed 42) over a non-negative
    * BIGINT `vec_id`, restated step-by-step through DuckDB lateral
    * column aliases — 32-bit wrapping ops as HUGEINT mod 2^32, rotl as
    * shift-add of disjoint bit ranges, the final unsigned->signed
    * reinterpretation. This is what makes the IVF codebook SAMPLE
    * (the `cells` corpus vectors with the smallest murmur) an
    * oracle-reproducible selection (validated against pyspark's hash()
    * and per-row over the embeddings table). Emits column `mm`. */
  private[operators] val oracleMurmur = """
      vec_id % 4294967296 AS lo,
      vec_id // 4294967296 AS hi,
      (lo::HUGEINT * 3432918353) % 4294967296 AS k1a,
      (k1a * 32768) % 4294967296 + k1a // 131072 AS k1b,
      (k1b * 461845907) % 4294967296 AS k1c,
      xor(42::HUGEINT, k1c) AS h1a,
      (h1a * 8192) % 4294967296 + h1a // 524288 AS h1b,
      (h1b * 5 + 3864292196) % 4294967296 AS h1c,
      (hi::HUGEINT * 3432918353) % 4294967296 AS k2a,
      (k2a * 32768) % 4294967296 + k2a // 131072 AS k2b,
      (k2b * 461845907) % 4294967296 AS k2c,
      xor(h1c, k2c) AS h2a,
      (h2a * 8192) % 4294967296 + h2a // 524288 AS h2b,
      (h2b * 5 + 3864292196) % 4294967296 AS h2c,
      xor(h2c, 8::HUGEINT) AS f0,
      xor(f0, f0 // 65536) AS f1,
      (f1 * 2246822507) % 4294967296 AS f2,
      xor(f2, f2 // 8192) AS f3,
      (f3 * 3266489909) % 4294967296 AS f4,
      xor(f4, f4 // 65536) AS f5,
      CASE WHEN f5 >= 2147483648 THEN f5 - 4294967296 ELSE f5 END AS mm"""

  /** Zero-guarded UNROUNDED cosine between two DOUBLE[] expressions —
    * the NearestCellsKernel formula (argmin/argmax rankings must use
    * the raw double, not the 6dp-rounded serving value). */
  private[operators] def oracleCosRaw(a: String, b: String): String =
    s"""CASE WHEN list_dot_product($a,$a) = 0.0 OR list_dot_product($b,$b) = 0.0
        THEN 0.0 ELSE list_dot_product($a,$b)
          / (sqrt(list_dot_product($a,$a)) * sqrt(list_dot_product($b,$b))) END"""

  /** The directed top-k CTE tail shared by the s05/s10 oracles: both
    * heap arms restate as the standard rank() formulation (the heap's
    * total order is (sim DESC, nid) — hash-proven by s01). */
  private def oracleDirectedTopK(k: Int): String =
    s"""directed AS (
        SELECT id_a AS qid, id_b AS nid, sim FROM sims
        UNION ALL SELECT id_b, id_a, sim FROM sims),
      topk AS (
        SELECT qid, nid, sim FROM (
          SELECT qid, nid, sim,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM directed) WHERE rn <= $k)"""

  /** Parameterized derived-knob oracle texts — defs pins each at its
    * gate constant (where derived == embedded), tools.DerivedOracles
    * regenerates them at a larger corpus's own derived values so the
    * derived REGIME is oracle-checked too (the d03-cap lesson: regimes
    * no oracle ever ran are where divergence hides). */
  /** s02's oracle, parameterized on the derived plane count (builder
    * shared by the committed def at the gate value 4 and
    * tools.DerivedOracles at the corpus's own derived value). Unlike
    * the pair-mining oracles this one has NO maxBucket clause: lshTopK
    * probes every bucket its query lands in (a capped bucket would
    * silently drop a query's whole candidate set, not bound a
    * quadratic), so the oracle's candidate CTE is the plain bucket
    * equi-join. */
  private[graft] def oracleAnnLshSql(planes: Int): String =
    s"""WITH ${oracleLshBuckets(planes, tables = 8)},
        cand AS (
          SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
          FROM buck q JOIN buck c ON q.tbl = c.tbl AND q.bucket = c.bucket
          WHERE q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id),
        scored AS (
          SELECT cand.qid, cand.nid, round($oracleCosine, 6) AS sim
          FROM cand JOIN e a ON a.vec_id = cand.qid JOIN e b ON b.vec_id = cand.nid)
        SELECT qid, nid, sim FROM (
          SELECT qid, nid, sim,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM scored) WHERE rn <= 10"""

  private[graft] def oracleNearDupLshSql(planes: Int, sampleMod: Int = 0): String =
    s"""WITH ${oracleLshSims(planes, tables = 8, sampleMod = sampleMod)}
        SELECT id_a, id_b, sim FROM sims WHERE sim > 0.3"""

  private[graft] def oracleMutualKnnSql(planes: Int, sampleMod: Int = 0): String =
    s"""WITH ${oracleLshSims(planes, tables = 8, sampleMod = sampleMod)},
        ${oracleDirectedTopK(5)}
        SELECT least(qid, nid) AS id_a, greatest(qid, nid) AS id_b, MAX(sim) AS sim
        FROM topk GROUP BY 1, 2 HAVING COUNT(*) = 2"""

  private[graft] def oracleLabelPuritySql(planes: Int, sampleMod: Int = 0): String =
    s"""WITH ${oracleLshSims(planes, tables = 8, sampleMod = sampleMod)},
        ${oracleDirectedTopK(5)},
        lbl AS (SELECT vec_id, label FROM embeddings),
        m AS (
          SELECT t.qid, ql.label AS qlabel,
                 SUM(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) AS matches,
                 COUNT(*) AS nn
          FROM topk t JOIN lbl nl ON nl.vec_id = t.nid
                      JOIN lbl ql ON ql.vec_id = t.qid
          GROUP BY 1, 2)
        SELECT qlabel AS label, COUNT(*) AS n_vecs,
               CAST((SUM(matches) * 1000000) // SUM(nn) AS DOUBLE) / 1e6 AS mean_purity
        FROM m GROUP BY 1"""

  /** Scale path for near-dup detection: capped multi-table LSH
    * candidates ([[lshPairSims]]) then exact cosine — replaces the
    * quadratic all-pairs with one shuffle on (table, bucket) + capped
    * in-bucket pairing. `planes` sets bucket granularity (2^planes
    * buckets/table): more planes = smaller buckets but lower per-table
    * recall (p_plane^planes); compensate with more tables. At
    * threshold 0.3 (weakly-correlated vectors) p_plane ~ 0.6, so
    * planes must stay low for usable recall. `maxBucket` drops
    * degenerate buckets (see lshPairSims for the recall trade). */
  def cosineNearDupPairsLsh(e: DataFrame, threshold: Double,
      planes: Int = -1, tables: Int = 8, dim: Int = 64,
      maxBucket: Int = Dedup.MaxBucket, sampleMod: Int = 0): DataFrame =
    // threshold pushed below the distinct: only survivors shuffle
    lshPairSims(e, derivePlanes(e, planes, 4), tables, dim, maxBucket,
      minSim = threshold, sampleMod = sampleMod)

  /** Hybrid lexical+vector retrieval fused with reciprocal-rank fusion
    * (Cormack et al. 2009): rank the BM25 top-`k` and the cosine top-`k`
    * independently, then score each candidate 1/(60+r_lex) + 1/(60+r_vec)
    * and keep the fused top 10. Ranks come from bounded top-k lists, so
    * the fusion itself is a k-row full-outer join — constant work at any
    * corpus size; all corpus-scale effort lives in the two arms (BM25's
    * term-filtered tf aggregate, the ANN heap), and the vector arm swaps
    * for a persisted-index path (s02/s03/s04) unchanged, since fusion
    * only consumes (doc_id, rank). The two windows each order <= k rows.
    * RRF arithmetic is two integer-denominator double divisions summed
    * in fixed order — bit-identical across engines. */
  def hybridRrfTopK(documents: DataFrame, corpus: DataFrame,
      terms: Seq[String], qid: Long, k: Int = 20): DataFrame = {
    val lexTop = rankLex(TextPipeline.bm25Scores(documents, terms), k)
    val q = corpus.filter(col("vec_id") === qid)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val vecTop = rankVec(bruteForceTopK(corpus, q, k))
    hybridRrfFuse(lexTop, vecTop)
  }

  /** Rank a (doc_id, bm25) frame into the lexical arm's (doc_id, rl)
    * top-`k` list — deterministic total order (score desc, doc_id). */
  def rankLex(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy(col("bm25").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))).as("rl"))

  /** Rank a single query's (qid, nid, sim) neighbor frame into the
    * vector arm's (doc_id, rv) list — any top-k source fits (brute,
    * LSH, IVF-PQ, persisted-index), since fusion consumes only ranks. */
  def rankVec(neighbors: DataFrame): DataFrame =
    neighbors.select(col("nid").as("doc_id"), col("sim"))
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("sim").desc, col("doc_id"))).as("rv"))

  /** The RRF fusion tail shared by the inline (s07) and index-served
    * hybrid paths: score 1/(60+r_lex) + 1/(60+r_vec) over the two
    * k-row rank lists, keep the fused top 10 — constant work at any
    * corpus size, bit-identical wherever the arms come from.
    *
    * r19: the oracle's FULL OUTER JOIN shape planned a sort-merge join
    * (two exchanges + sorts) over the two <= k-row sides — pure stage
    * overhead on a serve call. The union + one-key sum below is
    * bit-identical: a doc in both arms sums exactly its two
    * contributions (IEEE addition of two values is commutative, and
    * Spark's sum starts from null, not 0.0, so no third operand
    * enters); a doc in one arm keeps its single contribution, equal to
    * the join's `x + 0.0` because every contribution 1/(60+r) is
    * strictly positive. One tiny exchange replaces the join's two;
    * VectorSearchSpec pins the fused rows against the join form. */
  def hybridRrfFuse(lexTop: DataFrame, vecTop: DataFrame): DataFrame =
    lexTop.select(col("doc_id"), (lit(1.0) / (lit(60) + col("rl"))).as("contrib"))
      .unionAll(vecTop.select(col("doc_id"),
        (lit(1.0) / (lit(60) + col("rv"))).as("contrib")))
      .groupBy("doc_id").agg(round(sum(col("contrib")), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(10)

  /** Index-SERVED hybrid retrieval — the serving composition of the
    * three persisted-index paths: the lexical arm reads the streamed
    * inverted index (`TextPipeline.bm25FromIndex`), the vector arm
    * reads the cid-partitioned IVF-PQ index
    * ([[ivfPqTopKIndexed]] — probed cells prune as PartitionFilters),
    * and the fusion is the shared RRF tail. At 100 TB no query ever
    * scans the corpus: the lexical arm prunes to query-term postings,
    * the vector arm to nprobe cells + the rerank shortlist fetch.
    * VectorSearchSpec pins it EQUAL to the same arms computed inline. */
  def hybridRrfTopKIndexed(postings: DataFrame, doclens: DataFrame,
      ivfIndex: DataFrame, corpus: DataFrame, model: PqModel,
      terms: Seq[String], qid: Long, k: Int = 20): DataFrame = {
    val lexTop = rankLex(TextPipeline.bm25FromIndex(postings, doclens, terms), k)
    // ONE query: the single-query plan stays LAZY (index partition
    // pruning visible end-to-end, no per-query cache entry)
    val vecTop = rankVec(ivfPqTopKForQid(ivfIndex, corpus, model, qid, k))
    hybridRrfFuse(lexTop, vecTop)
  }

  /** `sampleMod` > 0 restricts the ASSIGNED corpus to the deterministic
    * vec_id % mod = 0 row subset (model still derived full-corpus) —
    * the partial-verification twin of the Spark side's [[rowSampled]]. */
  private[graft] def oracleIvfSql(cells: Int, nprobe: Int, sampleMod: Int = 0): String = {
    val sample = if (sampleMod <= 0) "" else s" WHERE e.vec_id % $sampleMod = 0"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        mmv AS (SELECT vec_id, $oracleMurmur FROM embeddings),
        seeds AS (SELECT e.vec_id, e.v FROM e JOIN mmv USING (vec_id)
                  ORDER BY mmv.mm, vec_id LIMIT $cells),
        cents AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS c FROM seeds),
        asg AS (
          SELECT vec_id, cid FROM (
            SELECT e.vec_id, cents.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY ${oracleCosRaw("e.v", "cents.c")} DESC, cents.cid) AS rn
            FROM e CROSS JOIN cents$sample) WHERE rn = 1),
        qprobe AS (
          SELECT vec_id AS qid, cid FROM (
            SELECT e.vec_id, cents.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY ${oracleCosRaw("e.v", "cents.c")} DESC, cents.cid) AS rn
            FROM e CROSS JOIN cents WHERE e.vec_id % 100 = 0) WHERE rn <= $nprobe),
        pairs AS (
          SELECT DISTINCT q.qid, c.vec_id AS nid
          FROM qprobe q JOIN asg c ON c.cid = q.cid
          WHERE c.vec_id <> q.qid),
        scored AS (
          SELECT p.qid, p.nid, round($oracleCosine, 6) AS sim
          FROM pairs p JOIN e a ON a.vec_id = p.qid JOIN e b ON b.vec_id = p.nid)
        SELECT qid, nid, sim FROM (
          SELECT qid, nid, sim,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM scored) WHERE rn <= 10"""
  }

  // the bucket join carries BOTH vector operands pre-materialized
  // (bq/bc) and projects the rounded sim inline — the earlier
  // narrow-cand-then-rejoin form let DuckDB's planner build a hash
  // table over the multi-hundred-million-row candidate stream carrying
  // vectors at the sf100 regime and fill the disk with spill (the d10
  // decade-3 oracle lesson, applied here); DISTINCT on (qid, nid, sim)
  // equals DISTINCT on (qid, nid) since sim is functionally determined
  private[graft] def oracleKnnAnnSql(planes: Int, tables: Int): String =
    s"""WITH ${oracleLshBuckets(planes, tables)},
        bq AS MATERIALIZED (
          SELECT b.tbl, b.bucket, b.vec_id, e.v
          FROM buck b JOIN e ON e.vec_id = b.vec_id
          WHERE b.vec_id % 20 = 0),
        bc AS MATERIALIZED (
          SELECT b.tbl, b.bucket, b.vec_id, e.v
          FROM buck b JOIN e ON e.vec_id = b.vec_id),
        scored AS (
          SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid,
                 round(${oracleCosRaw("q.v", "c.v")}, 6) AS sim
          FROM bq q JOIN bc c ON q.tbl = c.tbl AND q.bucket = c.bucket
                             AND c.vec_id <> q.vec_id),
        lbl AS (SELECT vec_id, label FROM embeddings),
        top5 AS (SELECT qid, nid FROM (
          SELECT qid, nid,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM scored) WHERE rn <= 5),
        votes AS (SELECT t.qid, nl.label AS nlabel, COUNT(*) AS c
                  FROM top5 t JOIN lbl nl ON nl.vec_id = t.nid GROUP BY 1, 2)
        SELECT v.qid, ql.label AS label, v.nlabel AS pred FROM (
          SELECT qid, nlabel,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nlabel) AS rn
          FROM votes) v JOIN lbl ql ON ql.vec_id = v.qid WHERE v.rn = 1"""

  /** The s04 IVF-PQ oracle, factored out verbatim: the index-SERVED
    * arm (s15) is semantically IDENTICAL to the inline arm — probed
    * cells become a partition filter, nothing else changes — so one
    * oracle text gates both. */
  /** `qidPred` selects the query set (SQL predicate on the query-side
    * vec_id): the batch entries use the default `% 100 = 0` family; the
    * SQL-served single-qid entries (s16/s17) pass `= 0`. Factored as a
    * bare CTE chain (ending at `exact`, the reranked candidate scores)
    * so the hybrid serving oracle can compose the same vector arm with
    * the BM25 arm under one WITH. */
  private[graft] def oracleIvfPqCtes(cells: Int, nprobe: Int, sampleMod: Int = 0,
      qidPred: String = "% 100 = 0"): String = {
    val sample = if (sampleMod <= 0) "" else s" WHERE e.vec_id % $sampleMod = 0"
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        mmv AS (SELECT vec_id, $oracleMurmur FROM embeddings),
        samp AS (SELECT e.vec_id, e.v FROM e JOIN mmv USING (vec_id)
                 ORDER BY mmv.mm, vec_id LIMIT ${math.max(cells, 32)}),
        s32 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS sid, v FROM samp),
        cents AS (SELECT sid AS cid, v AS c FROM s32 WHERE sid < $cells),
        books AS (
          SELECT j, sid AS c, v[j*8+1 : j*8+8] AS w
          FROM s32 CROSS JOIN (SELECT unnest(range(8)) AS j) WHERE sid < 32),
        asg AS (
          SELECT vec_id, cid FROM (
            SELECT e.vec_id, cents.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY ${oracleCosRaw("e.v", "cents.c")} DESC, cents.cid) AS rn
            FROM e CROSS JOIN cents$sample) WHERE rn = 1),
        codes AS (
          SELECT vec_id, j, c AS code FROM (
            SELECT e.vec_id, b.j, b.c,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id, b.j
                     ORDER BY ${oracleCosRaw("e.v[b.j*8+1 : b.j*8+8]", "b.w")} DESC, b.c) AS rn
            FROM e CROSS JOIN books b$sample) WHERE rn = 1),
        qprobe AS (
          SELECT vec_id AS qid, cid FROM (
            SELECT e.vec_id, cents.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY ${oracleCosRaw("e.v", "cents.c")} DESC, cents.cid) AS rn
            FROM e CROSS JOIN cents WHERE e.vec_id $qidPred) WHERE rn <= $nprobe),
        adc AS (
          SELECT e.vec_id AS qid, b.j, b.c,
                 list_dot_product(e.v[b.j*8+1 : b.j*8+8], b.w) AS dot
          FROM e CROSS JOIN books b WHERE e.vec_id $qidPred),
        cand AS (
          SELECT q.qid, a.vec_id AS nid
          FROM qprobe q JOIN asg a ON a.cid = q.cid
          WHERE a.vec_id <> q.qid),
        adcscore AS (
          SELECT cand.qid, cand.nid,
                 list_reduce(list_prepend(0.0, list(adc.dot ORDER BY adc.j)),
                   (x, y) -> x + y) AS sim
          FROM cand
          JOIN codes ON codes.vec_id = cand.nid
          JOIN adc ON adc.qid = cand.qid AND adc.j = codes.j AND adc.c = codes.code
          GROUP BY cand.qid, cand.nid),
        shortlist AS (
          SELECT qid, nid FROM (
            SELECT qid, nid,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
            FROM adcscore) WHERE rn <= 50),
        exact AS (
          SELECT s.qid, s.nid, round($oracleCosine, 6) AS sim
          FROM shortlist s JOIN e a ON a.vec_id = s.qid JOIN e b ON b.vec_id = s.nid)"""
  }

  private[graft] def oracleIvfPqSql(cells: Int, nprobe: Int, sampleMod: Int = 0,
      qidPred: String = "% 100 = 0", k: Int = 10): String =
    s"""WITH ${oracleIvfPqCtes(cells, nprobe, sampleMod, qidPred)}
        SELECT qid, nid, sim FROM (
          SELECT qid, nid, sim,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM exact) WHERE rn <= $k"""

  val defs: Seq[GQ] = Seq(

    GQ("d07_embedding_neardup_lsh", // r10: full oracle via embedded planes
      Some(oracleNearDupLshSql(4)),
      (s, d) => cosineNearDupPairsLsh(emb(s, d), 0.3)),

    GQ("d06_embedding_neardup",
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT id_a, id_b, sim FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round($oracleCosine, 6) AS sim
          FROM e a JOIN e b ON a.vec_id < b.vec_id)
        WHERE sim > 0.3"""),
      (s, d) => cosineNearDupPairs(emb(s, d), 0.3)),

    GQ("s01_ann_bruteforce",
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        p AS (SELECT a.vec_id AS qid, b.vec_id AS nid, round($oracleCosine, 6) AS sim
              FROM e a JOIN e b ON a.vec_id % 100 = 0 AND b.vec_id <> a.vec_id)
        SELECT qid, nid, sim FROM (
          SELECT qid, nid, sim,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM p) WHERE rn <= 10"""),
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        bruteForceTopK(e, q, 10)
      }),

    GQ("s02_ann_lsh", // r10: full oracle via embedded planes (d02 discipline)
      Some(oracleAnnLshSql(4)), // == derivePlanes at the gate SFs
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        lshTopK(e, q, 10)
      }),

    // r10 oracle upgrade: the IVF codebook is a murmur-sampled SUBSET
    // of the corpus (no Lloyd iteration — no decimal->double means), so
    // the whole path restates: sampled centroids via the murmur CTE,
    // cell assignment as rank-1 over the UNROUNDED kernel cosine (ties
    // to the lower cid, per NearestCellsKernel's strict insert), nprobe
    // probing as rank<=3, then the s02-style scored top-10 tail.
    GQ("s03_ann_ivf", Some(oracleIvfSql(16, 3)),
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        ivfTopK(e, q, 10)
      }),

    // r10 oracle upgrade, the deepest restatement in the suite: the PQ
    // model's 32-vector murmur sample yields both the 16 coarse
    // centroids (lowest vec_ids of the sample) and the 8x32 codeword
    // books (8-dim slices); encode = per-subspace cosine rank-1; the
    // ADC score is an ORDER-SENSITIVE 8-term double sum, restated as an
    // ordered list_reduce fold over j; shortlist and final heaps are
    // the proven rank() forms (ADC shortlist UNROUNDED, rerank 6dp).
    GQ("s04_ann_ivfpq", Some(oracleIvfPqSql(16, 3)),
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        ivfPqTopK(e, q, 10)
      }),

    GQ("s05_mutual_knn_graph", // r10: full oracle via embedded planes
      Some(oracleMutualKnnSql(5)),
      (s, d) => mutualKnnGraph(emb(s, d), 5)),

    // exact fixed-radius retrieval: scan + filter, no heap, no window —
    // the oracle is the same cross join with the same rounded cosine
    GQ("s06_range_search",
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT qid, nid, sim FROM (
          SELECT a.vec_id AS qid, b.vec_id AS nid, round($oracleCosine, 6) AS sim
          FROM e a JOIN e b ON a.vec_id % 100 = 0 AND b.vec_id <> a.vec_id)
        WHERE sim >= 0.25"""),
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        rangeSearch(e, q, 0.25)
      }),

    // Hybrid retrieval: both arms are deterministic total-order top-20
    // lists and the RRF arithmetic is engine-exact -> full SQL oracle
    // (lexical arm = the t16 BM25 text verbatim; vector arm = the s01
    // brute-force text for query vec 0).
    GQ("s07_hybrid_rrf", {
      val terms = Seq("scan", "hash", "merge").map(t => s"'$t'").mkString(", ")
      Some(s"""WITH dl AS (SELECT doc_id, len(${TextPipeline.oracleTokens}) AS dl FROM documents),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        tf AS (SELECT doc_id, token, COUNT(*) AS tf
               FROM (SELECT doc_id, unnest(${TextPipeline.oracleTokens}) AS token FROM documents)
               WHERE token IN ($terms) GROUP BY 1, 2),
        df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        bm AS (SELECT doc_id,
                      round(SUM(ln((n - df + 0.5) / (df + 0.5) + 1)
                        * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
               FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
               GROUP BY doc_id),
        lex AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rl
                FROM (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 20)),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        vc AS (SELECT b.vec_id AS doc_id, round($oracleCosine, 6) AS sim
               FROM e a JOIN e b ON a.vec_id = 0 AND b.vec_id <> 0),
        vec AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rv
                FROM (SELECT doc_id, sim FROM vc ORDER BY sim DESC, doc_id LIMIT 20))
        SELECT doc_id, rrf FROM (
          SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
                 round(COALESCE(CAST(1 AS DOUBLE) / (60 + lex.rl), 0)
                     + COALESCE(CAST(1 AS DOUBLE) / (60 + vec.rv), 0), 6) AS rrf
          FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
        ORDER BY rrf DESC, doc_id LIMIT 10""")
    },
      (s, d) => hybridRrfTopK(Engine.table(s, d, "documents"), emb(s, d),
        Seq("scan", "hash", "merge"), qid = 0L)),

    // Filtered (predicated) ANN — the serving pattern "top-k neighbors
    // AMONG rows matching a metadata predicate" (here: the query's own
    // label class). The predicate is an EQUI-join key, so candidate
    // generation is a broadcast hash join (no nested loop): the filter
    // prunes before the distance kernel ever runs. At 100 TB with the
    // corpus partitioned/bucketed on the filter column this becomes
    // partition pruning, and it composes with the persisted IVF index
    // (cell pruning AND label pruning are both PartitionFilters).
    // Exact within the filtered set -> full SQL oracle.
    GQ("s08_ann_filtered",
      Some(s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        pr AS (SELECT a.vec_id AS qid, b.vec_id AS nid, round($oracleCosine, 6) AS sim
               FROM e a JOIN e b ON a.vec_id % 100 = 0
                 AND b.label = a.label AND b.vec_id <> a.vec_id)
        SELECT qid, nid, sim FROM (
          SELECT qid, nid, sim,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM pr) WHERE rn <= 5"""),
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            col("label").as("qlabel"))
        val pairs = e.join(broadcast(q),
            col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("nid"),
            sim6(col("qv"), col("embedding")).as("sim"))
        topKPerQid(pairs, 5)
      }),

    // k-NN majority-vote classification — the third classifier shape
    // next to c02 (parametric centroid) and t28 (probabilistic NB):
    // predict each query vector's label as the majority label of its 5
    // exact nearest neighbors; vote ties break to the smaller label,
    // neighbor ties to the (sim desc, nid) total order. The neighbor
    // arm is s01's bounded-heap brute force (at scale: any ANN arm,
    // since voting consumes only (qid, neighbor label)); votes and the
    // argmax are integer counting over k rows per query. Exact -> full
    // SQL oracle.
    GQ("s09_knn_classifier",
      Some(s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        pr AS (SELECT a.vec_id AS qid, a.label AS qlabel, b.vec_id AS nid,
                      b.label AS nlabel, round($oracleCosine, 6) AS sim
               FROM e a JOIN e b ON a.vec_id % 20 = 0 AND b.vec_id <> a.vec_id),
        top5 AS (SELECT qid, qlabel, nlabel FROM (
          SELECT qid, qlabel, nlabel,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM pr) WHERE rn <= 5),
        votes AS (SELECT qid, qlabel, nlabel, COUNT(*) AS c
                  FROM top5 GROUP BY qid, qlabel, nlabel)
        SELECT qid, qlabel AS label, nlabel AS pred FROM (
          SELECT qid, qlabel, nlabel,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nlabel) AS rn
          FROM votes) WHERE rn = 1"""),
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            col("label").as("qlabel"))
        val pairs = e.join(broadcast(q), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("nid"),
            sim6(col("qv"), col("embedding")).as("sim"))
        knnVote(e, q.select("qid", "qlabel"), topKPerQid(pairs, 5))
      }),

    // Embedding-space label purity — the representation-quality audit:
    // for every REACHED vector, the fraction of its (up to) 5 nearest
    // neighbors sharing its label, averaged per label in exact micro-
    // units (floor div, no floats until emission). A label whose
    // neighborhoods are impure is either mislabeled data or an
    // embedding model that cannot separate it — both curation signals.
    // r8 flagged the exact all-pairs arm as the #1 bench cost; the
    // BENCHED arm is now the LSH candidate graph (s05's capped
    // multi-table bucket self-join — volume bounded by maxBucket, no
    // broadcast of the corpus), feeding the same bounded-heap top-5 +
    // purity rollup. The exact arm survives as [[labelPurityExact]],
    // the spec oracle: VectorSearchSpec pins per-label LSH purity
    // against it (the d06/d07 two-arm pattern). Rows-only gate: the
    // neighbor set depends on our hyperplane hashes.
    GQ("s10_label_purity", // r10: full oracle (reverses the r9 coverage
      // regression — the BENCHED bounded arm is now hash-gated, not
      // only spec-pinned against the exact arm)
      Some(oracleLabelPuritySql(5)),
      (s, d) => labelPurityLsh(emb(s, d))),

    // Class-separability audit — s10's global companion: per label, the
    // mean cosine WITHIN the class vs AGAINST every other class. A
    // label whose intra/inter gap collapses is one the embedding model
    // cannot separate (and one ANN recall will suffer on). Pair sims
    // are 6dp-rounded then averaged through DECIMAL (davg/oavg — the
    // t18 order-independence contract). r8: the benched arm is now the
    // DETERMINISTIC per-label hash-sample (class MEANS are consumed,
    // not per-vector results, so an unbiased pair sample estimates
    // them; LSH would bias toward high-sim pairs and is wrong here) —
    // the t21 cap discipline picks <= maxPerLabel vectors by content
    // hash, all-pairs runs only among the kept set. Exact arm:
    // [[labelSeparationExact]], pinned against the sample in
    // VectorSearchSpec. Rows-only: the sample depends on our hash.
    GQ("s11_label_separation", // r10: full oracle (r9 regression reversed)
      // — the deterministic content-hash sample restates directly:
      // md5(CAST(vec_id AS VARCHAR)) renders and compares identically
      // in both engines, and the averages use the oavg decimal contract
      Some(s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        samp AS (
          SELECT vec_id, label, v FROM (
            SELECT vec_id, label, v,
                   ROW_NUMBER() OVER (PARTITION BY label
                     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM e) WHERE rn <= 100),
        pr AS (
          SELECT a.label AS la, b.label AS lb, round($oracleCosine, 6) AS sim
          FROM samp a JOIN samp b ON a.vec_id < b.vec_id),
        x AS (
          SELECT la AS label, lb AS other, sim FROM pr
          UNION ALL SELECT lb, la, sim FROM pr)
        SELECT label,
               COUNT(CASE WHEN other = label THEN 1 END) AS n_intra,
               ${GQ.oavg("CASE WHEN other = label THEN sim END")} AS intra_sim,
               ${GQ.oavg("CASE WHEN other <> label THEN sim END")} AS inter_sim
        FROM x GROUP BY 1"""),
      (s, d) => labelSeparation(emb(s, d), maxPerLabel = 100)),

    // Embedding L2-norm audit per label — the cheapest embedding-table
    // sanity check there is (zero/degenerate norms break cosine; a
    // label whose norm band shifts signals an encoder version mix or
    // a corrupt ingest batch). One codegen'd scan pass computing
    // graft_dot(v,v) per row (no joins, no shuffle beyond the |labels|-
    // row rollup); sqrt is correctly rounded so the per-row norm is
    // bit-identical across engines, pre-rounded 6dp before the davg
    // (the s11 discipline).
    GQ("s12_norm_audit",
      Some(s"""WITH e AS (SELECT label,
            round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[]))), 6) AS nm
          FROM embeddings)
        SELECT label, CAST(COUNT(*) AS INT) AS n,
               ${GQ.oavg("nm")} AS avg_norm,
               MIN(nm) AS min_norm, MAX(nm) AS max_norm
        FROM e GROUP BY label"""),
      (s, d) => {
        val e = emb(s, d).select(col("label"),
          round(sqrt(GF.dot(col("embedding"), col("embedding"))), 6).as("nm"))
        e.groupBy("label").agg(
          count(lit(1)).cast(IntegerType).as("n"),
          Engine.davg(col("nm")).as("avg_norm"),
          min("nm").as("min_norm"), max("nm").as("max_norm"))
      }),

    // MMR diversified retrieval (Carbonell & Goldstein 1998): rerank
    // the top-kCand exact candidates so each pick balances query
    // relevance against redundancy with what's already picked
    // (lambda = 0.7). Greedy scores run in integer micro-units —
    // num = 7·simq_m − 3·maxrel_m, argmax by (num, smallest nid) —
    // so the k-step loop has no float rounding to tie-split on and
    // the unrolled-CTE oracle matches exactly (the g01 discipline
    // applied to retrieval). See [[mmrRerank]] for the scale shape.
    GQ("s13_mmr_rerank", {
      val cos = "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))" +
        " * sqrt(list_dot_product(b.v, b.v)))"
      def step(prev: String, cur: String, r: Int): String =
        s"""${cur}_sc AS (SELECT c.qid, c.nid, c.simq_m, MAX(pr.s) AS mr
              FROM cand c
              JOIN $prev s ON c.qid = s.qid
              JOIN pair pr ON pr.qid = c.qid AND pr.x = c.nid
                          AND pr.y = s.nid
              WHERE NOT EXISTS (SELECT 1 FROM $prev z
                                WHERE z.qid = c.qid AND z.nid = c.nid)
              GROUP BY 1, 2, 3),
            ${cur}_pick AS (SELECT qid, nid, $r AS rank,
                7 * simq_m - 3 * mr AS num
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                      ORDER BY 7 * simq_m - 3 * mr DESC, nid) AS rn
                    FROM ${cur}_sc) WHERE rn = 1),
            $cur AS (SELECT * FROM $prev UNION ALL
                     SELECT qid, nid, rank, num FROM ${cur}_pick)"""
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
        q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % 100 = 0),
        p AS (SELECT a.qid, b.vec_id AS nid,
                CAST(round(round($cos, 6) * 1000000) AS BIGINT) AS simq_m
              FROM q a JOIN e b ON b.vec_id <> a.qid),
        cand AS (SELECT qid, nid, simq_m FROM (
                   SELECT qid, nid, simq_m, ROW_NUMBER() OVER (
                     PARTITION BY qid ORDER BY simq_m DESC, nid) AS rn
                   FROM p) WHERE rn <= 8),
        cv AS (SELECT c.qid, c.nid, c.simq_m, e.v
               FROM cand c JOIN e ON e.vec_id = c.nid),
        pair AS (SELECT a.qid, a.nid AS x, b.nid AS y,
                   CAST(round(round($cos, 6) * 1000000) AS BIGINT) AS s
                 FROM cv a JOIN cv b ON a.qid = b.qid AND a.nid <> b.nid),
        s1 AS (SELECT qid, nid, 1 AS rank, 7 * simq_m AS num FROM (
                 SELECT qid, nid, simq_m, ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY simq_m DESC, nid) AS rn
                 FROM cand) WHERE rn = 1),
        ${step("s1", "s2", 2)}, ${step("s2", "s3", 3)}, ${step("s3", "s4", 4)}
        SELECT qid, CAST(rank AS INT) AS rank, nid,
               CAST(num AS DOUBLE) / 1e7 AS mmr
        FROM s4""")
    },
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        mmrRerank(e, q, k = 4, kCand = 8)
      }),

    // The SERVING arm of k-NN classification, promoted to a driver
    // entry (r11 left it spec-only): neighbors from the multi-table
    // LSH bucket join with DERIVED planes (= the embedded constant 3
    // at both gate SFs — the d02 embedded-hyperplane discipline), 16
    // tables, then the s09 vote tail. Full SQL oracle: the planes
    // embed as literals, candidates are the s02 bucket-join shape,
    // votes/argmax are integer counting. The benched plan here is the
    // one a deployment actually serves (s09's brute |Q| x N arm stays
    // the exact-oracle audit entry).
    GQ("s14_knn_classifier_ann",
      Some(oracleKnnAnnSql(3, 16)),
      (s, d) => knnClassifierAnn(emb(s, d))),

    // Index-SERVED IVF-PQ retrieval as a driver entry (r11 pinned it
    // only in VectorSearchSpec/ServingPathSpec): encode once, search
    // through the index frame with probed-cell pruning — semantically
    // IDENTICAL to the inline s04 arm, so the factored s04 oracle text
    // gates it; what the entry adds is per-round bench + hash tracking
    // of the serving PLAN (isin partition filter, shortlist rerank).
    GQ("s15_ann_ivfpq_indexed", Some(oracleIvfPqSql(16, 3)),
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val model = pqModel(e)
        ivfPqTopKIndexed(encodeIvfPq(e, model), e, q, model, 10)
      })
  )

  /** Greedy MMR re-ranking of the exact top-`kCand` candidates per
    * query: pick `k` results, each maximizing
    * lambda·sim(query, c) − (1−lambda)·max_{s∈picked} sim(c, s)
    * with lambda = 0.7. The standard redundancy-aware serving layer on
    * top of any of the top-k retrievers (diverse RAG contexts, dedup'd
    * search pages).
    *
    * 100 TB shape: the expensive part is candidate generation, which
    * reuses [[bruteForceTopK]]'s bounded-heap scan (swap in lshTopK /
    * ivfPqTopK unchanged — any (qid, nid, sim) producer works). The
    * greedy loop then touches only kCand rows per query: each of the
    * k−1 steps is one qid-keyed join of candidates × picked (≤ kCand·k
    * rows per query) and one argmax — work per query is O(kCand·k²),
    * independent of corpus size, and queries parallelize freely.
    * Scoring is exact integer micros (num = 7·simq − 3·maxrel; argmax
    * on (num, −nid) via struct max) — no float rounding inside the
    * loop, so results are partition- and engine-independent.
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame,
      k: Int, kCand: Int): DataFrame = {
    // r18: the greedy loop runs ROW-LOCALLY inside one native kernel
    // over each query's collected candidate array (MmrSelectKernel —
    // row identity vs the former k−1-round DataFrame loop pinned by
    // MmrKernelSpec, oracles unchanged). The loop form paid ~18 tiny
    // shuffles + a lineage cut per round on frames bounded at kCand
    // rows per query — pure fixed overhead at any scale, and the one
    // plan that regressed under the decade-robust wide initial
    // partition count. One collect_list groupBy is now the only
    // exchange past candidate generation; per-group state is
    // kCand·(dim+2) doubles (~4 KB), far under the collect buffer
    // envelope Engine.prepare documents.
    val corpusV = corpus.select(col("vec_id").as("nid"), col("embedding").as("nv"))
    val cand = bruteForceTopK(corpus, queries, kCand)
      .join(corpusV, "nid")
      .select(col("qid"), col("nid"),
        expr("CAST(round(sim * 1000000) AS BIGINT)").as("simq_m"), col("nv"))
    cand.groupBy("qid")
      .agg(collect_list(struct(col("nid"), col("simq_m"), col("nv"))).as("members"))
      .select(col("qid"), explode(GF.mmrSelect(col("members"), k)).as("p"))
      .select(col("qid"), col("p.rank").as("rank"), col("p.nid").as("nid"),
        (col("p.num").cast(DoubleType) / 1e7).as("mmr"))
  }
}
