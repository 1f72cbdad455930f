package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Engine, GQ}
import graft.functions.{GraftFunctions => GF}

/** Embedding-space clustering operators for the training-data pipeline:
  * distributed Lloyd's k-means and SemDeDup-style semantic deduplication
  * (Abbas et al. 2023, arXiv:2303.09540 — cluster the corpus, then drop
  * within-cluster near-duplicates by cosine).
  *
  * 100 TB shape shared by both:
  *  - centroids live on the driver (k x dim doubles; k is a parameter,
  *    derived as ceil(N / targetCluster) when defaulted — ARCHITECTURE
  *    principle 10 — so per-cluster work stays constant) and ship to
  *    executors inside the plan — assignment is one codegen'd pass
  *    over the corpus with no row explosion, no window, no join;
  *  - the only corpus-wide exchange keys on the (small-cardinality)
  *    cluster id, where partial aggregation collapses each map task's
  *    contribution to <= k x dim rows before the shuffle.
  */
object Cluster {

  private def emb(s: SparkSession, d: String): DataFrame =
    Engine.table(s, d, "embeddings")

  /** Rounded cosine (6dp): robust to last-ulp engine differences while
    * keeping full discrimination — the d06-proven oracle contract. */
  private def sim6(a: Column, b: Column): Column = GF.round6(GF.cosine(a, b))

  /** Deterministic, oracle-expressible seed centroids: the `k` lowest
    * vec_ids on a fixed stride (`vec_id % step = 0`), ordered by vec_id
    * (cid = rank). A TakeOrderedAndProject of k rows — k x dim doubles
    * to the driver at any corpus size. (The hash-ordered spread sample
    * used by [[VectorSearch.ivfTopK]] is the better-mixed choice when no
    * cross-engine oracle needs to reproduce the selection.) */
  def seedCentroids(e: DataFrame, k: Int, step: Int = 37): Array[Array[Double]] =
    e.filter(col("vec_id") % step === 0)
      .orderBy("vec_id").limit(k)
      .collect()
      .map(r => r.getSeq[Number](r.fieldIndex("embedding"))
        .map(_.doubleValue).toArray)

  /** Nearest-centroid id by ROUNDED cosine, ties to the lower cid —
    * built from array builtins (not [[GF.nearestCells]]) precisely so the
    * DuckDB oracle can reproduce the argmax bit-for-bit: both engines
    * rank round(cosine, 6) descending, then cid. Stays inside
    * WholeStageCodegen; |centroids| terms per row, no row explosion. */
  def assignByCosine(v: Column, centroids: Array[Array[Double]]): Column = {
    val sims = array(centroids.toIndexedSeq.map(c =>
      sim6(v, typedLit(c.toIndexedSeq))): _*)
    (array_position(sims, array_max(sims)) - 1).cast(IntegerType)
  }

  /** SemDeDup: assign each embedding to its nearest seed centroid, then
    * within each cluster drop every row that has a LOWER-id neighbor
    * with cosine > `tau` (the kept row of each near-dup group is its
    * minimum vec_id). Returns the surviving (vec_id, cid) rows.
    *
    * This is the scale answer to d06's corpus-wide quadratic: the
    * pairwise pass runs per cluster, so its cost is bounded by the
    * largest cluster (~(N/k)^2 per cluster); k is the dial — at real
    * corpus scale pick k ~ N / desired-cluster-size (SemDeDup's own
    * regime), and the per-cluster work stays constant as the corpus
    * grows. The default (k <= 0) derives exactly that:
    * k = max(8, ceil(N / targetCluster)), from one metadata-only
    * count — so the within-cluster pair volume scales LINEARLY with
    * the corpus instead of quadratically (the r11 sf1 probe measured
    * the fixed-k=8 form at 33x on 10x data; the derived form holds
    * per-cluster work constant). At the oracle scale factors the
    * derived k IS 8 (N = 500 / 2000 at sf0.01 / sf0.1), which is what
    * keeps the embedded-k=8 oracle exact at the gate — documented
    * there.
    *
    * Assignment is HIERARCHICAL at every k (the r13 verdict's lead
    * item — the flat N x k kernel was the engine's last quadratic,
    * N^2/250 FLOPs under the derived k): route each vector to its
    * top-[[HierProbes]] super-centroids from the [[superRoute]] table,
    * then exact round6 argmax over the routed groups' members —
    * (1 + p) sqrt(k) FLOPs per row, N^1.5 per corpus. Uniform
    * semantics at every scale (no arm switch for the derived k to
    * cross), restated verbatim by the oracle's CTE chain. One shuffle
    * on cid for the self-join; the drop set joins back as a shuffle
    * anti join on vec_id. */
  /** The d10 density knob, exposed for the sf1 oracle generator and the
    * memoCount staleness spec: k = max(8, ceil(N / targetCluster)) from
    * one (memoized) count — equals the embedded-oracle constant 8 at
    * both gate scale factors (N = 500 / 2000). */
  def derivedK(e: DataFrame, targetCluster: Long = 250L): Int =
    math.max(8L, (Engine.memoCount(e) + targetCluster - 1) / targetCluster).toInt

  /** Super-centroid probe count for hierarchical assignment: each vector
    * exact-ranks the members of its top-2 routed groups. 2 is the
    * measured balance point on the sf10 corpus (vs flat assignment:
    * within-cluster pair volume +12%, max cluster 765 vs 326, 9.5x
    * fewer assignment FLOPs; p = 1 gave +21% pairs and max 1022). */
  final val HierProbes = 2

  /** Lloyd rounds for the super-centroid build — fixed so the oracle
    * CTE chain unrolls a known depth. */
  final val HierRounds = 3

  /** Deterministic super-centroid routing table — the d10 hierarchical
    * assignment's driver half (SCALING.md's N^1.5 path). s =
    * ceil(sqrt(k)) supers seeded from every stride-th centroid
    * (stride = ceil(k/s)), refined by [[HierRounds]] Lloyd rounds:
    * assign each centroid to its nearest super by round(cos, 6) (ties
    * to the lower sid), recompute each super as the fixed-point mean of
    * its members (floor(x*1e6) long sums, one double division — the
    * c02 engine-exact arithmetic, so DuckDB restates every step
    * bit-for-bit); empty groups keep their previous super. Returns
    * (supers, members-by-sid with ascending cids). Driver cost is
    * k x s x rounds cosines — O(k^1.5) on k x dim doubles the driver
    * already holds. Restated verbatim by [[oracleSemanticDedupSql]]'s
    * CTE chain. */
  def superRoute(cents: Array[Array[Double]],
      rounds: Int = HierRounds): (Array[Array[Double]], Array[Array[Int]]) = {
    val k = cents.length
    val s = math.ceil(math.sqrt(k.toDouble)).toInt
    val stride = (k + s - 1) / s
    var supers: Array[Array[Double]] =
      (0 until k by stride).map(cents(_).clone).toArray
    val ss = supers.length
    def cos6(a: Array[Double], c: Array[Double]): Double = {
      val m = math.min(a.length, c.length)
      var dot = 0.0; var na = 0.0; var nc = 0.0
      var i = 0
      while (i < m) { dot += a(i) * c(i); i += 1 }
      i = 0; while (i < a.length) { na += a(i) * a(i); i += 1 }
      i = 0; while (i < c.length) { nc += c(i) * c(i); i += 1 }
      val raw = if (na == 0.0 || nc == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(nc))
      java.math.BigDecimal.valueOf(raw)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    // nearest super by round(cos, 6), strict > keeps the first = lower sid
    def assign(): Array[Int] = cents.map { c =>
      var best = 0; var bestSim = Double.NegativeInfinity
      var g = 0
      while (g < ss) {
        val sim = cos6(c, supers(g))
        if (sim > bestSim) { bestSim = sim; best = g }
        g += 1
      }
      best
    }
    var r = 0
    while (r < rounds) {
      val asg = assign()
      val next = supers.map(_.clone())
      var g = 0
      while (g < ss) {
        val mem = (0 until k).filter(asg(_) == g)
        if (mem.nonEmpty) {
          val dim = cents(mem.head).length
          val sums = new Array[Long](dim)
          mem.foreach { ci =>
            val v = cents(ci)
            var d = 0
            while (d < dim && d < v.length) {
              sums(d) += math.floor(v(d) * 1e6).toLong; d += 1
            }
          }
          next(g) = Array.tabulate(dim)(d =>
            sums(d).toDouble / (mem.size.toDouble * 1e6))
        }
        g += 1
      }
      supers = next
      r += 1
    }
    val grp = assign()
    val members = Array.tabulate(ss)(g => (0 until k).filter(grp(_) == g).toArray)
    (supers, members)
  }

  def semanticDedup(e: DataFrame, k: Int = -1, tau: Double = 0.35,
      step: Int = 37, targetCluster: Long = 250L): DataFrame = {
    val kk = if (k > 0) k else derivedK(e, targetCluster)
    val cents = seedCentroids(e, kk, step)
    // hierarchical assignment at EVERY k (uniform semantics — no arm
    // switch for the derived k to cross): route via the superRoute
    // table, exact round6 argmax within the top-HierProbes groups, ties
    // to the lower global cid. One codegen'd scan, (1 + p) sqrt(k)
    // FLOPs per row — the N^1.5 law that replaces the flat kernel's
    // N x k (SCALING.md). The oracle restates routing and argmax
    // verbatim, so the rounded-rank contract holds at ANY derived k.
    val (supersAll, membersAll) = superRoute(cents)
    // route only over NON-EMPTY super groups (r15, ADVICE): Lloyd keeps
    // a stale super position for an emptied group, so a vector could
    // rank an empty group into its top-p — it then drew candidates
    // from fewer groups, and when BOTH routed groups were empty the
    // kernel emitted cid = -1 as a real cluster while the oracle's
    // route JOIN grp dropped the row. Order-preserving compaction
    // keeps tie-breaks identical (lower compacted index = lower
    // original sid); the oracle restricts its routing CTE to the sids
    // present in grp — the same set — CTE for CTE.
    val ne = membersAll.indices.filter(membersAll(_).nonEmpty).toArray
    val supers = ne.map(supersAll(_))
    val members = ne.map(membersAll(_))
    val assign =
      GF.hierNearestCell(col("embedding"), cents, supers, members, HierProbes)
    val asg = e.select(col("vec_id"), col("embedding"), assign.as("cid"))
    val a = asg.select(col("cid").as("cid_a"), col("vec_id").as("id_a"),
      col("embedding").as("va"))
    val b = asg.select(col("cid").as("cid_b"), col("vec_id").as("id_b"),
      col("embedding").as("vb"))
    // cosine + threshold evaluate inside the join stage; only surviving
    // (id_b) keys are shuffled for the distinct + anti join
    val drops = a.join(b, col("cid_a") === col("cid_b") &&
        col("id_a") < col("id_b"))
      .filter(sim6(col("va"), col("vb")) > tau)
      .select(col("id_b").as("vec_id")).distinct()
    asg.join(drops, Seq("vec_id"), "left_anti").select("vec_id", "cid")
  }

  /** r19 dual-regime limit for the Lloyd loop (VERDICT item 7 — the
    * d05/BPE/graph size-threshold pattern applied to k-means, through
    * [[Engine.driverLocal]]): at or below 100k vectors (≈ 25 MB of
    * 64-dim float data) the iterations run driver-locally. A
    * gate-scale Lloyd pass pays one scheduled job + one exchange PER
    * ITERATION plus the seed job, on frames of a few thousand rows —
    * fixed latency at any corpus size, exactly the overhead class the
    * graph fixpoints shed in r18. The gate's count is memoized on the
    * input plan, so the 100 TB path pays at most one count per plan per
    * session. The twin stays: c01 runs 390 ms against 1442 ms for the
    * distributed loop, 3.70x (sf0.1, local[4], median of 5 interleaved
    * warm build+collect pairs, rows equal; 790 against 1546 ms, 1.96x,
    * while each element's sum went through a BigDecimal). */
  private val DriverMaxVecs = 100000L

  /** The driver-local twin of [[kmeans]] — identical values by
    * construction, not re-derivation:
    *  - ONE collect of the input with the seed-order `hash(vec_id)`
    *    computed in-plan (so the murmur seed ranking is Spark's own);
    *  - assignment calls the SAME [[graft.functions.NearestCellsKernel]]
    *    `topN` the distributed expression compiles to, over the same
    *    ArrayData element types (float widening included);
    *  - the centroid mean replicates the distributed
    *    `sum(x.cast(DECIMAL(38,12))) / n` fold: per-element Spark's
    *    double→decimal cast quantization, summed exactly in
    *    [[graft.functions.ExactDecSums]] (unscaled longs where the
    *    kernel proves the cast, BigDecimal otherwise), then the
    *    identical `.doubleValue / n` emission; empty clusters keep the
    *    previous centroid like the distributed `next = cents.clone()`;
    *  - the RETURNED assignment frame applies the kernel EXPRESSION
    *    over a local relation of the collected rows, so the final
    *    (vec_id → cid) column and schema come from the very same plan
    *    node the distributed arm returns.
    * Parity is pinned by ClusterSpec's forced-distributed test. */
  private def kmeansLocal(e: DataFrame, vecCol: String, k: Int,
      iters: Int): (DataFrame, Array[Array[Double]]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import graft.functions.{ExactDecSums, NearestCellsKernel, VectorKernels}
    val spark = e.sparkSession
    val schema = e.schema
    val idIdx = schema.fieldIndex("vec_id")
    val vecIdx = schema.fieldIndex(vecCol)
    val et = schema(vecIdx).dataType.asInstanceOf[ArrayType].elementType
    val hIdx = schema.size
    val rows = e.withColumn("__h", hash(col("vec_id"))).collect()
    val get = VectorKernels.conv(et)
    val vecs: Array[ArrayData] = rows.map(r =>
      new GenericArrayData(r.getSeq[Any](vecIdx).toArray))
    // seed pick: ORDER BY hash(vec_id), vec_id LIMIT k, re-sorted by
    // vec_id for cid order — the distributed arm verbatim
    var cents: Array[Array[Double]] = rows.zipWithIndex
      .sortBy { case (r, _) => (r.getInt(hIdx), r.getLong(idIdx)) }
      .take(k)
      .sortBy { case (r, _) => r.getLong(idIdx) }
      .map { case (r, i) =>
        val v = vecs(i)
        Array.tabulate(v.numElements())(t => get(v, t))
      }
    val dim = if (vecs.isEmpty) 0 else vecs.map(_.numElements()).max
    var it = 0
    while (it < iters) {
      val norms = NearestCellsKernel.sqrtNorms(cents)
      val next = cents.map(_.clone())
      // per-(cid, pos) exact decimal sums + counts, then mean — the
      // distributed groupBy("cid","pos") fold
      val sums = new ExactDecSums(k * dim, 12)
      var i = 0
      while (i < vecs.length) {
        val v = vecs(i)
        val cid = NearestCellsKernel
          .topN(v, et, cents, norms, 1, false).getInt(0)
        var p = 0
        val n = v.numElements()
        while (p < n) {
          sums.add(cid * dim + p, get(v, p))
          p += 1
        }
        i += 1
      }
      var cell = 0
      while (cell < k * dim) {
        if (sums.counts(cell) > 0)
          next(cell / dim)(cell % dim) = sums.sum(cell).doubleValue / sums.counts(cell)
        cell += 1
      }
      cents = next
      it += 1
    }
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r =>
        Row.fromSeq(r.toSeq.dropRight(1))): _*), schema)
    (local.withColumn("cid", GF.nearestCells(col(vecCol), cents, 1)(0)),
      cents)
  }

  /** Distributed Lloyd's k-means over an embedding column, cosine
    * assignment (= spherical k-means: cosine is norm-invariant, so the
    * un-normalized mean update assigns identically to the normalized
    * one). Deterministic: seed from the hash-ordered corpus sample (the
    * [[VectorSearch.ivfTopK]] codebook scheme), centroid sums aggregate
    * in exact decimal so float addition order cannot vary the result
    * across partitionings/runs.
    *
    * Per iteration: one codegen'd assignment pass (native argmin kernel,
    * centroids in the plan) + one exchange keyed on (cid, pos) whose
    * map-side combine emits <= k x dim rows per task, then k x dim
    * decimals to the driver for the mean. Empty clusters keep their old
    * centroid. Returns (assignment with `cid`, final centroids). */
  def kmeans(e: DataFrame, vecCol: String, k: Int, iters: Int,
      dim: Int = 64): (DataFrame, Array[Array[Double]]) = {
    if (Engine.driverLocal(e, DriverMaxVecs)(e.count()))
      return kmeansLocal(e, vecCol, k, iters)
    val picked = e.select(col("vec_id"), col(vecCol))
      .orderBy(hash(col("vec_id")), col("vec_id")).limit(k).collect()
    var cents: Array[Array[Double]] = picked.sortBy(_.getLong(0)).map(r =>
      r.getSeq[Number](1).map(_.doubleValue).toArray)
    var it = 0
    while (it < iters) {
      val asg = e.withColumn("cid", GF.nearestCells(col(vecCol), cents, 1)(0))
      val stats = asg
        .select(col("cid"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(sum(col("x").cast(DecimalType(38, 12))).as("sx"),
          count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      stats.foreach { r =>
        val cid = r.getInt(0)
        val pos = r.getInt(1)
        val sx = r.getDecimal(2)
        val n = r.getLong(3)
        next(cid)(pos) = sx.doubleValue / n
      }
      cents = next
      it += 1
    }
    (e.withColumn("cid", GF.nearestCells(col(vecCol), cents, 1)(0)), cents)
  }

  private val oracleCos =
    "list_dot_product(%s, %s) / (sqrt(list_dot_product(%s, %s)) * sqrt(list_dot_product(%s, %s)))"
  private def ocos(a: String, b: String): String =
    oracleCos.format(a, b, a, a, b, b)

  /** Nearest-centroid (Rocchio) classification over a labeled embedding
    * corpus: train per-class mean vectors, then assign every vector to
    * its most-cosine-similar class centroid; returns the confusion
    * matrix (label, pred, cnt).
    *
    * Training is exact integer fixed-point (the g01/g02 lesson applied
    * to means): each component contributes floor(x * 1e6) — an IEEE
    * multiply + floor on the exact float->double widening, so
    * bit-deterministic — the BIGINT sums are exact, and the single
    * double division sum/(n*1e6) is correctly rounded and identical
    * across engines. No round() anywhere in the training path, so no
    * halfway-tie hazard feeds the downstream argmax.
    *
    * 100 TB shape: training is one exchange keyed on (label, pos) whose
    * map-side combine emits <= |classes| x dim rows per task; the model
    * (|classes| x dim doubles) lives on the driver and ships inside the
    * plan, so classification is a single codegen'd scan — no join, no
    * row explosion, no second shuffle beyond the tiny confusion
    * aggregate. |classes| is a property of the label vocabulary, never
    * of corpus size. */
  def centroidClassifier(e: DataFrame): DataFrame =
    classifyByCentroids(e, trainCentroids(e))
      .groupBy("label", "pred")
      .agg(count(lit(1)).as("cnt"))

  /** The c02 training half: per-class fixed-point mean vectors, sorted
    * by label. Factored so Layout can persist the model as a (label,
    * pos, m) table and re-load it for later scoring. */
  def trainCentroids(e: DataFrame): Seq[(Int, Seq[Double])] = {
    val rows = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg((sum(floor(col("x").cast(DoubleType) * 1e6).cast(LongType))
        .cast(DoubleType) / (count(lit(1)).cast(DoubleType) * 1e6)).as("m"))
      .collect()
    rows.toIndexedSeq
      .groupBy(_.getInt(0))
      .map { case (l, rs) =>
        l -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
      }
      .toSeq.sortBy(_._1)
  }

  /** The c02 scoring half against trained (or persisted) centroids: one
    * codegen'd scan, no join. Returns (vec_id, label, pred). */
  def classifyByCentroids(e: DataFrame,
      cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val sims = array(cents.map { case (_, c) =>
      sim6(col("embedding"), typedLit(c))
    }: _*)
    // argmax by rounded cosine; array_position finds the FIRST max, so
    // ties resolve to the lowest class label (mirrored in the oracle's
    // ORDER BY sim DESC, clabel)
    val pred = element_at(typedLit(cents.map(_._1)),
      array_position(sims, array_max(sims)).cast(IntegerType))
    e.select(col("vec_id"), col("label"), pred.as("pred"))
  }

  /** The d10 oracle, parameterized on the derived k: ranks round(cos, 6)
    * with ties to the lower cid — valid at ANY k since the round6
    * kernel arm orders identically to the literal arm (arm parity).
    * defs pins the gate constant (k = 8 at N = 500/2000); the sf1
    * derived-regime check (tools.DerivedOracles) regenerates it at the
    * corpus's own derived k.
    *
    * The oracle restates the HIERARCHICAL semantics (superRoute's
    * seeded + Lloyd-refined supers, top-2 routing, within-group
    * round6 argmax) CTE for CTE, so it is valid at ANY derived k —
    * the gate text embeds k = 8 and DerivedOracles regenerates it at
    * the corpus's own k.
    *
    * Decade-3 (sf100, k=8000) oracle-shape lessons, each found by a
    * disk-filling spill and fixed structurally:
    *  - BOTH ranking windows read a PRE-PROJECTED scalar sim
    *    (rscored/cscored): DuckDB materializes a window-sort's input
    *    including its ORDER BY operands, so an inline-cosine rank
    *    carried two 512-byte vectors through the 356M-row candidate
    *    sort.
    *  - The stage outputs (c, grp, route, asg0, av) are AS
    *    MATERIALIZED: fully inlined, the planner mis-sides the hash
    *    joins of the monolithic chain (staged in temp tables every
    *    phase runs in seconds with zero spill; inlined it spilled
    *    ~70 GB before asg0 ever completed).
    *  - The drops stage is ONE cluster-local self-join of the
    *    materialized (vec_id, cid, v) frame with the cosine threshold
    *    inline — the filter pipelines, so the 306M-pair stream never
    *    materializes with payloads (the prior narrow-cpairs-then-
    *    rejoin form let the planner build a hash table over the pair
    *    stream carrying vectors: ~160 GB projected, died at sf100;
    *    measured one-step: 262 s, zero spill). */
  private[graft] def oracleSemanticDedupSql(k: Int): String = {
    val s = math.ceil(math.sqrt(k.toDouble)).toInt
    val stride = (k + s - 1) / s
    // one Lloyd round: rank-1 super per centroid (round6, ties to lower
    // sid), fixed-point mean per (sid, pos) — floor(x*1e6) BIGINT sums,
    // one double division (the c02 engine-exact arithmetic) — with the
    // LEFT JOIN + COALESCE arm keeping empty groups' previous supers
    // (the c01 pattern). Mirrors superRoute exactly, round for round.
    def lloyd(i: Int): String = s""",
        asgc$i AS (SELECT cid, sid FROM (
            SELECT c.cid, sa.sid,
                   ROW_NUMBER() OVER (PARTITION BY c.cid
                     ORDER BY round(${ocos("c.v", "sa.sv")}, 6) DESC, sa.sid) AS rn
            FROM c CROSS JOIN suparr$i sa) WHERE rn = 1),
        sums$i AS (SELECT a.sid, p.pos,
                   CAST(SUM(CAST(floor(p.x * 1e6) AS BIGINT)) AS DOUBLE)
                     / (COUNT(*) * 1e6) AS m
                   FROM asgc$i a JOIN cx p USING (cid) GROUP BY 1, 2),
        supx${i + 1} AS (SELECT sp.sid, sp.pos, COALESCE(sm.m, sp.m) AS m
                         FROM supx$i sp LEFT JOIN sums$i sm
                           ON sm.sid = sp.sid AND sm.pos = sp.pos),
        suparr${i + 1} AS (SELECT sid, list(m ORDER BY pos) AS sv
                           FROM supx${i + 1} GROUP BY sid)"""
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        c0 AS (SELECT vec_id, v FROM e WHERE vec_id % 37 = 0 ORDER BY vec_id LIMIT $k),
        c AS MATERIALIZED (SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid FROM c0),
        cx AS (SELECT cid, unnest(range(64)) AS pos, unnest(v) AS x FROM c),
        supx0 AS (SELECT CAST(cid // $stride AS INT) AS sid, pos, x AS m
                  FROM cx WHERE cid % $stride = 0),
        suparr0 AS (SELECT sid, list(m ORDER BY pos) AS sv FROM supx0 GROUP BY sid)
        ${lloyd(0)}${lloyd(1)}${lloyd(2)},
        grp AS MATERIALIZED (SELECT cid, sid FROM (
            SELECT c.cid, sa.sid,
                   ROW_NUMBER() OVER (PARTITION BY c.cid
                     ORDER BY round(${ocos("c.v", "sa.sv")}, 6) DESC, sa.sid) AS rn
            FROM c CROSS JOIN suparr3 sa) WHERE rn = 1),
        rscored AS (SELECT a.vec_id, sa.sid,
                           round(${ocos("a.v", "sa.sv")}, 6) AS sim
                    FROM e a CROSS JOIN suparr3 sa
                    WHERE sa.sid IN (SELECT sid FROM grp)),
        route AS MATERIALIZED (SELECT vec_id, sid FROM (
            SELECT vec_id, sid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY sim DESC, sid) AS rn
            FROM rscored) WHERE rn <= 2),
        cand AS (SELECT r.vec_id, g.cid FROM route r JOIN grp g USING (sid)),
        cscored AS (SELECT n.vec_id, n.cid,
                           round(${ocos("a.v", "c.v")}, 6) AS sim
                    FROM cand n JOIN e a ON a.vec_id = n.vec_id
                                JOIN c ON c.cid = n.cid),
        asg0 AS MATERIALIZED (SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY sim DESC, cid) AS rn
            FROM cscored) WHERE rn = 1),
        av AS MATERIALIZED (SELECT a.vec_id, a.cid, e2.v
                            FROM asg0 a JOIN e e2 ON e2.vec_id = a.vec_id),
        drops AS (SELECT DISTINCT b.vec_id
                  FROM av a JOIN av b ON a.cid = b.cid AND a.vec_id < b.vec_id
                  WHERE round(${ocos("a.v", "b.v")}, 6) > 0.35)
        SELECT vec_id, cid FROM asg0
        WHERE vec_id NOT IN (SELECT vec_id FROM drops)"""
  }

  val defs: Seq[GQ] = Seq(

    // LIMIT 8 is the DERIVED k at both gate scale factors:
    // max(8, ceil(N/250)) = 8 for N = 500 (sf0.01) and 2000 (sf0.1).
    // A larger corpus derives a larger k Spark-side (linear pair
    // volume); the committed text pins the gate regime and
    // tools.DerivedOracles re-pins the derived regime at sf1.
    GQ("d10_semantic_dedup",
      Some(oracleSemanticDedupSql(8)),
      (s, d) => semanticDedup(emb(s, d))),

    // Full SQL oracle: the fixed-point centroid means and the rounded-
    // cosine argmax are both engine-exact (see centroidClassifier doc).
    GQ("c02_centroid_classifier",
      Some(s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        px AS (SELECT label, g.pos AS pos, g.x AS x
               FROM e, LATERAL (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos) g),
        cent AS (SELECT label AS clabel, list(m ORDER BY pos) AS c FROM (
            SELECT label, pos,
                   CAST(SUM(CAST(floor(x * 1e6) AS BIGINT)) AS DOUBLE)
                     / (COUNT(*) * 1e6) AS m
            FROM px GROUP BY label, pos) GROUP BY label),
        asg AS (SELECT vec_id, label, clabel AS pred,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
                         round(${ocos("v", "c")}, 6) DESC, clabel) AS rn
                FROM e CROSS JOIN cent)
        SELECT label, pred, COUNT(*) AS cnt FROM asg WHERE rn = 1
        GROUP BY label, pred"""),
      (s, d) => centroidClassifier(emb(s, d))),

    // r10 oracle upgrade — the last "impossible" entry to fall: the
    // three Lloyd iterations UNROLL as CTE chains (assignment = rank-1
    // over the unrounded kernel cosine, ties to the lower cid), the
    // murmur-sampled seeds come from the shared murmur3 CTE, and the
    // centroid mean's decimal->double step is EXACT here, not lucky:
    // the decimal sum's unscaled integer (<= n * |x| * 10^12, far
    // below 2^53 at oracle scale) and 10^12 are both exactly
    // representable doubles, so BOTH engines' conversions are the same
    // correctly-rounded IEEE division, and the following /n is a
    // second identical correctly-rounded step. (At a corpus where
    // n * |x| * 10^12 crossed 2^53 this equivalence would break —
    // the oracle is for the sf0.01 gate, the operator for 100 TB.)
    // Empty clusters keep their previous centroid via the LEFT JOIN +
    // COALESCE arm, like the kernel loop.
    // The REVERSE direction, double -> DECIMAL(38,12), is corpus-
    // validated rather than proven: Spark quantizes the double's
    // shortest-string decimal repr HALF_UP (BigDecimal.valueOf) while
    // DuckDB rounds the binary value, so an input within ~1 ulp of a
    // half-quantum at 12 dp could cast differently between engines on
    // another corpus. The sf0.01/sf0.1 hash matches pin it for the
    // gate; if c01 ever diverges on new data, suspect this oracle
    // limit before the kernel.
    GQ("c01_kmeans_embeddings", Some {
      def iter(i: Int): String = s""",
        asg$i AS (
          SELECT vec_id, cid FROM (
            SELECT e.vec_id, ca.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY ${VectorSearch.oracleCosRaw("e.v", "ca.c")} DESC, ca.cid) AS rn
            FROM e CROSS JOIN centarr$i ca) WHERE rn = 1),
        sums$i AS (
          SELECT a.cid, p.pos, CAST(SUM(CAST(p.x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
                 COUNT(*) AS n
          FROM asg$i a JOIN expl p USING (vec_id) GROUP BY 1, 2),
        cents${i + 1} AS (
          SELECT c.cid, c.pos, COALESCE(s.sx / s.n, c.m) AS m
          FROM cents$i c LEFT JOIN sums$i s ON s.cid = c.cid AND s.pos = c.pos),
        centarr${i + 1} AS (
          SELECT cid, list(m ORDER BY pos) AS c FROM cents${i + 1} GROUP BY cid)"""
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        expl AS (SELECT vec_id, unnest(range(64)) AS pos, unnest(v) AS x FROM e),
        mmv AS (SELECT vec_id, ${VectorSearch.oracleMurmur} FROM embeddings),
        seeds AS (SELECT e.vec_id, e.v FROM e JOIN mmv USING (vec_id)
                  ORDER BY mmv.mm, vec_id LIMIT 10),
        seedc AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v FROM seeds),
        cents0 AS (SELECT cid, unnest(range(64)) AS pos, unnest(v) AS m FROM seedc),
        centarr0 AS (SELECT cid, list(m ORDER BY pos) AS c FROM cents0 GROUP BY cid)
        ${iter(0)}${iter(1)}${iter(2)},
        asgF AS (
          SELECT vec_id, cid FROM (
            SELECT e.vec_id, ca.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY ${VectorSearch.oracleCosRaw("e.v", "ca.c")} DESC, ca.cid) AS rn
            FROM e CROSS JOIN centarr3 ca) WHERE rn = 1),
        final AS (
          SELECT a.vec_id, a.cid,
                 round(${VectorSearch.oracleCosRaw("e.v", "ca.c")}, 6) AS sim
          FROM asgF a JOIN e USING (vec_id) JOIN centarr3 ca ON ca.cid = a.cid)
        SELECT cid, COUNT(*) AS n, ${graft.GQ.oavg("sim")} AS avg_sim
        FROM final GROUP BY cid"""
    },
      (s, d) => {
        val (asg, cents) = kmeans(emb(s, d), "embedding", k = 10, iters = 3)
        val simToCent = cents.toIndexedSeq.zipWithIndex
          .foldLeft(lit(Double.NaN)) { case (acc, (c, i)) =>
            when(col("cid") === i, sim6(col("embedding"), typedLit(c.toIndexedSeq)))
              .otherwise(acc)
          }
        asg.select(col("cid"), simToCent.as("sim"))
          .groupBy("cid")
          .agg(count(lit(1)).as("n"), Engine.davg(col("sim")).as("avg_sim"))
      })
  )
}
