package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Engine, SparkEntry, TestSpark}

class VectorSearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("brute-force top-k returns k neighbors in descending similarity") {
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val q = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val top = VectorSearch.bruteForceTopK(e, q, 10).collect()
    assert(top.length == 10)
    val sims = top.map(_.getDouble(2)).toSeq
    assert(sims == sims.sorted.reverse)
    assert(!top.exists(_.getLong(1) == 0L)) // self excluded
  }

  test("LSH recall vs brute force is substantial at modest plane count") {
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = VectorSearch.bruteForceTopK(e, q, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = VectorSearch.lshTopK(e, q, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // random 64-dim data: near-orthogonal "neighbors"; 8 tables x 4 planes
    // compounds per-table ~0.1 hit rate to ~0.5
    assert(recall >= 0.3, s"recall=$recall")
  }

  test("IVF probe search recalls a useful fraction of exact neighbors") {
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = VectorSearch.bruteForceTopK(e, q, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorSearch.ivfTopK(e, q, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    // ~14 cells, nprobe 2 -> ~15% of corpus probed on random data
    assert(recall >= 0.1, s"recall=$recall")
    // all queries still answered
    assert(ivf.map(_._1) == exact.map(_._1))
  }

  test("top-k plans use partial bounded-heap aggregation, not a window sort") {
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    for (df <- Seq(VectorSearch.bruteForceTopK(e, q, 10),
                   VectorSearch.lshTopK(e, q, 10),
                   VectorSearch.ivfTopK(e, q, 10))) {
      val p = df.queryExecution.executedPlan.toString
      // single-task-per-group sort (the round-3 scale-killer) is banned
      assert(!p.contains("Window"), p.linesIterator.take(12).mkString("\n"))
      // bounded-heap aggregate runs partial (per-partition) before the
      // qid exchange: each partition ships <= k pairs per query
      assert(p.contains("graft_topk_pairs"), "heap aggregate missing")
      assert(p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
        "partial agg missing or not in HashAggregateExec")
    }
  }

  test("IVF assignment is a narrow pass: no nested-loop join, no N x cells explosion") {
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val p = VectorSearch.ivfTopK(e, q, 10).queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), "IVF must not nested-loop the codebook")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("graft_nearest_cells"), "native argmin assignment missing")
  }

  test("IVF-PQ recalls a useful fraction of exact neighbors") {
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = VectorSearch.bruteForceTopK(e, q, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = VectorSearch.ivfPqTopK(e, q, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    // bounded by the IVF probe coverage; the exact rerank of the ADC
    // shortlist means the candidates it does see are ranked correctly
    assert(recall >= 0.1, s"recall=$recall")
    assert(pq.map(_._1) == exact.map(_._1)) // all queries answered
  }

  test("IVF-PQ rerank agrees with exact cosine on the pairs it returns") {
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val pq = VectorSearch.ivfPqTopK(e, q, 10).collect()
    // final sims come from the exact kernel, not the ADC estimate:
    // every returned (qid, nid, sim) must equal the true rounded cosine
    val byId = e.collect().map(r =>
      r.getLong(0) -> r.getSeq[Number](1).map(_.doubleValue).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    pq.foreach { r =>
      val expect = BigDecimal(cos(byId(r.getLong(0)), byId(r.getLong(1))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(2) - expect) < 1e-9,
        s"qid=${r.getLong(0)} nid=${r.getLong(1)}")
    }
  }

  test("IVF-PQ plan: codes not vectors in candidate gen, no window, no nested loop") {
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val p = VectorSearch.ivfPqTopK(e, q, 10).queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"), "single-task per-qid sort is banned")
    assert(p.contains("graft_pq_encode"), "native PQ encode missing")
    assert(p.contains("graft_pq_adc_sum"), "native ADC scoring missing")
    assert(p.contains("graft_topk_pairs"), "bounded-heap top-k missing")
  }

  test("lshBucket is deterministic across evaluations and tables differ") {
    val e = Engine.table(spark, TestSpark.sf, "embeddings").limit(50)
    def buckets(t: Int) = e.select(col("vec_id"),
        VectorSearch.lshBucket(col("embedding"), 6, 64, t).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(buckets(0) == buckets(0))
    assert(buckets(0) != buckets(1))
  }

  test("multi-table bucket kernel == the per-table literal form, every table") {
    // the r12 kernel swap must not move a single bucket: the embedded-
    // plane oracles restate the literal dot(v, h) > 0 semantics, so
    // kernel/literal parity IS oracle validity for the whole LSH family
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    for ((planes, tables) <- Seq((4, 8), (5, 8), (3, 16))) {
      val kernel = e.select(col("vec_id"),
          VectorSearch.lshBucketsAll(col("embedding"), planes, tables, 64).as("bs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toVector).toMap
      for (t <- 0 until tables) {
        val lit = e.select(col("vec_id"),
            VectorSearch.lshBucket(col("embedding"), planes, 64, t).as("b"))
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        lit.foreach { case (id, b) =>
          assert(kernel(id)(t) == b, s"planes=$planes t=$t vec=$id")
        }
      }
    }
  }

  test("LSH near-dup pairs recall a large fraction of the exact pair set") {
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val exact = VectorSearch.cosineNearDupPairs(e, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorSearch.cosineNearDupPairsLsh(e, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH must emit only true above-threshold pairs")
    val recall = (lsh intersect exact).size.toDouble / exact.size
    // 8 tables x 4 planes at tau 0.3 (p_plane ~ 0.6): the d07 regime;
    // regression guard for the maxBucket cap — a cap that silently
    // dropped healthy buckets would crater this
    assert(recall >= 0.5, s"recall=$recall exact=${exact.size} lsh=${lsh.size}")
  }

  test("degenerate corpus (all-identical embeddings): bucket cap bounds the self-join") {
    import spark.implicits._
    // every vector identical -> ONE bucket per table holds the whole
    // corpus; uncapped this is the quadratic scale-killer (N^2 pairs in
    // one task). With the cap the bucket is dropped and both operators
    // complete with zero candidate pairs.
    val vec = Array.fill(64)(0.5f)
    val e = (0L until 500L).map(i => (i, vec)).toDF("vec_id", "embedding")
    val capped = VectorSearch.cosineNearDupPairsLsh(e, 0.3, maxBucket = 100)
    assert(capped.count() == 0, "over-cap buckets must be dropped, not exploded")
    val graph = VectorSearch.mutualKnnGraph(e, 5, maxBucket = 100)
    assert(graph.count() == 0)
    // sanity: with the cap above the corpus size the same degenerate
    // bucket yields the full pair set (the cap, not the pairing, gated)
    val open = VectorSearch.cosineNearDupPairsLsh(e, 0.3, maxBucket = 500)
    assert(open.count() == 500L * 499L / 2)
  }

  test("mutual kNN graph: canonical edges, mutual wrt candidates, useful recall") {
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val got = VectorSearch.mutualKnnGraph(e, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty)
    assert(got.forall { case (a, b) => a < b }, "edges must be canonical a<b")
    // exact mutual-kNN reference, in-memory (500 vectors in the test SF)
    val vecs = e.collect().map(r =>
      r.getLong(0) -> r.getSeq[Number](1).map(_.doubleValue).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val ids = vecs.keys.toSeq
    val topk = ids.map { q =>
      q -> ids.filter(_ != q)
        .sortBy(o => (-cos(vecs(q), vecs(o)), o)).take(5).toSet
    }.toMap
    val exact = (for {
      a <- ids; b <- topk(a) if a < b && topk(b).contains(a)
    } yield (a, b)).toSet
    val recall = (got intersect exact).size.toDouble / exact.size
    // random near-orthogonal vectors: LSH candidate recall bounds edge
    // recall (same regime as the s02 spec's 0.3 floor)
    assert(recall >= 0.2, s"recall=$recall exact=${exact.size} got=${got.size}")
  }

  test("s10 LSH-armed purity tracks the exact-arm purity per label") {
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val exact = VectorSearch.labelPurityExact(e).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val lsh = VectorSearch.labelPurityLsh(e).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(exact.keySet == lsh.keySet, "every label must be reached by the LSH arm")
    // coverage: nearly every vector keeps >= 1 candidate neighbor
    val cov = lsh.values.map(_._1).sum.toDouble / exact.values.map(_._1).sum
    assert(cov >= 0.95, s"LSH arm reached only $cov of vectors")
    val diffs = exact.map { case (l, (_, p)) => l -> math.abs(p - lsh(l)._2) }
    // the arms agree on the audit's signal (random near-orthogonal
    // corpus: purity ~ 1/|labels|; an embedding with real clusters
    // tightens this, never loosens it)
    assert(diffs.values.max <= 0.15,
      s"per-label purity diverges: $diffs\nexact=$exact\nlsh=$lsh")
  }

  test("s11 sampled separation tracks the exact intra/inter means per label") {
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val exact = VectorSearch.labelSeparationExact(e).collect()
      .map(r => r.getInt(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val smp = VectorSearch.labelSeparation(e, maxPerLabel = 100).collect()
      .map(r => r.getInt(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(exact.keySet == smp.keySet)
    val dIntra = exact.map { case (l, (i, _)) => math.abs(i - smp(l)._1) }.max
    val dInter = exact.map { case (l, (_, i)) => math.abs(i - smp(l)._2) }.max
    // mean cosine on this corpus sits near 0 with sd ~ 1/sqrt(dim);
    // a 100-per-label unbiased sample pins the class means to a few
    // hundredths — loose enough to be seed-robust, tight enough that
    // a biased sampler (e.g. LSH candidates) fails immediately
    assert(dIntra <= 0.05 && dInter <= 0.05,
      s"dIntra=$dIntra dInter=$dInter\nexact=$exact\nsample=$smp")
  }

  test("s11 sample is deterministic and respects the per-label cap") {
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val a = VectorSearch.labelSeparation(e, maxPerLabel = 50).collect().toSeq
    val b = VectorSearch.labelSeparation(e.repartition(13), maxPerLabel = 50)
      .collect().toSeq
    assert(a.map(_.toString).sorted == b.map(_.toString).sorted,
      "sampled separation must be partition-count independent")
  }

  test("ANN-arm kNN classifier agrees with the exact arm (s09's scale swap)") {
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    def preds(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    val exact = preds(SparkEntry.queries("s09_knn_classifier")(spark, TestSpark.sf))
    val ann = preds(VectorSearch.knnClassifierAnn(e))
    // same query set, same vote tail; predictions may differ only where
    // LSH recall missed a true neighbor — require high agreement so a
    // broken candidate generator (or vote tail drift) fails loudly
    assert(ann.keySet == exact.keySet)
    assert(ann.forall { case (q, (l, _)) => exact(q)._1 == l }) // labels join identically
    val agree = ann.count { case (q, (_, p)) => exact(q)._2 == p }
    assert(agree.toDouble / ann.size >= 0.8,
      s"ANN kNN agreement ${agree}/${ann.size} below 0.8")
  }

  test("index-served hybrid RRF equals the same arms computed inline") {
    import graft.functions.TextFunctions.tokens
    val docs = Engine.table(spark, TestSpark.sf, "documents")
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val model = VectorSearch.pqModel(e)
    val terms = Seq("scan", "hash", "merge")
    // postings/doclens built exactly as the streaming ingest lands them
    val base = docs.select(col("doc_id"), tokens(col("text")).as("tok"))
    val postings = base
      .select(col("doc_id"), size(col("tok")).as("dl"),
        explode(col("tok")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val doclens = base.select(col("doc_id"), size(col("tok")).as("dl"))
    val served = VectorSearch.hybridRrfTopKIndexed(
      postings, doclens, VectorSearch.encodeIvfPq(e, model), e, model,
      terms, qid = 0L)
    val q0 = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val inline = VectorSearch.hybridRrfFuse(
      VectorSearch.rankLex(
        graft.operators.TextPipeline.bm25Scores(docs, terms), 20),
      VectorSearch.rankVec(VectorSearch.ivfPqTopK(e, q0, 20)))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(canon(served) == canon(inline),
      s"served=${canon(served)} inline=${canon(inline)}")
  }

  test("union RRF fuse == the oracle's full-outer-join form bit-for-bit") {
    // r19: hybridRrfFuse folds the two rank lists via union + one-key
    // sum instead of the declared FULL OUTER JOIN — pin the rewrite
    // against the join form on arms with partial overlap (docs in both
    // lists, lex-only docs, vec-only docs)
    import spark.implicits._
    val lex = Seq((1L, 1), (2L, 2), (3L, 3), (4L, 4))
      .toDF("doc_id", "rl")
    val vec = Seq((3L, 1), (4L, 2), (5L, 3), (6L, 4))
      .toDF("doc_id", "rv")
    val got = VectorSearch.hybridRrfFuse(lex, vec).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val want = lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(lit(1.0) / (lit(60) + col("rl")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == want, s"got=$got want=$want")
  }
}
