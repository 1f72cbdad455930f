package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{TextPipeline, VectorSearch}

/** The SQL-callable serving surface (r17 verdict #2): the index-served
  * retrieval operators registered as table functions must return results
  * IDENTICAL to the Scala serving APIs they wrap — the TVF builders emit
  * the same analyzed plans, so any drift is a registration bug. Also
  * pins the serving properties a SQL caller inherits: lazy plans (no
  * cache entries, no ephemerals) and loud argument errors. */
class ServingSqlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val installed: Unit = {
    Serving.buildIndexes(spark, TestSpark.sf, "svq")
    Serving.install(spark, "svq")
  }

  private def canon(df: DataFrame): Seq[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.toSeq.tail.mkString("|"))).sortBy(identity).toSeq

  test("graft_ann_topk equals the Scala index-served ANN path") {
    installed
    val sql = spark.sql("SELECT * FROM graft_ann_topk(0, 10)")
    assert(sql.columns.toSeq == Seq("qid", "nid", "sim"))
    val e = spark.table("svq_emb")
    val model = Serving.readModel(spark, "svq_pqmodel")
    val q = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val scala_ = VectorSearch.ivfPqTopKIndexed(spark.table("svq_ivf"), e, q,
      model.copy(rerank = math.max(model.rerank, 10)), 10)
    assert(canon(sql) == canon(scala_))
    assert(sql.count() == 10)

    // the single-query plan against the multi-query heap plan, per qid:
    // 50 seeded qids, k below, at and above the rerank shortlist (50),
    // over the persisted index and an inline-encoded one
    val ids = e.select("vec_id").collect().map(_.getLong(0)).sorted
    val qids = new scala.util.Random(17).shuffle(ids.toSeq).take(50)
    val qs = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val indexes = Seq("persisted" -> spark.table("svq_ivf"),
      "inline" -> VectorSearch.encodeIvfPq(e, model))
    for ((name, index) <- indexes; k <- Seq(1, 10, 60)) {
      val m = model.copy(rerank = math.max(model.rerank, k))
      val multi = canon(VectorSearch.ivfPqTopKIndexed(index, e, qs, m, k))
        .groupBy(_._1)
      for (qid <- qids) {
        val one = canon(VectorSearch.ivfPqTopKForQid(index, e, m, qid, k))
        assert(one.nonEmpty && one == multi.getOrElse(qid, Nil),
          s"$name index, k = $k, qid = $qid")
      }
    }

    // a missing qid and a NULL embedding answer nothing; a duplicated
    // vec_id makes the query vector ambiguous and fails
    import spark.implicits._
    val ivf = spark.table("svq_ivf")
    val withNull = e.unionByName(Seq((1000000L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding"))
    for (qid <- Seq(-1L, 1000000L)) {
      val r = VectorSearch.ivfPqTopKForQid(ivf, withNull, model, qid, 10)
      assert(r.columns.toSeq == Seq("qid", "nid", "sim"))
      assert(r.collect().isEmpty, s"qid $qid")
    }
    val missing = spark.sql("SELECT * FROM graft_ann_topk(-1, 10)")
    assert(missing.columns.toSeq == Seq("qid", "nid", "sim"))
    assert(missing.collect().isEmpty)

    val dup = e.unionByName(e.filter(col("vec_id") === 5))
    val err = intercept[GraftStateError](
      VectorSearch.ivfPqTopKForQid(ivf, dup, model, 5L, 10))
    assert(err.sqlstate == Errors.CardinalityViolation)
    assert(err.getMessage.contains("vec_id = 5") &&
      err.getMessage.contains("2 corpus rows"), err.getMessage)
  }

  test("a warm serving call runs a pinned number of jobs") {
    installed
    // first calls build the plans, read the PQ model and the BM25 corpus
    // stats (each memoized per table snapshot); a warm call then runs
    // the query-vector lookup plus the plan's own jobs
    def jobs(sql: String): Int = {
      spark.sql(sql).collect()
      JobCounter.jobsInGroup(spark, "serving-job-pin")(spark.sql(sql).collect())
    }
    val ann = jobs("SELECT * FROM graft_ann_topk(7, 10)")
    val bm25 = jobs("SELECT * FROM graft_bm25_topk('scan hash merge', 20)")
    val hybrid = jobs("SELECT * FROM graft_hybrid_topk(7, 'scan hash merge', 20)")
    // a change that moves these must say which layer moved them
    assert(ann == 3, s"graft_ann_topk ran $ann jobs")
    assert(bm25 == 3, s"graft_bm25_topk ran $bm25 jobs")
    assert(hybrid == 5, s"graft_hybrid_topk ran $hybrid jobs")
  }

  /** Drop a table and its warehouse location (a previous JVM's copy). */
  private def fresh(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
    if (loc.exists) new scala.reflect.io.Directory(loc).deleteRecursively()
  }

  test("a doclens append changes the next graft_bm25_topk answer; n and avgdl are read once") {
    installed
    import spark.implicits._
    val sql = "SELECT * FROM graft_bm25_topk('scan hash merge', 20)"
    val terms = Seq("scan", "hash", "merge")
    val docs = Engine.table(spark, TestSpark.sf, "documents").select("doc_id", "text")
    def scanned(d: DataFrame) =
      canon(TextPipeline.bm25Scores(d, terms).orderBy(col("bm25").desc, col("doc_id")).limit(20))
    def jobs(body: => Unit) = JobCounter.jobsInGroup(spark, "doclens-append")(body)
    Seq("svqa_postings", "svqa_doclens").foreach(fresh)
    try {
      // a private copy of the inverted index: the svq tables stay as built
      for (t <- Seq("postings", "doclens"))
        spark.table(s"svq_$t").write.format("parquet").saveAsTable(s"svqa_$t")
      Serving.install(spark, "svqa")
      val before = canon(spark.sql(sql))
      assert(before == scanned(docs))
      assert(jobs(spark.sql(sql).collect()) == 3)

      // 200 documents of five tokens, none a query term: n and avgdl
      // move, so every score does
      val extra = (0 until 200).map(i => (1000000000L + i, "lorem ipsum dolor sit amet"))
      extra.map { case (id, _) => (id, 5) }.toDF("doc_id", "dl")
        .write.mode(SaveMode.Append).format("parquet").saveAsTable("svqa_doclens")
      val statsJobs = jobs(spark.table("svqa_doclens")
        .agg(count(lit(1)), avg(col("dl"))).collect())
      assert(statsJobs > 0)
      var after = Seq.empty[(Long, String)]
      assert(jobs { after = canon(spark.sql(sql)) } == 3 + statsJobs,
        "the first call after the append reads the stats once")
      assert(after != before)
      assert(after == scanned(docs.unionByName(extra.toDF("doc_id", "text"))))
      assert(jobs(spark.sql(sql).collect()) == 3, "the warm call reads no stats")
    } finally Serving.install(spark, "svq")
  }

  test("empty index tables, absent and repeated terms serve the corpus-scan rows") {
    installed
    val docs = Engine.table(spark, TestSpark.sf, "documents")
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    def top(df: DataFrame, k: Int) = df.orderBy(col("bm25").desc, col("doc_id")).limit(k)
    for ((terms, k) <- Seq("zzzqqq" -> 20, "scan scan hash" -> 7, "merge zzzqqq" -> 1)) {
      val ts = terms.split(" ").toSeq
      assert(canon(spark.sql(s"SELECT * FROM graft_bm25_topk('$terms', $k)")) ==
        canon(top(TextPipeline.bm25Scores(docs, ts), k)), terms)
      val q7 = e.filter(col("vec_id") === 7)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val inline = VectorSearch.hybridRrfFuse(
        VectorSearch.rankLex(TextPipeline.bm25Scores(docs, ts), k),
        VectorSearch.rankVec(VectorSearch.ivfPqTopK(e, q7, k)))
      assert(canon(spark.sql(s"SELECT * FROM graft_hybrid_topk(7, '$terms', $k)")) ==
        canon(inline), terms)
    }
    assert(spark.sql("SELECT * FROM graft_bm25_topk('zzzqqq', 5)").collect().isEmpty)

    Seq("svqe_postings", "svqe_doclens").foreach(fresh)
    for (t <- Seq("postings", "doclens"))
      spark.table(s"svq_$t").filter(lit(false)).write.format("parquet").saveAsTable(s"svqe_$t")
    val empty = TextPipeline.bm25FromIndex(
      spark.table("svqe_postings"), spark.table("svqe_doclens"), Seq("scan", "hash"))
    assert(empty.columns.toSeq == Seq("doc_id", "bm25"))
    assert(empty.collect().isEmpty)
    assert(TextPipeline.bm25Scores(docs.filter(lit(false)), Seq("scan", "hash"))
      .collect().isEmpty)
  }

  test("the PQ model is read once per model-table snapshot") {
    installed
    Serving.readModel(spark, "svq_pqmodel")
    assert(JobCounter.jobsInGroup(spark, "model-memo")(
      Serving.readModel(spark, "svq_pqmodel")) == 0)
    // a rewritten model table is a new snapshot: the next read sees it
    val m = Serving.readModel(spark, "svq_pqmodel")
    Serving.writeModel(spark, m.copy(rerank = m.rerank + 1), "svq_pqmodel")
    assert(Serving.readModel(spark, "svq_pqmodel").rerank == m.rerank + 1)
    Serving.writeModel(spark, m, "svq_pqmodel")
    assert(Serving.readModel(spark, "svq_pqmodel").rerank == m.rerank)
  }

  test("graft_bm25_topk equals the corpus-scan BM25 top-k") {
    installed
    val sql = spark.sql("SELECT * FROM graft_bm25_topk('scan hash merge', 20)")
    assert(sql.columns.toSeq == Seq("doc_id", "bm25"))
    val docs = Engine.table(spark, TestSpark.sf, "documents")
    val inline = TextPipeline.bm25Scores(docs, Seq("scan", "hash", "merge"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
    assert(canon(sql) == canon(inline))
  }

  test("graft_hybrid_topk equals the inline hybrid (IVF-PQ vector arm)") {
    installed
    val sql = spark.sql(
      "SELECT * FROM graft_hybrid_topk(0, 'scan hash merge', 20)")
    assert(sql.columns.toSeq == Seq("doc_id", "rrf"))
    val docs = Engine.table(spark, TestSpark.sf, "documents")
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val q0 = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val inline = VectorSearch.hybridRrfFuse(
      VectorSearch.rankLex(
        TextPipeline.bm25Scores(docs, Seq("scan", "hash", "merge")), 20),
      VectorSearch.rankVec(VectorSearch.ivfPqTopK(e, q0, 20)))
    assert(canon(sql) == canon(inline))
  }

  test("SQL serving stays lazy: no ephemerals, composable in plain SQL") {
    installed
    spark.sharedState.cacheManager.clearCache()
    // composability: the TVF result is a normal relation — joins, CTEs,
    // aggregates over it all analyze and run
    val n = spark.sql("""
      WITH hits AS (SELECT * FROM graft_ann_topk(0, 5))
      SELECT COUNT(*) AS n FROM hits JOIN svq_emb ON hits.nid = svq_emb.vec_id
    """).collect().head.getLong(0)
    assert(n == 5)
    // the serving plan cached nothing
    assert(spark.sharedState.cacheManager.isEmpty,
      "a lazy serving call must not leave a cache entry")
  }

  test("non-literal or malformed arguments fail loudly") {
    installed
    val e1 = intercept[Exception](
      spark.sql("SELECT * FROM graft_ann_topk(vec_id, 10)").collect())
    assert(e1.getMessage.contains("literal arguments")
      || e1.getMessage.toLowerCase.contains("unresolved"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("SELECT * FROM graft_hybrid_topk(0, 10)").collect())
    assert(e2.getMessage.contains("graft_hybrid_topk"), e2.getMessage)
    // k < 1 is rejected by name, in every serving function
    for (sql <- Seq("graft_ann_topk(0, 0)", "graft_bm25_topk('scan', -1)",
        "graft_hybrid_topk(0, 'scan', 0)")) {
      val e3 = intercept[GraftArgError](spark.sql(s"SELECT * FROM $sql").collect())
      assert(e3.sqlstate == Errors.InvalidParameterValue)
      assert(e3.getMessage.contains(sql.takeWhile(_ != '(')) &&
        e3.getMessage.contains("k must be"), e3.getMessage)
    }
  }
}
