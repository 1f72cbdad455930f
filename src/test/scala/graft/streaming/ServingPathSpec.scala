package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.VectorSearch

/** The COMPOSED serving contract, end to end: documents and vectors
  * arrive on streams, the BM25 inverted index and the IVF-PQ index are
  * maintained incrementally (idempotentBatchAppend layouts), Layout
  * folds the per-micro-batch partitions into a compacted epoch, and
  * hybrid retrieval is then served FROM THE INDEX TABLES — equal to
  * the same arms computed inline over the full corpus, with a plan
  * check that the serve path never scans the document corpus (the
  * 100 TB property: query cost is bounded by query-term postings +
  * nprobe IVF cells + the rerank shortlist, not corpus size).
  *
  * Every piece has its own spec (DocsStreamingSpec ingest/restart,
  * LayoutSpec compaction, VectorSearchSpec index-vs-inline); this one
  * pins the composition, which is what a serving deployment actually
  * runs.
  */
class ServingPathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fresh(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
    if (loc.exists) new scala.reflect.io.Directory(loc).deleteRecursively()
  }

  /** Root paths of every file-relation scan in the frame's plan. */
  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten

  test("stream -> index -> compact -> serve: hybrid retrieval reads indexes, not the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Seq("sp_postings", "sp_doclens", "sp_ivf").foreach(fresh)

    val docs = graft.Engine.table(spark, TestSpark.sf, "documents")
    val e = graft.Engine.table(spark, TestSpark.sf, "embeddings")
    val model = VectorSearch.pqModel(e)
    val terms = Seq("scan", "hash", "merge")

    // --- ingest: both corpora arrive as two micro-batches each -------
    val docRows = docs.select("doc_id", "text").as[(Long, String)].collect().toSeq
    val (d1, d2) = docRows.partition(_._1 % 2 == 0)
    val docIn = MemoryStream[(Long, String)]
    val dq = DocsStreaming.invertedIndexIngestQuery(
      docIn.toDF().toDF("doc_id", "text"), "sp_postings", "sp_doclens")
    docIn.addData(d1: _*); dq.processAllAvailable()
    docIn.addData(d2: _*); dq.processAllAvailable()
    dq.stop()

    val vecRows = e.select("vec_id", "embedding").as[(Long, Seq[Double])].collect().toSeq
    val (v1, v2) = vecRows.partition(_._1 % 2 == 0)
    val vecIn = MemoryStream[(Long, Seq[Double])]
    val vq = DocsStreaming.ivfIndexIngestQuery(
      vecIn.toDF().toDF("vec_id", "embedding"), model, "sp_ivf")
    vecIn.addData(v1: _*); vq.processAllAvailable()
    vecIn.addData(v2: _*); vq.processAllAvailable()
    vq.stop()

    // --- compact: fold micro-batch partitions into the epoch ---------
    graft.Layout.compactBatchTable(spark, "sp_postings", Seq.empty)
    graft.Layout.compactBatchTable(spark, "sp_doclens", Seq.empty)
    graft.Layout.compactBatchTable(spark, "sp_ivf", Seq("cid"))
    for (t <- Seq("sp_postings", "sp_doclens", "sp_ivf"))
      assert(spark.table(t).select("batch_id").distinct()
        .as[Long].collect().toSeq == Seq(-1L),
        s"$t not folded into the compacted epoch")

    // --- serve from the compacted indexes ----------------------------
    val served = VectorSearch.hybridRrfTopKIndexed(
      spark.table("sp_postings"), spark.table("sp_doclens"),
      spark.table("sp_ivf"), e, model, terms, qid = 0L)

    val q0 = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val inline = VectorSearch.hybridRrfFuse(
      VectorSearch.rankLex(
        graft.operators.TextPipeline.bm25Scores(docs, terms), 20),
      VectorSearch.rankVec(VectorSearch.ivfPqTopK(e, q0, 20)))
    def canon(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(canon(served) == canon(inline),
      s"served=${canon(served)} inline=${canon(inline)}")

    // --- plan contract: the serve path reads indexes, not documents --
    // the document corpus must appear NOWHERE in the serve plan — the
    // lexical arm scans postings only (df is counted over them; n/avgdl
    // are literals read from sp_doclens once per snapshot, which
    // ServingSqlSpec's doclens-append test covers), and the vector arm
    // touches only the ivf index plus the embeddings table for the
    // query vector + rerank shortlist fetch
    val paths = scanPaths(served)
    assert(paths.nonEmpty)
    assert(!paths.exists(_.contains("documents")),
      s"serve plan scans the document corpus: $paths")
    assert(paths.exists(_.contains("sp_postings")) &&
      paths.exists(_.contains("sp_ivf")),
      s"serve plan missing an index scan: $paths")
    // the warm lexical arm IN ISOLATION scans only sp_postings
    val lexPaths = scanPaths(graft.operators.TextPipeline.bm25FromIndex(
      spark.table("sp_postings"), spark.table("sp_doclens"), terms))
    assert(lexPaths.nonEmpty && lexPaths.forall(_.contains("sp_postings")),
      s"lexical arm scans more than its postings: $lexPaths")
    // the probed-cell filter reaches the ivf scan as PARTITION pruning
    // (the table is cid-partitioned): at 100 TB this is what keeps the
    // vector arm at nprobe cells instead of the full index
    val phys = served.queryExecution.executedPlan.toString
    val partFilter = "PartitionFilters: \\[[^\\]]*cid".r
    assert(partFilter.findFirstIn(phys).isDefined,
      "ivf scan lost its cid partition filter:\n" + phys.take(4000))
  }
}
