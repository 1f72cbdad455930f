package graft

import org.apache.spark.sql.{DataFrame, GraftShim, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.operators.{TextPipeline, VectorSearch}

/** SQL-callable serving surface: the index-served retrieval operators
  * (ANN top-k over the persisted IVF-PQ index, BM25 over the persisted
  * inverted index, hybrid RRF fusing both) exposed as Spark TABLE
  * FUNCTIONS, so a client connecting over the PG v3 wire — the
  * reference's only user surface (reference src/lib.rs:438-466) — can
  * reach them as plain SQL:
  *
  * {{{
  *   SELECT * FROM graft_ann_topk(42, 10);
  *   SELECT * FROM graft_bm25_topk('scan hash merge', 20);
  *   SELECT * FROM graft_hybrid_topk(42, 'scan hash merge', 20);
  * }}}
  *
  * Every function returns a LAZY serving plan for ONE query; `k` must
  * be >= 1. The vector arm (`graft_ann_topk`, and the vector half of
  * `graft_hybrid_topk`) is `VectorSearch.ivfPqTopKForQid`: the query
  * vector is looked up once while the plan is built, and its probed IVF
  * cells and PQ distance table are bound into the plan as literals —
  * pruned index scan (the cells are PartitionFilters), ADC-scored
  * sort-limit shortlist, broadcast join to `{prefix}_emb` for the exact
  * rerank, sort-limit k. No per-query aggregate, no query-side
  * broadcast. The lexical arm prunes to the query terms' postings at
  * the scan. At 100 TB a call touches nprobe cells of the index plus
  * the rerank shortlist, or the query terms' postings, never the
  * corpus. Building a plan runs one job (the query-vector lookup, vector
  * arm only); the PQ model is read once per snapshot of the model table
  * ([[readModel]]). The returned LogicalPlan is the same analyzed plan
  * the Scala APIs produce, so the wire path and the driver-contract path
  * can never drift (ServingSqlSpec + WireServerSpec hash-check them
  * equal).
  *
  * Deployment shape: [[buildIndexes]] persists the three index tables
  * plus the PQ model (encode once); [[install]] registers the functions
  * on a live session, and `GraftExtensions` injects the same builders
  * statically (`--conf spark.sql.extensions=graft.GraftExtensions`) so
  * every session of a cluster application has them. The model table is
  * what makes static injection possible: builders self-configure from
  * catalog state at call time instead of a captured driver object.
  */
object Serving {

  /** Default table-name prefix — what `GraftExtensions` wires. */
  val DefaultPrefix = "serve"

  private def tbl(prefix: String, suffix: String) = s"${prefix}_$suffix"

  // -------------------------------------------------------------------
  // Index build (encode once / search many)
  // -------------------------------------------------------------------

  /** Build + persist the serving index tables from the `dataDir` corpora:
    * `{prefix}_ivf` (cid-partitioned IVF-PQ index), `{prefix}_postings` /
    * `{prefix}_doclens` (inverted index), `{prefix}_pqmodel` (the PQ
    * model, so search sessions decode with the EXACT model the index was
    * encoded with — re-deriving from a grown corpus would re-cell
    * existing entries), and `{prefix}_emb` (the embedding corpus itself,
    * the rerank shortlist fetch target). This is the batch twin of the
    * streaming maintenance path (`DocsStreaming.invertedIndexIngestQuery`
    * / `ivfIndexIngestQuery` + `Layout.compactBatchTable`): the postings
    * projection is identical, so `bm25FromIndex` serves the same scores
    * over either build. */
  /** Drop a managed table AND its warehouse location: a table written
    * by a PREVIOUS JVM survives on disk while the new session's catalog
    * has no entry for it, and saveAsTable then fails with
    * LOCATION_ALREADY_EXISTS — rebuild must clear both. */
  private def fresh(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
    if (loc.exists) { new scala.reflect.io.Directory(loc).deleteRecursively(); () }
  }

  def buildIndexes(spark: SparkSession, dataDir: String,
      prefix: String = DefaultPrefix): Unit = {
    import graft.functions.TextFunctions.tokens
    Seq("ivf", "emb", "postings", "doclens", "pqmodel")
      .foreach(s => fresh(spark, tbl(prefix, s)))
    val e = Engine.table(spark, dataDir, "embeddings")
    val docs = Engine.table(spark, dataDir, "documents")
    val model = VectorSearch.pqModel(e)
    Layout.writeIvfIndex(VectorSearch.encodeIvfPq(e, model), tbl(prefix, "ivf"))
    e.select("vec_id", "embedding").write.mode(SaveMode.Overwrite)
      .format("parquet").saveAsTable(tbl(prefix, "emb"))
    val base = docs.select(col("doc_id"), tokens(col("text")).as("tok"))
    val postings = base
      .select(col("doc_id"), size(col("tok")).as("dl"),
        explode(col("tok")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    postings.write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(tbl(prefix, "postings"))
    base.select(col("doc_id"), size(col("tok")).as("dl"))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(tbl(prefix, "doclens"))
    writeModel(spark, model, tbl(prefix, "pqmodel"))
  }

  /** Build-once memo for the driver-contract entries: the serving
    * semantics are encode-once / search-many, so a repeated query
    * invocation (bench warmup + timed pass) re-measures the SERVE path,
    * not an index rebuild. Keyed by (session, dataDir, prefix); entries
    * whose context has stopped purge on access (registry hygiene, the
    * r17 verdict-#4 discipline). */
  private val built =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(SparkSession, String, String)]()

  def ensureIndexes(spark: SparkSession, dataDir: String,
      prefix: String = DefaultPrefix): Unit = {
    val it = built.iterator
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    val key = (spark, dataDir, prefix)
    if (!built.contains(key)) {
      // memoize SUCCESS only: a failed build (e.g. a stale-location
      // collision) must not poison later invocations into serving from
      // missing tables. A racing duplicate build is a harmless
      // idempotent overwrite.
      buildIndexes(spark, dataDir, prefix)
      built.add(key)
      ()
    }
  }

  /** Persist a PqModel as rows — tiny (kB-sized): one row per centroid,
    * one per codeword, two scalar params. Deterministic ordering via
    * the (kind, j, i) key. */
  private[graft] def writeModel(spark: SparkSession,
      m: VectorSearch.PqModel, table: String): Unit = {
    import spark.implicits._
    val rows =
      m.centroids.zipWithIndex.toSeq.map { case (v, i) =>
        ("centroid", -1, i, v.toSeq, -1)
      } ++
      m.books.zipWithIndex.toSeq.flatMap { case (book, j) =>
        book.zipWithIndex.toSeq.map { case (v, i) => ("book", j, i, v.toSeq, -1) }
      } ++
      Seq(("nprobe", -1, -1, Seq.empty[Double], m.nprobe),
        ("rerank", -1, -1, Seq.empty[Double], m.rerank))
    rows.toDF("kind", "j", "i", "vec", "n")
      .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)
  }

  /** Probe hook for the serving-latency split (QuickProbe s17split). */
  private[graft] def probeReadModel(spark: SparkSession, prefix: String): Unit = {
    readModel(spark, tbl(prefix, "pqmodel")); ()
  }

  /** Inverse of [[writeModel]] — a collect of the kB-sized model table,
    * run once per snapshot of the table's files (`Engine.memoSnapshot`,
    * the memoCount key contract): warm serving calls read no model, and
    * a rebuilt or rewritten model table is seen on the next call. */
  private[graft] def readModel(spark: SparkSession,
      table: String): VectorSearch.PqModel = {
    val t = spark.table(table)
    Engine.memoSnapshot(t, "pqModel")(modelOf(t.collect()))
  }

  private def modelOf(rows: Array[Row]): VectorSearch.PqModel = {
    def vecs(kind: String): Array[(Int, Int, Array[Double])] = rows
      .filter(_.getString(0) == kind)
      .map(r => (r.getInt(1), r.getInt(2),
        r.getSeq[Double](3).toArray))
    val centroids = vecs("centroid").sortBy(_._2).map(_._3)
    val bookRows = vecs("book")
    val books = bookRows.map(_._1).distinct.sorted.map { j =>
      bookRows.filter(_._1 == j).sortBy(_._2).map(_._3)
    }
    def param(kind: String): Int =
      rows.find(_.getString(0) == kind).get.getInt(4)
    VectorSearch.PqModel(centroids, books, param("nprobe"), param("rerank"))
  }

  // -------------------------------------------------------------------
  // Table-function builders (shared by install() and GraftExtensions)
  // -------------------------------------------------------------------

  private def active: SparkSession = SparkSession.getActiveSession.getOrElse(
    throw new GraftStateError(Errors.InternalError,
      "no active SparkSession for a serving table function"))

  private def argErr(fn: String, want: String): Nothing =
    throw new GraftArgError(Errors.InvalidParameterValue,
      s"$fn expects literal arguments: $want")

  private def litLong(fn: String, want: String, e: Expression): Long = e match {
    case Literal(v: Long, LongType) => v
    case Literal(v: Int, IntegerType) => v.toLong
    case _ => argErr(fn, want)
  }
  /** The `k` argument: a literal >= 1 (the plans end in `limit(k)`). */
  private def litK(fn: String, want: String, e: Expression): Int = {
    val k = litLong(fn, want, e)
    if (k < 1 || k > Int.MaxValue)
      throw new GraftArgError(Errors.InvalidParameterValue,
        s"$fn: k must be between 1 and ${Int.MaxValue}, got $k")
    k.toInt
  }
  private def litStr(fn: String, want: String, e: Expression): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case _ => argErr(fn, want)
  }

  /** The vector serving arm: the single-query IVF-PQ plan
    * (`VectorSearch.ivfPqTopKForQid`) against the persisted index. */
  private def annPlan(prefix: String, qid: Long, k: Int): LogicalPlan = {
    val s = active
    VectorSearch.ivfPqTopKForQid(s.table(tbl(prefix, "ivf")), s.table(tbl(prefix, "emb")),
      readModel(s, tbl(prefix, "pqmodel")), qid, k)
      .queryExecution.analyzed
  }

  /** The lexical serving arm: BM25 top-k from the persisted inverted
    * index — query-term postings prune at the scan. */
  private def bm25Plan(prefix: String, terms: Seq[String], k: Int): LogicalPlan = {
    val s = active
    TextPipeline.bm25FromIndex(
      s.table(tbl(prefix, "postings")), s.table(tbl(prefix, "doclens")), terms)
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
      .queryExecution.analyzed
  }

  /** Hybrid RRF over both persisted-index arms. */
  private def hybridPlan(prefix: String, qid: Long, terms: Seq[String],
      k: Int): LogicalPlan = {
    val s = active
    VectorSearch.hybridRrfTopKIndexed(
      s.table(tbl(prefix, "postings")), s.table(tbl(prefix, "doclens")),
      s.table(tbl(prefix, "ivf")), s.table(tbl(prefix, "emb")),
      readModel(s, tbl(prefix, "pqmodel")), terms, qid, k)
      .queryExecution.analyzed
  }

  private def splitTerms(s: String): Seq[String] =
    s.split("\\s+").filter(_.nonEmpty).toSeq

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  /** (name, info, builder) triples — the shape both
    * `SparkSessionExtensions.injectTableFunction` and the session
    * registry take. */
  def tableFunctions(prefix: String): Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] = Seq(
    (FunctionIdentifier("graft_ann_topk"),
      info("graft_ann_topk",
        "graft_ann_topk(qid, k) - top-k ANN neighbors of corpus vector qid, served from the persisted IVF-PQ index"),
      (es: Seq[Expression]) => {
        val want = "graft_ann_topk(qid BIGINT, k INT)"
        if (es.length != 2) argErr("graft_ann_topk", want)
        annPlan(prefix, litLong("graft_ann_topk", want, es(0)),
          litK("graft_ann_topk", want, es(1)))
      }),
    (FunctionIdentifier("graft_bm25_topk"),
      info("graft_bm25_topk",
        "graft_bm25_topk(terms, k) - top-k BM25 documents for the space-separated terms, served from the persisted inverted index"),
      (es: Seq[Expression]) => {
        val want = "graft_bm25_topk(terms STRING, k INT)"
        if (es.length != 2) argErr("graft_bm25_topk", want)
        bm25Plan(prefix, splitTerms(litStr("graft_bm25_topk", want, es(0))),
          litK("graft_bm25_topk", want, es(1)))
      }),
    (FunctionIdentifier("graft_hybrid_topk"),
      info("graft_hybrid_topk",
        "graft_hybrid_topk(qid, terms, k) - reciprocal-rank fusion of the BM25 and ANN top-k arms, both index-served"),
      (es: Seq[Expression]) => {
        val want = "graft_hybrid_topk(qid BIGINT, terms STRING, k INT)"
        if (es.length != 3) argErr("graft_hybrid_topk", want)
        hybridPlan(prefix, litLong("graft_hybrid_topk", want, es(0)),
          splitTerms(litStr("graft_hybrid_topk", want, es(1))),
          litK("graft_hybrid_topk", want, es(2)))
      }))

  /** Register the serving table functions on a LIVE session (the
    * runtime twin of `GraftExtensions`' static injection). Idempotent:
    * re-registering replaces the builder. */
  def install(spark: SparkSession, prefix: String = DefaultPrefix): Unit =
    tableFunctions(prefix).foreach { case (id, inf, builder) =>
      GraftShim.registerTableFunction(spark, id, inf, builder)
    }

  // -------------------------------------------------------------------
  // Driver-contract entries: the SQL-served paths, oracle-gated
  // -------------------------------------------------------------------

  /** Hybrid-serving oracle: the s07 lexical arm text (BM25 top-20)
    * fused with the IVF-PQ vector arm's CTE chain (the s04/s15/s16
    * restatement, single qid) — exactly what `graft_hybrid_topk`
    * computes, since its vector arm is the index-served IVF-PQ path,
    * not s07's brute-force arm. CTE name sets are disjoint by
    * construction. */
  private[graft] def oracleHybridIndexedSql(cells: Int = 16,
      nprobe: Int = 3): String = {
    val terms = Seq("scan", "hash", "merge").map(t => s"'$t'").mkString(", ")
    s"""WITH ${VectorSearch.oracleIvfPqCtes(cells, nprobe, qidPred = "= 0")},
        vecarm AS (
          SELECT qid, nid, sim FROM (
            SELECT qid, nid, sim,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
            FROM exact) WHERE rn <= 20),
        vec AS (SELECT nid AS doc_id,
                       ROW_NUMBER() OVER (ORDER BY sim DESC, nid) AS rv
                FROM vecarm),
        dl AS (SELECT doc_id, len(${TextPipeline.oracleTokens}) AS dl FROM documents),
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
                FROM (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 20))
        SELECT doc_id, rrf FROM (
          SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
                 round(COALESCE(CAST(1 AS DOUBLE) / (60 + lex.rl), 0)
                     + COALESCE(CAST(1 AS DOUBLE) / (60 + vec.rv), 0), 6) AS rrf
          FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
        ORDER BY rrf DESC, doc_id LIMIT 10"""
  }

  val defs: Seq[GQ] = Seq(
    GQ("s16_ann_sql_serving",
      Some(VectorSearch.oracleIvfPqSql(16, 3, qidPred = "= 0")),
      (s, d) => {
        ensureIndexes(s, d, "serve")
        install(s, "serve")
        s.sql("SELECT * FROM graft_ann_topk(0, 10)")
      }),
    GQ("s17_hybrid_sql_serving", Some(oracleHybridIndexedSql()),
      (s, d) => {
        ensureIndexes(s, d, "serve")
        install(s, "serve")
        s.sql("SELECT * FROM graft_hybrid_topk(0, 'scan hash merge', 20)")
      }))
}
