package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Engine, TestSpark}
import graft.functions.{GraftFunctions => GF, Round6Kernel}

/** Pins the s13 MMR restructure (r18): the row-local greedy kernel
  * ([[graft.functions.MmrSelectKernel]]) over each query's collected
  * candidate array must equal the former k−1-round DataFrame loop —
  * exactly, row for row, mmr value included. The loop form is kept
  * HERE as the reference twin (anti-join + join + two groupBys + a
  * lineage cut per rank, ~18 tiny exchanges for k=4); the kernel form
  * is what ships. Adversarial surface: engineered score TIES (small
  * integer grids collide after round6), planted duplicate vectors
  * (mr = 1e6 runs longer than k force the nid-asc tie break), and the
  * real gate corpus end-to-end through [[VectorSearch.mmrRerank]]. */
class MmrKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The pre-r18 mmrRerank, verbatim: the reference twin. */
  private def loopForm(corpus: DataFrame, queries: DataFrame,
      k: Int, kCand: Int): DataFrame = {
    val corpusV = corpus.select(col("vec_id").as("nid"), col("embedding").as("nv"))
    val cand = VectorSearch.bruteForceTopK(corpus, queries, kCand)
      .join(corpusV, "nid")
      .select(col("qid"), col("nid"),
        expr("CAST(round(sim * 1000000) AS BIGINT)").as("simq_m"), col("nv"))
      .transform(Engine.cut)
    var selected = cand.groupBy("qid")
      .agg(max(struct(col("simq_m"), (-col("nid")).as("nn"))).as("b"))
      .select(col("qid"), (-col("b.nn")).as("nid"), lit(1).as("rank"),
        (lit(7L) * col("b.simq_m")).as("num"))
    for (r <- 2 to k) {
      val selV = selected.select(col("qid").as("sqid"), col("nid").as("sid"))
        .join(cand.select(col("qid").as("sqid"), col("nid").as("sid"),
          col("nv").as("sv")), Seq("sqid", "sid"))
      val rem = cand.join(selected.select("qid", "nid"),
        Seq("qid", "nid"), "left_anti")
      val pick = rem.join(selV, col("qid") === col("sqid"))
        .select(col("qid"), col("nid"), col("simq_m"),
          round(VectorSearch.sim6(col("nv"), col("sv")) * 1000000, 0)
            .cast(LongType).as("s"))
        .groupBy("qid", "nid", "simq_m")
        .agg(max("s").as("mr"))
        .select(col("qid"),
          struct((lit(7L) * col("simq_m") - lit(3L) * col("mr")).as("num"),
            (-col("nid")).as("nn")).as("cand"))
        .groupBy("qid").agg(max("cand").as("b"))
        .select(col("qid"), (-col("b.nn")).as("nid"), lit(r).as("rank"),
          col("b.num").as("num"))
      selected = selected.unionByName(pick).transform(Engine.cut)
    }
    val out = selected.select(col("qid"), col("rank").cast(IntegerType).as("rank"),
        col("nid"), (col("num").cast(DoubleType) / 1e7).as("mmr"))
      .transform(Engine.cut)
    Engine.releaseCheckpoint(cand)
    out
  }

  private def rows(df: DataFrame): Set[(Long, Int, Long, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

  test("kernel equals the loop form under ties and duplicate vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    for (trial <- 0 until 6) {
      val n = 16 + rnd.nextInt(16)
      val k = 2 + rnd.nextInt(3)
      val kCand = k + 1 + rnd.nextInt(4)
      // small integer grid -> round6-cosine collisions; planted exact
      // duplicates -> mr ties at 1e6 deeper than k
      val base = Array.fill(n)(Array.fill(5)((rnd.nextInt(4) - 1).toDouble))
      val vecs = base.zipWithIndex.map { case (v, i) =>
        if (i > 1 && rnd.nextInt(3) == 0) base(rnd.nextInt(i)).clone else v
      }
      val corpus = vecs.zipWithIndex
        .map { case (v, i) => (i * 31L + 7, v.toSeq) }.toSeq
        .toDF("vec_id", "embedding")
      val queries = corpus.filter(col("vec_id") % 5 === lit(2))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val got = rows(VectorSearch.mmrRerank(corpus, queries, k, kCand))
      val want = rows(loopForm(corpus, queries, k, kCand))
      assert(got == want, s"trial=$trial n=$n k=$k kCand=$kCand")
    }
  }

  test("kernel equals the loop form on the gate corpus (s13 shape)") {
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val q = e.filter(col("vec_id") % 20 === lit(3))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = rows(VectorSearch.mmrRerank(e, q, k = 4, kCand = 8))
    val want = rows(loopForm(e, q, k = 4, kCand = 8))
    assert(got.nonEmpty && got == want)
  }
}
