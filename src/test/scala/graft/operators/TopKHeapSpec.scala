package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}
import graft.functions.TopKPairsAgg

/** topKPerQid's heap (TopKPairsAgg, a fixed-width ImperativeAggregate)
  * plans under HashAggregateExec for every caller, and equals the
  * row_number() window reference past the old 128-qid bound — also when
  * the hash map is forced onto its sort-based spill path. */
class TopKHeapSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  test("every s-family top-k heap plans under HashAggregateExec") {
    val withHeap = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => name.matches("s\\d\\d_.*") }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, TestSpark.sf).queryExecution.executedPlan
        def heaps(aggs: Seq[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression]) =
          aggs.exists(_.aggregateFunction.isInstanceOf[TopKPairsAgg])
        val execs = collect(plan) {
          case h: HashAggregateExec if heaps(h.aggregateExpressions) => "hash"
          case o: ObjectHashAggregateExec if heaps(o.aggregateExpressions) => "object"
          case s: SortAggregateExec if heaps(s.aggregateExpressions) => "sort"
        }
        assert(execs.forall(_ == "hash"), s"$name plans the heap under $execs")
        if (execs.nonEmpty) Some(name) else None
      }
    // the entries that run the heap in their returned plan
    for (name <- Seq("s01_ann_bruteforce", "s02_ann_lsh", "s03_ann_ivf",
        "s04_ann_ivfpq", "s13_mmr_rerank"))
      assert(withHeap.contains(name), s"$name no longer plans graft_topk_pairs")
  }

  /** 240 qids (past the old 128 bound), each with 1..80 candidates drawn
    * from 200 nids with repeats; sim is a function of (qid, nid) on a
    * coarse grid, so ties are common and a repeated nid is an exact
    * (nid, sim) repeat — the input the distinct mode is defined for. */
  private def candidates(parts: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0L until 240L).flatMap { q =>
      Seq.fill(1 + rnd.nextInt(80)) {
        val n = rnd.nextInt(200).toLong
        (q, n, ((q * 7919 + n * 104729) % 37) / 37.0)
      }
    }
    spark.sparkContext.parallelize(rows, parts).toDF("qid", "nid", "sim")
  }

  private def reference(pairs: DataFrame, k: Int, distinct: Boolean): DataFrame = {
    val src = if (distinct) pairs.dropDuplicates("qid", "nid") else pairs
    src.withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))))
      .filter(col("rn") <= k).select("qid", "nid", "sim")
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  private def parity(): Unit =
    for (parts <- Seq(1, 7); k <- Seq(1, 10, 60); distinct <- Seq(false, true)) {
      val pairs = candidates(parts)
      val got = rows(VectorSearch.topKPerQid(pairs, k, distinct))
      val want = rows(reference(pairs, k, distinct))
      assert(got.map(_._1).distinct.size == 240)
      assert(got == want, s"parts = $parts, k = $k, distinct = $distinct")
    }

  test("topKPerQid equals the row_number() reference over 240 qids") {
    parity()
  }

  test("topKPerQid equals the reference on the sort-based spill path") {
    // every 100 input rows the aggregation map spills to a sorter, and
    // the task finishes by sort-merging the spilled heap buffers
    val key = "spark.sql.TungstenAggregate.testFallbackStartsAt"
    spark.conf.set(key, "100,100")
    try {
      parity()
      val df = VectorSearch.topKPerQid(candidates(7), 10)
      df.collect()
      val spilled = collect(df.queryExecution.executedPlan) {
        case h: HashAggregateExec => h.metrics("spillSize").value
      }.sum
      assert(spilled > 0, "the forced fallback did not spill")
    } finally spark.conf.unset(key)
  }
}
