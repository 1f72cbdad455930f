package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("HLL estimate within its published bound of exact distinct") {
    // a01 emits exact counts + bound booleans (the driver-gateable
    // form); the spec asserts every bound held AND recomputes the raw
    // estimate-vs-exact gap directly for the tighter 5% sanity check
    val rows = SparkEntry.queries("a01_hll_distinct")(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"parts_bounded false: $r")
      assert(r.getBoolean(4), s"supps_bounded false: $r")
    }
    val direct = graft.Engine.table(spark, TestSpark.sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(l_partkey))").as("est"),
        countDistinct(col("l_partkey")).as("exact"))
      .collect()
    direct.foreach { r =>
      val est = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(est - exact) / exact < 0.05, s"est=$est exact=$exact")
    }
  }

  test("HLL sketches merge associatively (the distributed re-agg property)") {
    val li = graft.Engine.table(spark, TestSpark.sf, "lineitem")
    val whole = li.agg(expr("hll_sketch_estimate(hll_sketch_agg(l_partkey))"))
      .head.getLong(0)
    val halves = li
      .withColumn("half", col("l_orderkey") % 2)
      .groupBy("half").agg(expr("hll_sketch_agg(l_partkey)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))"))
      .head.getLong(0)
    assert(whole == halves) // identical sketch -> identical estimate
  }

  test("as-of join picks the latest strictly-prior right row") {
    def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val left = Seq((1L, ts(10), "p1"), (1L, ts(20), "p2"), (2L, ts(5), "p3"))
      .toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts(5), "v1"), (1L, ts(10), "v_same_ts"), (1L, ts(15), "v2"),
      (3L, ts(1), "other_user")).toDF("user_id", "ts", "tag")
    val out = AsOf.asofJoin(left, right, Seq("user_id"), "ts", Seq("tag"))
      .select(col("l_pay.tag"), col("r_match.tag")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out("p1").contains("v1")) // strict: same-ts v_same_ts excluded
    assert(out("p2").contains("v2"))
    assert(out("p3").isEmpty) // left-join semantics: no prior right row
  }

  test("as-of join inclusive mode admits equal timestamps") {
    def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val left = Seq((1L, ts(10), "p1")).toDF("user_id", "ts", "tag")
    val right = Seq((1L, ts(10), "v_eq")).toDF("user_id", "ts", "tag")
    val out = AsOf.asofJoin(left, right, Seq("user_id"), "ts", Seq("tag"),
      strict = false)
      .select(col("r_match.tag")).head
    assert(out.getString(0) == "v_eq")
  }

  test("a02's gate output is partition-invariant") {
    // the GK sketch's internal estimate may shift with partitioning;
    // the QUERY's gate output (exact_p50 + rank-bound booleans) must
    // not — exact_p50 is decimal-exact and the booleans hold at any
    // partitioning by the published guarantee, so the driver's hash
    // stays stable whatever parallelism it runs at
    //
    // Under the session defaults' AQE confs Spark sizes every shuffle
    // from initialPartitionNum and ignores spark.sql.shuffle.partitions,
    // so each run also turns coalescing off, and checks on the executed
    // plan that its hash shuffles really use `parts` partitions. The
    // confs are set after the frame is built, which is enough: physical
    // planning happens at the action
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    object Aqe extends AdaptiveSparkPlanHelper
    def run(parts: Int): Seq[String] = {
      val confs = Map("spark.sql.shuffle.partitions" -> parts.toString,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
      val df = graft.SparkEntry.queries("a02_approx_percentiles")(spark, graft.TestSpark.sf)
      val prior = confs.keys.map(k => k -> spark.conf.get(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val out = df.collect().map(_.toString).sorted.toSeq
        val hashParts = Aqe.collect(df.queryExecution.executedPlan) {
          case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[HashPartitioning] =>
            s.outputPartitioning.numPartitions
        }
        assert(hashParts.nonEmpty && hashParts.forall(_ == parts),
          s"a02 at $parts partitions planned hash shuffles of $hashParts")
        out
      } finally prior.foreach { case (k, v) => spark.conf.set(k, v) }
    }
    assert(run(3) == run(17))
  }

  test("approx percentiles stay within the GK rank bound and within 1% of exact") {
    // a02 emits exact_p50 + per-quantile rank-bound booleans (the
    // driver-gateable form); assert every bound held, then recompute
    // the raw p50 estimate for the tighter 1% value check
    val rows = graft.SparkEntry.queries("a02_approx_percentiles")(spark, graft.TestSpark.sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // columns: l_returnflag, exact_p50, p25_bounded, p50_bounded, p75_bounded
      assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4),
        s"rank bound violated: $r")
    }
    val direct = graft.Engine.table(spark, graft.TestSpark.sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("approx"),
        expr("percentile(l_extendedprice, 0.5)").as("exact"))
      .collect()
    direct.foreach { r =>
      val approx = r.getDouble(1)
      val exact = r.getDouble(2)
      assert(math.abs(approx - exact) <= 0.01 * exact,
        s"approx p50 $approx vs exact $exact")
    }
  }
}
