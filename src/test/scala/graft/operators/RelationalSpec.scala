package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Plan-shape assertions: correctness is gated by the DuckDB oracle
  * (tools/check.py / the driver); these tests pin the PHYSICAL plan
  * properties that matter at 100 TB — filter pushdown, broadcast
  * selection, partial aggregation — so a regression in plan quality
  * fails CI even while results stay right. */
class RelationalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("flagship entry returns rows (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q01: filter is pushed into the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q01: aggregation is partial+final (map-side combine)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q04: dimension join is broadcast, not shuffle") {
    val p = plan("q04_brand_volume")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q05: star join broadcasts the small dims") {
    val p = plan("q05_nation_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q06: column pruning reaches the scan") {
    val p = plan("q06_revenue_delta")
    // only the needed columns in ReadSchema
    assert(p.contains("l_extendedprice"), p)
    assert(!p.contains("l_partkey"), p)
  }

  test("q07: semi join planned (no full materialization)") {
    assert(plan("q07_orders_with_bulk_items").contains("LeftSemi"))
  }

  test("q09: single window, no extra shuffles") {
    val p = plan("q09_top2_orders_per_customer")
    assert(p.contains("Window"), p)
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("queries and oracle keys line up") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.size == SparkEntry.all.size) // no dup names
  }

  test("t09: repetition signals are a shuffle-free scan+project") {
    // the whole point of the MaxShingleCount kernel: per-document stats
    // must never exchange data (the oracle's explode+groupBy would)
    val p = plan("t09_repetition")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("t10: vocab top-k is partial-agg + TakeOrdered, no global sort") {
    val p = plan("t10_vocab_topk")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // map-side combine
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q47: one shuffle for the range-frame window") {
    val p = plan("q47_range_frame")
    assert(p.contains("Window"), p)
    assert("Exchange".r.findAllIn(p).size <= 1, p)
  }

  test("q55: moment-based stats are one partial+final aggregation") {
    val p = plan("q55_stat_aggs")
    // all eight moments + booleans accumulate in a single map-side
    // combine -> one shuffle on the group key; a builtin-stats plan or
    // a second pass would add exchanges
    assert("Exchange".r.findAllIn(p).size <= 1, p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q50: EXCLUDE-frame compilation stays one window pass") {
    val p = plan("q50_frame_exclude")
    assert("Window".r.findAllIn(p).size <= 1, p)
    assert("Exchange".r.findAllIn(p).size <= 1, p)
  }

  test("t21: per-source cap is exactly the two phase shuffles") {
    val p = plan("t21_per_source_cap")
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("q69: degenerate basket is dropped whole, pairs stay bounded and exact") {
    // one crawler-cart order with 10k distinct brands (C(b,2) ~ 50M pairs
    // uncapped) + a small honest corpus; the capped operator must finish
    // with the hub contributing NOTHING and the honest counts exact
    import spark.implicits._
    val honest = for {
      ord <- 1 to 6; brand <- Seq("A", "B", "C").take(ord % 3 + 1)
    } yield (ord.toLong, brand)
    val hub = (1 to 10000).map(i => (999L, s"hub_$i"))
    val b = (honest ++ hub).toDF("l_orderkey", "p_brand").distinct()
    val got = graft.operators.Relational
      .marketBasketPairs(b, maxBasket = 100, minSupport = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // honest baskets: ord1={A,B} ord2={A,B,C} ord3={A} ord4={A,B} ord5={A,B,C} ord6={A}
    // pair support: (A,B)=4, (A,C)=2, (B,C)=2
    assert(got == Set(("A", "B", 4L), ("A", "C", 2L), ("B", "C", 2L)), s"got $got")
    assert(!got.exists(p => p._1.startsWith("hub") || p._2.startsWith("hub")))
  }

  test("q59 rollup median/MAD == the direct percentile form") {
    // the shipped bounded-state rollup vs the naive collect-the-group
    // `percentile` it replaced — value-identical on the full spec corpus
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val j = graft.Engine.table(spark, TestSpark.sf, "lineitem")
      .join(graft.Engine.table(spark, TestSpark.sf, "part"),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        round(col("l_extendedprice") * 100, 0).cast(LongType).as("pc"))
    val m = j.groupBy("p_brand").agg(expr("percentile(pc, 0.5)").as("med"))
    val dv = j.join(broadcast(m), "p_brand")
      .select(col("p_brand"), col("med"), abs(col("pc") - col("med")).as("dev"))
    val naive = dv.groupBy("p_brand", "med")
      .agg(expr("percentile(dev, 0.5)").as("mad"), count(lit(1)).as("n"))
      .withColumn("n_out", lit(0L)) // recomputed below to avoid a 3rd pass
    val nOut = dv.join(broadcast(naive.select("p_brand", "mad")), "p_brand")
      .groupBy("p_brand")
      .agg(sum(when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L)).as("n_out"))
    val want = naive.drop("n_out").join(nOut, "p_brand")
      .select(col("p_brand"), col("n"), col("med"), col("mad"), col("n_out"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toSet
    val got = graft.operators.Relational.madOutliers(j)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // r19 dual-regime parity: the default (driver-local) regime above
    // must equal the forced-distributed arm bit-for-bit — same brands,
    // same Long counts, same exact 2-adic double medians
    val dist = TestSpark.distributed(graft.operators.Relational.madOutliers(j)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toSet)
    assert(dist == got,
      s"regime divergence: onlyDist=${(dist -- got).take(3)} " +
        s"onlyLocal=${(got -- dist).take(3)}")
  }

  test("q59 rollup takes an IntegerType pc in both regimes") {
    // the driver-local fold reads the rollup with getLong; the rollup
    // widens pc to Long so an int-typed caller column cannot throw
    // ClassCastException there while the distributed arm coerces it
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val base = graft.Engine.table(spark, TestSpark.sf, "lineitem")
      .join(graft.Engine.table(spark, TestSpark.sf, "part"),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), round(col("l_extendedprice") * 100, 0).as("pc"))
    val jInt = base.select(col("p_brand"), col("pc").cast(IntegerType).as("pc"))
    val jLong = base.select(col("p_brand"), col("pc").cast(LongType).as("pc"))
    def rows(j: org.apache.spark.sql.DataFrame) =
      graft.operators.Relational.madOutliers(j)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getLong(4))).toSet
    val local = rows(jInt)
    val dist = TestSpark.distributed(rows(jInt))
    assert(local.nonEmpty)
    assert(local == dist,
      s"regime divergence: onlyDist=${(dist -- local).take(3)} " +
        s"onlyLocal=${(local -- dist).take(3)}")
    assert(local == rows(jLong), "int-typed pc changed the q59 result")
  }

  test("q53 compilation matches hand-computed GROUPS frame semantics") {
    // both engines run the SAME dense_rank + RANGE text, so the gate
    // cannot catch a wrong compilation — pin it to the definition here.
    // values [1,1,2,4,4,7]: peer groups {1,1} {2} {4,4} {7}; GROUPS
    // BETWEEN 1 PRECEDING AND 1 FOLLOWING counts adjacent-group rows
    import spark.implicits._
    val df = Seq(1, 1, 2, 4, 4, 7).toDF("v")
    df.createOrReplaceTempView("groups_probe")
    val got = spark.sql(
      """WITH g AS (SELECT v, DENSE_RANK() OVER (ORDER BY v) AS dr
           FROM groups_probe)
         SELECT v, COUNT(*) OVER (ORDER BY dr
           RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS n
         FROM g""")
      .collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1, 3L), (1, 3L), (2, 5L), (4, 4L), (4, 4L), (7, 3L)),
      s"got $got")
  }
}
