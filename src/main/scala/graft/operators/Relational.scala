package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Engine, GQ}
import graft.GQ.{oavg, osum}
import graft.Engine.{davg, dsum}
import graft.functions.PgFunctions._

/** The relational operator surface: everything KuiBaDB's bootstrap catalog
  * declares (reference src/bin/initdb/main.rs:464-650 — 186 operators over
  * 8 types; SURVEY §2.2-§2.8) plus the full query-shape envelope reserved
  * by its grammar/enums (joins §2.3, aggregates §2.4 via ProKind::Agg,
  * windows §2.5 via ProKind::Window, sorts/limits §2.6, set ops §2.7),
  * realized Spark-first: declarative DataFrame plans that Catalyst
  * optimizes (pushdown, pruning, join selection, partial aggregation).
  *
  * Scale discipline (100 TB): joins against dimension tables are
  * broadcast explicitly; fact-fact joins shuffle on their keys and rely on
  * AQE for skew; aggregates are all partial+final (no driver collect);
  * every double aggregate goes through DECIMAL(38,10) so re-aggregation
  * across any partition count is exact and deterministic (Engine.dsum).
  */
object Relational {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Engine.table(s, d, n)

  /** Co-occurrence pairs over (basket, item) rows with the degenerate-
    * basket discipline (q69; spec: RelationalSpec "degenerate basket").
    *
    * Input must be DISTINCT (l_orderkey, p_brand) rows. Baskets with more
    * than `maxBasket` distinct brands are dropped whole — C(b,2) growth
    * means one hub basket otherwise dominates the stage (the Dedup
    * maxBucket skew class); the drop list is tiny by definition, so it
    * anti-joins as a broadcast. Brands in fewer than `minSupport` baskets
    * are a-priori-pruned (no semantic effect: a surviving pair needs both
    * brands in >= minSupport shared baskets). Pairs are then generated
    * ARRAY-LOCALLY from each capped, sorted basket — the self-join is
    * gone, per-task input is bounded by C(maxBasket,2), and the only
    * wide pair-space operation left is the final (brand_a, brand_b)
    * count, whose key space is bounded by the brand-vocabulary square.
    */
  /** Exact interpolated median per group, bounded-state form (q59; spec:
    * RelationalSpec "q59 rollup"). Returns (key, med2 = v_lo + v_hi),
    * i.e. TWICE the median, an exact Long (no doubles until emission).
    *
    * Spark's exact `percentile` collects every group value into one
    * aggregation buffer — per-group state linear in group size, an OOM
    * class at 100 TB. This form rolls up to counts per DISTINCT value
    * (state bounded by the value-domain cardinality), takes a cumulative
    * count over the value order, and reads the two middle order
    * statistics as "min value whose cumulative count reaches k" — exact
    * for any integral column, and every stage (agg, window sort) spills.
    */
  /** Exact interpolated median per group from a WEIGHTED value rollup
    * (key, v, w): cumulative weight over the value order reads the two
    * middle order statistics as "min v whose cumulative weight reaches
    * k". Returns (key, med2 = v_lo + v_hi) — TWICE the median, an exact
    * Long (no doubles until emission). */
  private def median2FromCounts(cnt: DataFrame, key: String, v: String,
      w: String): DataFrame = {
    val cum = cnt
      .withColumn("cum", sum(w).over(Window.partitionBy(key).orderBy(col(v))))
      .withColumn("n", sum(w).over(Window.partitionBy(key)))
    // k-th smallest = min v with cum >= k; middle ranks (n+1) div 2 and
    // n div 2 + 1 (equal when n is odd)
    cum.groupBy(key).agg(
      (min(when(col("cum") >= expr("(n + 1) div 2"), col(v)))
        + min(when(col("cum") >= expr("n div 2 + 1"), col(v)))).as("med2"))
  }

  /** Driver-local fold limit for [[madOutliers]]: 1M (brand, pc)
    * groups. q59 runs 3324 ms against 4854 ms for the distributed arm,
    * 1.46x (sf0.1, local[4], median of 5 interleaved warm build+collect
    * pairs, rows equal; 1.61x in an earlier set): at the 1.5x bar. */
  private val DriverMaxGroups = 1000000L

  /** q59 body over (p_brand, pc integer-cents) rows: median + MAD +
    * outlier counts, bounded-state form (spec: RelationalSpec "q59
    * rollup"). Spark's exact `percentile` collects every group value
    * into one aggregation buffer — per-group state linear in group
    * size, an OOM class at 100 TB. Here the fact table collapses in
    * ONE pass to counts per distinct value (state bounded by the
    * price-domain cardinality; the exchange is identical across its
    * three consumers, so runtime ReusedExchange keeps it one scan),
    * and every later stat — both medians, n, n_out — derives from the
    * WEIGHTED rollup via spillable window/agg stages. Arithmetic runs
    * in exact integers scaled x2/x4 (dev > 3*mad, i.e. dev2/2 >
    * 3*mad4/4, compares as 2*dev2 > 3*mad4); emission is the exact
    * 2-adic doubles the oracle's quantile_cont produces. */
  def madOutliers(j: DataFrame): DataFrame = {
    // r18 A/B note: an eager MEMORY_AND_DISK persist of this rollup
    // (so its three consumers read a cache instead of re-planning the
    // subtree) was tried and MEASURED SLOWER — min-of-3 warm 8.1 s vs
    // 4.2 s on the same host at sf0.1 — because runtime ReusedExchange
    // already dedupes the identical rollup exchange across the
    // broadcast subqueries, and the cache write + InMemoryTableScan
    // reads cost more than they save. Left as the static-replan /
    // runtime-reuse shape deliberately.
    // pc widens to Long here (count's c already is), so both regimes
    // take any integral pc: madOutliersLocal reads the rollup with
    // getLong, which throws on an IntegerType column
    val cnt = j.groupBy(col("p_brand"), col("pc").cast(LongType).as("pc"))
      .agg(count(lit(1)).as("c"))
    // r19 dual-regime (the d05/BPE/graph/kmeans size-threshold pattern):
    // the rollup is value-domain bounded (|brands| x |price domain|,
    // 599k rows at sf0.1), and the probe split showed the rollup itself
    // at ~1.0 s of a 4.3 s warm run — 3+ s went to the downstream
    // median windows / broadcast joins / final agg over that SMALL
    // frame, fixed per-query overhead at any corpus size. At or below
    // a MEASURED 1M groups (Engine.driverLocal) the whole post-rollup
    // derivation folds driver-locally over ONE collect of the rollup;
    // above it the bounded-state distributed form below is
    // byte-unchanged (the 100 TB path: the price-domain cardinality
    // grows with |part|, so decade scales stay distributed). The gate's
    // count is memoized on the rollup plan — at most one count per plan
    // per session, the Graph/kmeans discipline. Parity pinned by
    // RelationalSpec's forced-distributed q59 tests.
    // Gate-cost note (review finding): a COLD below-threshold call
    // executes the rollup twice (the gate count, then the collect —
    // separate jobs share no exchange); warm calls memo-hit the count
    // and pay one execution. The graph one-shots avoid this with a
    // cut-and-reuse gate, but here the distributed arm must NOT
    // consume a materialized rollup (the r18 A/B refuted exactly that
    // persist — ReusedExchange replanning won), so an eager cut would
    // trade a one-time +1 rollup cold for a per-invocation |cnt| block
    // write on the 100 TB path. Count-then-collect is the right side
    // of that trade.
    if (Engine.driverLocal(cnt, DriverMaxGroups)(cnt.count()))
      return madOutliersLocal(cnt)
    val m = median2FromCounts(cnt, "p_brand", "pc", "c")
    val dvc = cnt.join(broadcast(m), "p_brand")
      .select(col("p_brand"), col("med2"),
        abs(lit(2L) * col("pc") - col("med2")).as("dev2"), col("c"))
    val dc = dvc.groupBy("p_brand", "dev2").agg(sum("c").as("c"))
    val a = median2FromCounts(dc, "p_brand", "dev2", "c")
      .withColumnRenamed("med2", "mad4")
    dvc.join(broadcast(a), "p_brand")
      .groupBy(col("p_brand"), col("med2"), col("mad4"))
      .agg(sum(col("c")).as("n"),
        sum(when(lit(2L) * col("dev2") > lit(3L) * col("mad4"), col("c"))
          .otherwise(0L)).as("n_out"))
      .select(col("p_brand"), col("n"),
        (col("med2").cast(DoubleType) / 2).as("med_cents"),
        (col("mad4").cast(DoubleType) / 4).as("mad_cents"),
        col("n_out"))
  }

  /** Driver-local twin of [[madOutliers]]' post-rollup derivation —
    * identical values by construction over the collected (p_brand, pc,
    * c) rollup: the same weighted two-middle-order-statistics median
    * ((n+1) div 2 / n div 2 + 1 over the ascending value order, exact
    * Long x2/x4 arithmetic), the same (p_brand, dev2) re-rollup for the
    * MAD, the same 2*dev2 > 3*mad4 outlier predicate, and the same
    * med2/2, mad4/4 double emission (a Long→Double cast is the one
    * Spark's `cast(DoubleType)` performs). Output is |brands| rows as a
    * local relation. */
  private def madOutliersLocal(cnt: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    val spark = cnt.sparkSession
    val rows = cnt.collect()
    // weighted (v_lo + v_hi) median over (value, weight) pairs — the
    // median2FromCounts fold: k-th smallest = min v with cum >= k
    def median2(pairs: Array[(Long, Long)]): Long = {
      val sorted = pairs.sortBy(_._1)
      var n = 0L
      sorted.foreach(n += _._2)
      val lo = (n + 1) / 2
      val hi = n / 2 + 1
      var cum = 0L; var vLo = 0L; var vHi = 0L
      var gotLo = false; var gotHi = false
      var i = 0
      while (i < sorted.length && !gotHi) {
        cum += sorted(i)._2
        if (!gotLo && cum >= lo) { vLo = sorted(i)._1; gotLo = true }
        if (!gotHi && cum >= hi) { vHi = sorted(i)._1; gotHi = true }
        i += 1
      }
      vLo + vHi
    }
    val out = rows.groupBy(_.getString(0)).toSeq.map { case (brand, rs) =>
      val pcs = rs.map(r => (r.getLong(1), r.getLong(2)))
      val med2 = median2(pcs)
      val devAgg = new scala.collection.mutable.HashMap[Long, Long]()
      pcs.foreach { case (pc, c) =>
        val d = math.abs(2L * pc - med2)
        devAgg(d) = devAgg.getOrElse(d, 0L) + c
      }
      val mad4 = median2(devAgg.toArray)
      var n = 0L; var nOut = 0L
      devAgg.foreach { case (d, c) =>
        n += c
        if (2L * d > 3L * mad4) nOut += c
      }
      Row(brand, n, med2.toDouble / 2, mad4.toDouble / 4, nOut)
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), StructType(Seq(
      StructField("p_brand", StringType),
      StructField("n", LongType),
      StructField("med_cents", DoubleType),
      StructField("mad_cents", DoubleType),
      StructField("n_out", LongType))))
  }

  def marketBasketPairs(b: DataFrame, maxBasket: Int, minSupport: Long): DataFrame = {
    // materialize the (basket, item) input ONCE: it feeds THREE
    // consumers (the cap aggregate, the support aggregate, and the
    // basket build) whose aggregate shapes differ, so exchange reuse
    // only dedupes the shuffle write — each consumer still re-ran the
    // distinct aggregation over 55M rows at sf10 (measured with the
    // q69Diag probe, deleted after a1c96e4: input 13.7 s warm, basket
    // stage 38 s ~ 3x). DISK_ONLY persist, not
    // Engine.cut: the frame is corpus-sized, so deserialized
    // executor-memory blocks OOM a small heap, while disk blocks cost
    // one write + three local reads; lineage stays intact (executor
    // loss recomputes — this is a DAG, not a fixpoint, so checkpoint
    // durability semantics are not needed). The eager count forces the
    // write so all three consumers read, never race to compute.
    //
    // The persist must NOT outlive this call (r14 verdict: the leaked
    // DISK_ONLY frame accumulated one corpus-sized block set per
    // invocation for the session lifetime, and CacheManager's
    // analyzed-plan matching let a warm bench run read the previous
    // run's blocks — flattering the recorded time by the input build
    // it prices at 3x the basket stage). The OUTPUT is value-domain
    // bounded — at most |brands|^2/2 rows survive the support filter,
    // and p_brand is a ~25-value domain — so it materializes eagerly
    // to a local relation (the k-/domain-bounded collect class) and
    // the input blocks release in a finally: every invocation honestly
    // pays one write + three reads, and no cache entry survives the
    // call (pinned by Q69CacheSpec).
    // r19 (verdict item: q69's DISK_ONLY persist was the suite's single
    // biggest driver-visible I/O exposure — 33.7/144.1 s guard spikes on
    // a slow-disk window against a 2.4 s record). The input frame is
    // already the minimal 2-column projection (l_orderkey, p_brand — both
    // consumers read both columns, nothing to narrow), so the dials are:
    //  (a) storage level MEMORY_AND_DISK — the frame is cached as
    //      compressed COLUMNAR batches (InMemoryRelation), so
    //      MEMORY_AND_DISK keeps the gate-scale working set in
    //      evictable storage memory (no disk dependency on the bench
    //      path) and degrades per-block to disk under pressure at scale
    //      — storage memory evicts, it does not OOM (unlike the
    //      deserialized localCheckpoint blocks the r14 note rejected);
    //  (b) the cap and support aggregates fold into ONE grouping-sets
    //      pass below (3 reads of the persisted frame -> 2).
    val bc = b.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      bc.count()
      // one grouping-sets aggregate serves BOTH the degenerate-basket cap
      // and the support floor: runtime ReusedExchange dedupes the shared
      // expand+partial-agg exchange across the two broadcast subtrees
      // (the q59 reuse property), so the persisted frame is read once
      // here instead of once per aggregate. Keys are non-null by schema;
      // grouping_id() picks the set ((l_orderkey)=01b, (p_brand)=10b).
      val gs = bc.groupingSets(
          Seq(Seq(col("l_orderkey")), Seq(col("p_brand"))),
          col("l_orderkey"), col("p_brand"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
      val bad = gs.filter(col("gid") === 1 && col("n") > maxBasket)
        .select("l_orderkey")
      val freq = gs.filter(col("gid") === 2 && col("n") >= minSupport)
        .select("p_brand")
      val baskets = bc
        .join(broadcast(bad), Seq("l_orderkey"), "left_anti")
        .join(broadcast(freq), Seq("p_brand"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
      val pairs = baskets
        .select(explode(flatten(transform(col("bs"), (x, i) =>
          transform(slice(col("bs"), (i + lit(2)).cast(IntegerType), size(col("bs"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
        .groupBy(col("p.a").as("brand_a"), col("p.b").as("brand_b"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= minSupport)
      val rows = pairs.collect()
      pairs.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), pairs.schema)
    } finally bc.unpersist(blocking = false)
  }

  /** Revenue expression: l_extendedprice * (1 - l_discount). Per-row double
    * math — bit-deterministic, matching the oracle's identical expression. */
  private val revenue: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
  private val orevenue = "l_extendedprice * (1.0 - l_discount)"

  val defs: Seq[GQ] = Seq(

    // ---- the reference's ONLY executable query shape: constant
    // projection without FROM (Plan::Result, optimizer.rs:51-62,
    // executor.rs:247-282) — OneRowRelation + Catalyst constant folding.
    // Exercises the implemented fmgr surface: int4pl/mi/mul/div semantics
    // (adt.rs) and the CSE the reference does at executor-init
    // (executor.rs:194-211; free in codegen here).
    GQ.sql("q00_const_projection", """SELECT 1 + 2 AS three, 7 * 6 - 2 AS forty,
          CAST(7 / 2 AS DOUBLE) AS three_five,
          -5 AS neg, abs(-5) AS abs5,
          CAST('42' AS INT) AS in42, CAST(42 AS VARCHAR(10)) AS out42,
          'a' || 'b' AS cat, 1 < 2 AS lt"""),

    // ---- scan + filter + aggregate (TPC-H Q1 shape) --------------------
    // Filter reaches the Parquet scan (PushedFilters); agg is partial+final.
    GQ("q01_pricing_summary",
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${osum("l_quantity")} AS sum_qty,
        ${osum("l_extendedprice")} AS sum_base_price,
        ${osum(orevenue)} AS sum_disc_price,
        ${osum(s"$orevenue * (1.0 + l_tax)")} AS sum_charge,
        ${oavg("l_quantity")} AS avg_qty,
        COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus"""),
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1999-12-01 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(revenue).as("sum_disc_price"),
          dsum(revenue * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))),

    // ---- projection + CASE (the reference's Result node, generalized:
    // executor.rs:247-282 evaluates a target list; here over a scan) ------
    GQ("q02_project_case",
      Some(s"""SELECT l_orderkey, l_linenumber,
        l_quantity * 2.0 AS qty2,
        $orevenue AS disc_price,
        CASE WHEN l_returnflag = 'R' THEN 'returned'
             WHEN l_returnflag = 'A' THEN 'ack' ELSE 'none' END AS flag_desc
        FROM lineitem"""),
      (s, d) => t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") * 2.0).as("qty2"),
        revenue.as("disc_price"),
        when(col("l_returnflag") === "R", lit("returned"))
          .when(col("l_returnflag") === "A", lit("ack"))
          .otherwise(lit("none")).as("flag_desc"))),

    // ---- join + agg + top-k (orderBy+limit -> TakeOrderedAndProject) ----
    GQ("q03_top_orders",
      Some(s"""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, revenue
        FROM (SELECT l_orderkey, ${osum(orevenue)} AS revenue
              FROM lineitem GROUP BY l_orderkey) r
        JOIN orders ON o_orderkey = l_orderkey
        ORDER BY revenue DESC, o_orderkey LIMIT 10"""),
      (s, d) => {
        val rev = t(s, d, "lineitem").groupBy("l_orderkey")
          .agg(dsum(revenue).as("revenue"))
        t(s, d, "orders")
          .join(rev, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderkey"), col("o_orderdate").cast(DateType).as("order_date"),
            col("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      }),

    // ---- broadcast join with a dimension table -------------------------
    GQ("q04_brand_volume",
      Some(s"""SELECT p_brand, ${osum("l_quantity")} AS sum_qty, COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand"""),
      (s, d) => t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))),

    // ---- 5-way star join (region->nation->customer->orders->lineitem) --
    GQ("q05_nation_revenue",
      Some(s"""SELECT r_name, n_name, ${osum(orevenue)} AS revenue, COUNT(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name"""),
      (s, d) => t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(dsum(revenue).as("revenue"), count(lit(1)).as("n_items"))),

    // ---- TPC-H Q7 shape: 6-way join, nation joined TWICE under
    // different roles (supplier vs customer side), cross-border filter.
    // Both nation arms broadcast; the fact-side lineage shuffles once
    // per fact-fact equi key and the 25x24x|years| result is tiny. ----
    GQ("q62_trade_matrix",
      Some(s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
               ${osum(orevenue)} AS revenue, COUNT(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE sn.n_name <> cn.n_name
        GROUP BY 1, 2, 3"""),
      (s, d) => t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")
            .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .join(broadcast(t(s, d, "nation")
            .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("cn_key"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast(IntegerType).as("l_year"))
        .agg(dsum(revenue).as("revenue"), count(lit(1)).as("n_items"))),

    // ---- pushdown-heavy single-table filter + global agg (Q6 shape) ----
    GQ("q06_revenue_delta",
      Some(s"""SELECT ${osum("l_extendedprice * l_discount")} AS promo_revenue,
        COUNT(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.02 AND 0.06
          AND l_quantity < 24.0"""),
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")) &&
          col("l_discount").between(0.02, 0.06) && col("l_quantity") < 24.0)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("promo_revenue"),
          count(lit(1)).as("n"))),

    // ---- semi join (EXISTS) --------------------------------------------
    GQ("q07_orders_with_bulk_items",
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity >= 49.0)"""),
      (s, d) => t(s, d, "orders")
        .join(t(s, d, "lineitem").filter(col("l_quantity") >= 49.0),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")),

    // ---- anti join (NOT EXISTS) ----------------------------------------
    GQ("q08_customers_without_bulk_orders",
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)"""),
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 300000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),

    // ---- window: ranking (ProKind::Window reserved, catalog.rs:129-133) -
    GQ("q09_top2_orders_per_customer",
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= 2"""),
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w).cast(LongType))
          .filter(col("rn") <= 2)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      }),

    // ---- window: running aggregate (decimal-exact frames) --------------
    // ORDER BY totality: the synthetic lineitem does NOT have unique
    // (l_orderkey, l_linenumber) — at sf0.1 one group even ties on the
    // full (suppkey, shipdate, orderkey, linenumber) key, making the
    // ROWS-frame running sum tie-ORDER-dependent (observed: the DuckDB
    // oracle itself flipped 7728/7731 across runs with parallel scan
    // order). l_quantity as the final key makes the output MULTISET
    // deterministic: rows still tied are fully identical in every
    // output column and contribute equal increments, so any tie order
    // yields the same rows.
    GQ("q10_running_qty_by_supplier",
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10)))
               OVER (PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(38,6)) AS DOUBLE) AS run_qty
        FROM lineitem"""),
      (s, d) => {
        val w = Window.partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "lineitem").select(
          col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          Engine.decOut(sum(Engine.exactDec(col("l_quantity"))).over(w)).as("run_qty"))
      }),

    // ---- set operations: UNION / EXCEPT / INTERSECT (SURVEY §2.7) ------
    GQ("q11_setops",
      Some("""SELECT 'ue' AS tag, k FROM (
          (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
           UNION
           SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0.0)
          EXCEPT
          SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000.0)
        UNION ALL
        SELECT 'ix' AS tag, k FROM (
          SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
          INTERSECT
          SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000.0)"""),
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        val a = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
        val b = c.filter(col("c_acctbal") < 0.0).select(col("c_custkey").as("k"))
        val x = o.filter(col("o_totalprice") > 400000.0).select(col("o_custkey").as("k"))
        a.union(b).distinct().except(x).withColumn("tag", lit("ue"))
          .unionByName(a.intersect(x).withColumn("tag", lit("ix")))
          .select("tag", "k")
      }),

    // ---- exact distinct aggregation ------------------------------------
    GQ("q12_distinct_parts_suppliers",
      Some("""SELECT l_returnflag,
          COUNT(DISTINCT l_partkey) AS n_parts,
          COUNT(DISTINCT l_suppkey) AS n_supps,
          COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag"""),
      (s, d) => t(s, d, "lineitem").groupBy("l_returnflag").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))),

    // ---- rollup (grouping sets family) ---------------------------------
    GQ("q13_rollup_status",
      Some(s"""SELECT l_returnflag, l_linestatus,
          COUNT(*) AS n, ${osum("l_quantity")} AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""),
      (s, d) => t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))),

    // ---- CASE bucketing + HAVING ---------------------------------------
    GQ("q14_priority_buckets",
      Some("""SELECT o_orderpriority,
          CASE WHEN o_totalprice < 100000.0 THEN 'small'
               WHEN o_totalprice < 300000.0 THEN 'mid' ELSE 'big' END AS bucket,
          COUNT(*) AS n
        FROM orders
        GROUP BY 1, 2 HAVING COUNT(*) >= 5"""),
      (s, d) => t(s, d, "orders")
        .groupBy(col("o_orderpriority"),
          when(col("o_totalprice") < 100000.0, lit("small"))
            .when(col("o_totalprice") < 300000.0, lit("mid"))
            .otherwise(lit("big")).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 5)),

    // ---- scalar arithmetic parity (§2.8: int4pl/mi/mul/div, %, abs, neg;
    // adt.rs:108-212) — all computed as native codegen'd expressions ------
    GQ("q15_int_arithmetic",
      Some("""SELECT l_orderkey AS k, l_linenumber AS ln,
          l_orderkey + l_linenumber AS add8,
          l_orderkey - l_linenumber AS sub8,
          l_orderkey * 3 AS mul8,
          CAST(l_orderkey // 7 AS BIGINT) AS div8,
          l_orderkey % 7 AS mod8,
          -l_orderkey AS neg8,
          CAST(abs(l_linenumber - 4) AS INT) AS abs4
        FROM lineitem"""),
      (s, d) => t(s, d, "lineitem").select(
        col("l_orderkey").as("k"), col("l_linenumber").as("ln"),
        pgAdd(col("l_orderkey"), col("l_linenumber")).as("add8"),
        pgSub(col("l_orderkey"), col("l_linenumber")).as("sub8"),
        pgMul(col("l_orderkey"), lit(3L)).as("mul8"),
        pgDiv(col("l_orderkey"), lit(7L)).cast(LongType).as("div8"),
        pgMod(col("l_orderkey"), lit(7L)).as("mod8"),
        pgNeg(col("l_orderkey")).as("neg8"),
        pgAbs(col("l_linenumber") - lit(4)).cast(IntegerType).as("abs4"))),

    // ---- math functions (|/ sqrt, ||/ cbrt, ^ pow, ! factorial;
    // initdb:550-586,481-482) — libm-adjacent outputs rounded to 6dp -----
    GQ("q16_math_functions",
      Some("""SELECT p_partkey,
          sqrt(p_retailprice) AS sqrt_price,
          round(cbrt(p_retailprice), 6) AS cbrt_price,
          round(pow(CAST(p_size AS DOUBLE), 2.0), 6) AS pow_size,
          round(ln(p_retailprice), 6) AS ln_price,
          CAST(factorial(p_size % 10) AS BIGINT) AS fact_size,
          CAST(floor(p_retailprice) AS BIGINT) AS floor_price,
          CAST(ceil(p_retailprice) AS BIGINT) AS ceil_price,
          CAST(sign(p_retailprice - 950.0) AS DOUBLE) AS sign_delta
        FROM part"""),
      (s, d) => t(s, d, "part").select(
        col("p_partkey"),
        pgSqrt(col("p_retailprice")).as("sqrt_price"),
        round(pgCbrt(col("p_retailprice")), 6).as("cbrt_price"),
        round(pgPow(col("p_size").cast(DoubleType), lit(2.0)), 6).as("pow_size"),
        round(log(col("p_retailprice")), 6).as("ln_price"),
        pgFactorial(pgMod(col("p_size"), lit(10))).cast(LongType).as("fact_size"),
        floor(col("p_retailprice")).as("floor_price"),
        ceil(col("p_retailprice")).as("ceil_price"),
        signum(col("p_retailprice") - 950.0).as("sign_delta"))),

    // ---- bitwise & | # ~ << >> (initdb:619-636) ------------------------
    GQ("q17_bitwise",
      Some("""SELECT l_orderkey AS k, l_linenumber AS ln,
          l_orderkey & CAST(l_linenumber AS BIGINT) AS band,
          l_orderkey | CAST(l_linenumber AS BIGINT) AS bor,
          xor(l_orderkey, CAST(l_linenumber AS BIGINT)) AS bxor,
          ~l_orderkey AS bnot,
          CAST(l_linenumber << 3 AS INT) AS shl,
          CAST(l_orderkey >> 2 AS BIGINT) AS shr,
          CAST(bit_count(l_orderkey) AS INT) AS popcnt
        FROM lineitem"""),
      (s, d) => t(s, d, "lineitem").select(
        col("l_orderkey").as("k"), col("l_linenumber").as("ln"),
        pgBitAnd(col("l_orderkey"), col("l_linenumber").cast(LongType)).as("band"),
        pgBitOr(col("l_orderkey"), col("l_linenumber").cast(LongType)).as("bor"),
        pgBitXor(col("l_orderkey"), col("l_linenumber").cast(LongType)).as("bxor"),
        pgBitNot(col("l_orderkey")).as("bnot"),
        pgShiftLeft(col("l_linenumber"), lit(3)).cast(IntegerType).as("shl"),
        pgShiftRight(col("l_orderkey"), lit(2)).cast(LongType).as("shr"),
        bit_count(col("l_orderkey")).cast(IntegerType).as("popcnt"))),

    // ---- string ops (|| concat, ~~ LIKE; initdb:648-650 + varchar procs)
    GQ("q18_string_functions",
      Some("""SELECT p_partkey,
          upper(p_name) AS up, lower(p_type) AS lo,
          CAST(length(p_name) AS INT) AS len,
          substring(p_name, 1, 4) AS sub,
          p_brand || '#' || p_type AS cat,
          replace(p_name, ' ', '_') AS rep,
          p_name LIKE '%red%' AS has_red,
          CAST(strpos(p_name, 'e') AS INT) AS pos_e,
          split_part(p_name, ' ', 1) AS first_word,
          lpad(p_brand, 10, '*') AS padded,
          reverse(p_name) AS rev,
          trim(substring(p_name, 2, 6)) AS trimmed
        FROM part"""),
      (s, d) => t(s, d, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("up"), lower(col("p_type")).as("lo"),
        length(col("p_name")).cast(IntegerType).as("len"),
        substring(col("p_name"), 1, 4).as("sub"),
        pgConcat(col("p_brand"), lit("#"), col("p_type")).as("cat"),
        regexp_replace(col("p_name"), lit(" "), lit("_")).as("rep"),
        pgLike(col("p_name"), "%red%").as("has_red"),
        instr(col("p_name"), "e").cast(IntegerType).as("pos_e"),
        split_part(col("p_name"), lit(" "), lit(1)).as("first_word"),
        lpad(col("p_brand"), 10, "*").as("padded"),
        reverse(col("p_name")).as("rev"),
        trim(substring(col("p_name"), 2, 6)).as("trimmed"))),

    // ---- type I/O parity (typinput/typoutput procs; adt.rs:120-176) ----
    GQ("q19_type_io",
      Some("""SELECT o_orderkey,
          CAST(o_orderkey AS VARCHAR) AS key_str,
          CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
          CAST(o_totalprice > 250000.0 AS VARCHAR) AS big_str,
          CASE WHEN o_totalprice > 250000.0 THEN 't' ELSE 'f' END AS big_pg,
          CAST(round(o_totalprice) AS BIGINT) AS price_int,
          CAST(o_orderdate AS DATE) AS order_date,
          CAST(o_orderdate AS VARCHAR) AS date_str
        FROM orders"""),
      (s, d) => t(s, d, "orders").select(
        col("o_orderkey"),
        pgOut(col("o_orderkey")).as("key_str"),
        pgIn(pgOut(col("o_orderkey")), LongType).as("key_roundtrip"),
        pgOut(col("o_totalprice") > 250000.0).as("big_str"),
        pgBoolOut(col("o_totalprice") > 250000.0).as("big_pg"),
        round(col("o_totalprice")).cast(LongType).as("price_int"),
        col("o_orderdate").cast(DateType).as("order_date"),
        pgOut(col("o_orderdate")).as("date_str"))),

    // ---- agg-subquery join (avg-comparison; Q17 flavor) ----------------
    GQ("q20_above_avg_parts",
      Some(s"""SELECT p_partkey, p_type, p_retailprice
        FROM part JOIN (SELECT p_type AS t2, ${oavg("p_retailprice")} AS avg_price
                        FROM part GROUP BY p_type) a
          ON p_type = t2
        WHERE p_retailprice > 1.005 * avg_price"""),
      (s, d) => {
        val p = t(s, d, "part")
        val a = p.groupBy(col("p_type").as("t2"))
          .agg(davg(col("p_retailprice")).as("avg_price"))
        p.join(broadcast(a), col("p_type") === col("t2"))
          .filter(col("p_retailprice") > lit(1.005) * col("avg_price"))
          .select("p_partkey", "p_type", "p_retailprice")
      }),

    // ---- IN-subquery (semi join) ---------------------------------------
    GQ("q21_orders_of_rich_customers",
      Some("""SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0)"""),
      (s, d) => t(s, d, "orders")
        .join(t(s, d, "customer").filter(col("c_acctbal") > 9000.0),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_custkey")),

    // ---- date/time functions (new-surface: reference has no date type,
    // SURVEY §1.3 — required by the driver testdata's timestamp columns) --
    GQ("q22_date_functions",
      Some("""SELECT o_orderkey,
          CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
          CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
          CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS dy,
          CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
          CAST(o_orderdate AS DATE) + 7 AS next_week,
          CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since
        FROM orders"""),
      (s, d) => t(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast(IntegerType).as("yr"),
        month(col("o_orderdate")).cast(IntegerType).as("mo"),
        dayofmonth(col("o_orderdate")).cast(IntegerType).as("dy"),
        date_trunc("month", col("o_orderdate")).cast(DateType).as("month_start"),
        date_add(col("o_orderdate").cast(DateType), 7).as("next_week"),
        datediff(col("o_orderdate").cast(DateType), to_date(lit("1995-01-01")))
          .cast(IntegerType).as("days_since"))),

    // ---- outer join + null-aware aggregation ---------------------------
    GQ("q23_customer_order_stats",
      Some(s"""SELECT c_nationkey,
          COUNT(DISTINCT c_custkey) AS n_customers,
          COUNT(o_orderkey) AS n_orders,
          ${osum("coalesce(o_totalprice, 0.0)")} AS total_spent
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_nationkey"""),
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_nationkey")
        .agg(
          countDistinct(col("c_custkey")).as("n_customers"),
          count(col("o_orderkey")).as("n_orders"),
          dsum(coalesce(col("o_totalprice"), lit(0.0))).as("total_spent"))),

    // ---- multiset set operations (EXCEPT ALL / INTERSECT ALL keep
    // duplicate multiplicity — the semantic counterpart of q11's
    // distinct variants) --------------------------------------------------
    GQ("q45_setops_all",
      Some("""SELECT 'ea' AS tag, k FROM (
          SELECT l_suppkey AS k FROM lineitem WHERE l_quantity >= 45.0
          EXCEPT ALL
          SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R')
        UNION ALL
        SELECT 'ia' AS tag, k FROM (
          SELECT l_suppkey AS k FROM lineitem WHERE l_quantity >= 45.0
          INTERSECT ALL
          SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R')"""),
      (s, d) => {
        val li = t(s, d, "lineitem")
        val a = li.filter(col("l_quantity") >= 45.0).select(col("l_suppkey").as("k"))
        val b = li.filter(col("l_returnflag") === "R").select(col("l_suppkey").as("k"))
        a.exceptAll(b).withColumn("tag", lit("ea"))
          .unionByName(a.intersectAll(b).withColumn("tag", lit("ia")))
          .select("tag", "k")
      }),

    // ---- full outer join (both-sides-preserved; completes the §2.3
    // join-type family alongside inner/left/semi/anti/as-of/range) -------
    GQ("q46_full_outer_join",
      Some("""SELECT n_name, c_cnt, s_cnt FROM (
          SELECT n_nationkey AS ck, COUNT(*) AS c_cnt FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          WHERE c_acctbal > 9900.0 GROUP BY 1) c
        FULL OUTER JOIN (
          SELECT n_nationkey AS sk, COUNT(*) AS s_cnt FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          WHERE s_acctbal > 9000.0 GROUP BY 1) s
        ON c.ck = s.sk
        JOIN nation ON n_nationkey = COALESCE(c.ck, s.sk)"""),
      (s, d) => {
        val n = broadcast(t(s, d, "nation"))
        val c = t(s, d, "customer").filter(col("c_acctbal") > 9900.0)
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_nationkey").as("ck")).agg(count(lit(1)).as("c_cnt"))
        val sup = t(s, d, "supplier").filter(col("s_acctbal") > 9000.0)
          .join(n, col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_nationkey").as("sk")).agg(count(lit(1)).as("s_cnt"))
        c.join(sup, col("ck") === col("sk"), "full_outer")
          .join(n, col("n_nationkey") === coalesce(col("ck"), col("sk")))
          .select("n_name", "c_cnt", "s_cnt")
      }),

    // value-RANGE window frame (vs q10's ROWS frame and e11's interval
    // RANGE frame): peers within +-1000.0 of each row's price, per
    // customer. One shuffle on the partition key; the frame itself is a
    // sliding bound over the sorted run, not a per-row re-scan. Sum goes
    // through DECIMAL(38,10) so frame re-association under any partition
    // count is exact (Engine.dsum discipline applied to a window).
    GQ("q47_range_frame", {
      val w = """PARTITION BY o_custkey ORDER BY o_totalprice
                 RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING"""
      Some(s"""SELECT o_orderkey, o_custkey, o_totalprice,
          COUNT(*) OVER ($w) AS n_near,
          CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) OVER ($w)
               AS DECIMAL(38,6)) AS DOUBLE) AS sum_near
        FROM orders""")
    },
      (s, d) => {
        val w = """PARTITION BY o_custkey ORDER BY o_totalprice
                   RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING"""
        t(s, d, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          expr(s"COUNT(*) OVER ($w)").as("n_near"),
          Engine.decOut(expr(
            s"SUM(CAST(o_totalprice AS DECIMAL(38,10))) OVER ($w)"))
            .as("sum_near"))
      }),

    // FILTER-clause aggregates (SQL:2003 <filter clause>, PG/DuckDB
    // native syntax): each aggregate sees only its predicate's rows.
    // Spark has no FILTER syntax; the same semantics compile to
    // conditional aggregation — count(when(p, 1)) skips nulls, and the
    // exact-decimal sum wraps a when(p, x) projection. One partial+final
    // aggregation either way; the predicates evaluate inside the scan
    // stage, so no extra pass at any scale.
    GQ("q48_filtered_agg",
      Some(s"""SELECT l_returnflag,
          COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
          ${osum("CASE WHEN l_discount > 0.05 THEN l_extendedprice END")} AS disc_revenue,
          COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag"""),
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(when(col("l_quantity") > 25, lit(1))).as("n_bulk"),
          dsum(when(col("l_discount") > 0.05, col("l_extendedprice")))
            .as("disc_revenue"),
          count(lit(1)).as("n"))),

    // PG window-frame grammar parity: EXCLUDE CURRENT ROW. Spark's
    // window spec has no EXCLUDE clause; the algebraic compilation is
    // frame-aggregate minus the current row's contribution — exact
    // because the subtraction happens in DECIMAL (a double round-trip
    // would reintroduce order sensitivity). A 1-row partition must emit
    // NULL (the excluded frame is empty), not 0 — hence the n_excl
    // guard. Same single shuffle + partition sort as any window.
    GQ("q50_frame_exclude", {
      val w = """PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING"""
      Some(s"""SELECT o_orderkey, o_custkey,
          CAST(COUNT(*) OVER ($w EXCLUDE CURRENT ROW) AS BIGINT) AS n_excl,
          CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
               OVER ($w EXCLUDE CURRENT ROW) AS DECIMAL(38,6)) AS DOUBLE) AS sum_excl
        FROM orders""")
    },
      (s, d) => {
        val w = """PARTITION BY o_custkey ORDER BY o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING"""
        t(s, d, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          (expr(s"COUNT(*) OVER ($w)") - 1).as("n_excl"),
          when(expr(s"COUNT(*) OVER ($w)") > 1, Engine.decOut(
            expr(s"SUM(CAST(o_totalprice AS DECIMAL(38,10))) OVER ($w)")
              - expr("CAST(o_totalprice AS DECIMAL(38,10))")))
            .as("sum_excl"))
      }),

    // PG ordered-set aggregates (WITHIN GROUP): percentile_disc via
    // the bounded count-by-value rollup (Percentiles — Spark's native
    // WITHIN GROUP aggregate collects per-group values, the q59 OOM
    // class); mode() derived as count + row_number with a MIN-value
    // tie-break on both engines (PG leaves the tie implementation-
    // dependent; the derivation pins it so the result is engine-
    // independent). Two shuffles on the group key, both with partial
    // aggregation.
    GQ("q51_ordered_set_aggs",
      Some("""WITH c AS (SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
                FROM orders GROUP BY 1, 2),
          m AS (SELECT o_orderpriority, o_orderstatus AS mode_status FROM (
                  SELECT o_orderpriority, o_orderstatus,
                         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                           ORDER BY cnt DESC, o_orderstatus) AS rn
                  FROM c) WHERE rn = 1),
          p AS (SELECT o_orderpriority,
                  percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)
                    AS median_price
                FROM orders GROUP BY 1)
        SELECT m.o_orderpriority, mode_status, median_price
        FROM m JOIN p USING (o_orderpriority)"""),
      (s, d) => {
        val o = t(s, d, "orders")
        val counts = o.groupBy("o_orderpriority", "o_orderstatus")
          .agg(count(lit(1)).as("cnt"))
        val mode = counts.withColumn("rn", row_number().over(
            Window.partitionBy("o_orderpriority")
              .orderBy(col("cnt").desc, col("o_orderstatus"))))
          .filter(col("rn") === 1)
          .select(col("o_orderpriority"), col("o_orderstatus").as("mode_status"))
        val pc = o.groupBy(col("o_orderpriority"), col("o_totalprice").as("v"))
          .agg(count(lit(1)).as("c"))
        val med = Percentiles.percentileDiscFromCounts(pc,
            Seq("o_orderpriority"), "v", "c", Seq(0.5 -> "median_price"))
          .select(col("o_orderpriority"), col("median_price"))
        mode.join(med, "o_orderpriority")
      }),

    // PG window-frame grammar parity: GROUPS mode (frame bounds count
    // peer GROUPS, not rows). Neither Spark nor DuckDB implements
    // GROUPS; the compilation is the semantic definition itself:
    // dense_rank assigns each peer group an integer, and a value-RANGE
    // frame of +-n over that integer is exactly GROUPS n PRECEDING/
    // FOLLOWING. Same text runs on both engines (the d05/q44 scheme:
    // the oracle is the definition). Cost: two window passes over ONE
    // shuffle+sort on (partition, order) — dense_rank and the RANGE
    // aggregate share the same ordering.
    GQ.sql("q53_groups_frame", """WITH g AS (SELECT o_orderkey, o_orderstatus, o_orderdate,
            DENSE_RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_orderdate) AS dr
          FROM orders)
        SELECT o_orderkey, o_orderstatus,
          CAST(COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY dr
            RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS n_adjacent_days
        FROM g"""),

    // statistical + boolean aggregates (PG surface: stddev_samp /
    // var_samp / corr / covar_samp, bool_and / bool_or). The numeric
    // four are computed from EXACT decimal moments (Σx, Σx², Σxy via
    // Engine.dsum) and then one identical double expression tree on
    // both engines — the builtins would NOT hash-match (Spark and
    // DuckDB use different stable-merge accumulations that differ in
    // low-order bits). Moments are also the right 100 TB shape: plain
    // partial-aggregatable sums, one shuffle, no second pass.
    GQ("q55_stat_aggs", {
      def m(e: String) = osum(e)
      Some(s"""WITH g AS (SELECT l_returnflag, COUNT(*) AS n,
            ${m("l_extendedprice")} AS sx,
            ${m("l_extendedprice * l_extendedprice")} AS sxx,
            ${m("l_quantity")} AS sq,
            ${m("l_quantity * l_quantity")} AS sqq,
            ${m("l_discount")} AS sd,
            ${m("l_extendedprice * l_quantity")} AS sxq,
            ${m("l_extendedprice * l_discount")} AS sxd,
            bool_and(l_quantity > 0) AS all_pos,
            bool_or(l_discount > 0.09) AS any_big_disc
          FROM lineitem GROUP BY 1)
        SELECT l_returnflag, n,
          round(sqrt((sxx - sx * sx / n) / (n - 1)), 4) AS stddev_price,
          round((sqq - sq * sq / n) / (n - 1), 4) AS var_qty,
          round((n * sxq - sx * sq) /
            (sqrt(n * sxx - sx * sx) * sqrt(n * sqq - sq * sq)), 6)
            AS corr_price_qty,
          round((sxd - sx * sd / n) / (n - 1), 4) AS covar_price_disc,
          all_pos, any_big_disc
        FROM g""")
    },
      (s, d) => {
        val g = t(s, d, "lineitem").groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          dsum(col("l_extendedprice")).as("sx"),
          dsum(col("l_extendedprice") * col("l_extendedprice")).as("sxx"),
          dsum(col("l_quantity")).as("sq"),
          dsum(col("l_quantity") * col("l_quantity")).as("sqq"),
          dsum(col("l_discount")).as("sd"),
          dsum(col("l_extendedprice") * col("l_quantity")).as("sxq"),
          dsum(col("l_extendedprice") * col("l_discount")).as("sxd"),
          expr("bool_and(l_quantity > 0)").as("all_pos"),
          expr("bool_or(l_discount > 0.09)").as("any_big_disc"))
        g.select(col("l_returnflag"), col("n"),
          round(sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
            / (col("n") - 1)), 4).as("stddev_price"),
          round((col("sqq") - col("sq") * col("sq") / col("n"))
            / (col("n") - 1), 4).as("var_qty"),
          round((col("n") * col("sxq") - col("sx") * col("sq")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
              * sqrt(col("n") * col("sqq") - col("sq") * col("sq"))), 6)
            .as("corr_price_qty"),
          round((col("sxd") - col("sx") * col("sd") / col("n"))
            / (col("n") - 1), 4).as("covar_price_disc"),
          col("all_pos"), col("any_big_disc"))
      }),

    // group-wise winsorization: clamp a measure to its group's exact
    // [p05, p95] band — the standard outlier treatment before training-
    // statistics aggregation. The band values are DATA values
    // (percentile_disc), so the clamp is engine-exact with no rounding
    // contract. Scale: one exact-percentile aggregation over the group
    // key (groups are few -> the band table broadcasts back over the
    // scan); at extreme group cardinalities the dial is approx_
    // percentile for the band, leaving the clamp itself unchanged.
    GQ("q54_winsorize",
      Some("""WITH b AS (SELECT l_returnflag,
            percentile_disc(0.05) WITHIN GROUP (ORDER BY l_extendedprice) AS lo,
            percentile_disc(0.95) WITHIN GROUP (ORDER BY l_extendedprice) AS hi
          FROM lineitem GROUP BY 1)
        SELECT l_orderkey, l_linenumber, l_returnflag,
               least(greatest(l_extendedprice, lo), hi) AS price_w,
               (l_extendedprice < lo OR l_extendedprice > hi) AS clipped
        FROM lineitem JOIN b USING (l_returnflag)"""),
      (s, d) => {
        val li = t(s, d, "lineitem")
        val pc = li.groupBy(col("l_returnflag"), col("l_extendedprice").as("v"))
          .agg(count(lit(1)).as("c"))
        val bands = Percentiles.percentileDiscFromCounts(pc,
            Seq("l_returnflag"), "v", "c", Seq(0.05 -> "lo", 0.95 -> "hi"))
          .select("l_returnflag", "lo", "hi")
        li.join(broadcast(bands), "l_returnflag").select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          least(greatest(col("l_extendedprice"), col("lo")), col("hi")).as("price_w"),
          (col("l_extendedprice") < col("lo") || col("l_extendedprice") > col("hi"))
            .as("clipped"))
      }),

    // Robust outlier detection: per-brand median-absolute-deviation
    // (q54's complement — winsorize clamps to percentile bands, MAD
    // *counts* the heavy tail robustly). Everything stays engine-exact
    // WITHOUT a rounding contract: prices become integer cents, the
    // exact interpolated median of integers is k/2 (exact in double),
    // deviations are k/2 steps, their median is k/4, and the outlier
    // predicate dev > 3*mad compares exact doubles. The ORACLE keeps
    // the textbook quantile_cont definition; the Spark side (r8 scale
    // fix, see madOutliers) computes the SAME exact medians through a
    // count-by-value rollup + cumulative window — per-group state
    // bounded by the price-domain cardinality instead of the group row
    // count (Spark's exact `percentile` collects every group value into
    // one aggregation buffer: an OOM class at 100 TB). The gate proving
    // both forms hash-identical IS the old-vs-new equivalence check.
    GQ("q59_mad_outliers",
      Some("""WITH j AS (SELECT p_brand,
                 CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc
               FROM lineitem JOIN part ON l_partkey = p_partkey),
          m AS (SELECT p_brand, quantile_cont(pc, 0.5) AS med
                FROM j GROUP BY 1),
          dv AS (SELECT j.p_brand, pc, med, abs(pc - med) AS dev
                 FROM j JOIN m USING (p_brand)),
          a AS (SELECT p_brand, med, quantile_cont(dev, 0.5) AS mad
                FROM dv GROUP BY 1, 2)
        SELECT dv.p_brand, COUNT(*) AS n, a.med AS med_cents,
               a.mad AS mad_cents,
               CAST(SUM(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_out
        FROM dv JOIN a ON dv.p_brand = a.p_brand
        GROUP BY 1, 3, 4"""),
      (s, d) => {
        val j = t(s, d, "lineitem")
          .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"),
            // the price column is stored DOUBLE: x*100 is integral-cents
            // +/- eps, and bare double->long casts DIVERGE cross-engine
            // (Spark truncates, DuckDB rounds) — round(.,0) first is
            // unambiguous because a true .5 tie cannot occur
            round(col("l_extendedprice") * 100, 0).cast(LongType).as("pc"))
        madOutliers(j)
      }),

    // Equi-width histogram (PG width_bucket semantics, written as the
    // explicit formula because DuckDB has no width_bucket and engine-
    // internal implementations may differ by an ulp: one division by
    // the bucket width + floor, identical text both sides, under/
    // overflow buckets 0 and n+1). Bucket counts plus the exact decimal
    // mass per bucket (dsum/osum contract). One scan, one 22-row
    // aggregate — the profiling query that sizes every later range
    // partition at 100 TB.
    GQ("q60_price_histogram",
      Some(s"""SELECT CASE WHEN o_totalprice < 0 THEN 0
               WHEN o_totalprice >= 600000 THEN 21
               ELSE CAST(floor(o_totalprice / 30000) AS INT) + 1 END AS bucket,
               COUNT(*) AS n, ${osum("o_totalprice")} AS mass
        FROM orders GROUP BY 1"""),
      (s, d) => t(s, d, "orders")
        .groupBy(expr("""CASE WHEN o_totalprice < 0 THEN 0
               WHEN o_totalprice >= 600000 THEN 21
               ELSE CAST(floor(o_totalprice / 30000) AS INT) + 1 END""")
          .as("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("mass"))),

    // Customer reorder cadence — the e17 gap-percentile contract on the
    // relational side: days between a customer's consecutive orders,
    // profiled per market segment with exact interpolated percentiles
    // (gap days are exact integers; round 6 on emission). The lag
    // window partitions per customer — bounded task input — and the
    // percentiles run through the count-by-value rollup (Percentiles):
    // per-segment state bounded by the gap-day domain, not row count.
    GQ("q61_reorder_gaps",
      Some("""WITH g AS (SELECT c_mktsegment,
                 datediff('day', lag(o_orderdate) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey), o_orderdate) AS gap_d
               FROM orders JOIN customer ON o_custkey = c_custkey)
        SELECT c_mktsegment, COUNT(gap_d) AS n_gaps,
               round(quantile_cont(CAST(gap_d AS DOUBLE), 0.5), 6) AS p50_days,
               round(quantile_cont(CAST(gap_d AS DOUBLE), 0.9), 6) AS p90_days
        FROM g WHERE gap_d IS NOT NULL GROUP BY 1"""),
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val g = t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"),
            datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
              .as("gap_d"))
        val cnt = g.filter(col("gap_d").isNotNull)
          .groupBy(col("c_mktsegment"), col("gap_d").cast(DoubleType).as("gd"))
          .agg(count(lit(1)).as("c"))
        Percentiles.percentilesFromCounts(cnt, Seq("c_mktsegment"), "gd", "c",
            Seq(0.5 -> "p50", 0.9 -> "p90"))
          .select(col("c_mktsegment"), col("n_rows").as("n_gaps"),
            round(col("p50"), 6).as("p50_days"),
            round(col("p90"), 6).as("p90_days"))
      }),

    // Customer acquisition curve — new customers per first-order month
    // and the cumulative total: the growth chart every analytics engine
    // must produce. Two exact integer aggregations (per-customer MIN,
    // per-month count); the running sum's single-partition window is
    // over the |months| rollup — driver-size, the p03 justification.
    GQ("q63_acquisition_curve",
      Some("""WITH f AS (SELECT o_custkey,
                 MIN(CAST(date_trunc('month', o_orderdate) AS DATE)) AS m
               FROM orders GROUP BY 1),
          c AS (SELECT m, COUNT(*) AS new_customers FROM f GROUP BY 1)
        SELECT m AS month, new_customers,
               CAST(SUM(new_customers) OVER (ORDER BY m
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_customers
        FROM c"""),
      (s, d) => {
        val f = t(s, d, "orders").groupBy("o_custkey")
          .agg(min(date_trunc("month", col("o_orderdate")).cast(DateType))
            .as("m"))
        val c = f.groupBy("m").agg(count(lit(1)).as("new_customers"))
        c.select(col("m").as("month"), col("new_customers"),
          sum("new_customers").over(Window.orderBy("m")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(LongType).as("cum_customers"))
      }),

    // Relational DIVISION — "customers with an order in EVERY quarter
    // of 1995" (Codd's ÷, the universal-quantification operator the
    // semi/anti family can't express directly). Compiled as the
    // count-matching form: per-customer distinct-quarter count equals
    // the corpus-wide distinct-quarter count (one broadcast scalar) —
    // no per-divisor-row join, so the divisor's size never multiplies
    // the fact side.
    GQ("q64_relational_division",
      Some("""WITH o95 AS (SELECT o_custkey,
                 CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS q
               FROM orders
               WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                 AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'),
          dv AS (SELECT COUNT(DISTINCT q) AS nq FROM o95),
          c AS (SELECT o_custkey, COUNT(DISTINCT q) AS cq FROM o95 GROUP BY 1)
        SELECT o_custkey AS c_custkey, cq AS quarters
        FROM c CROSS JOIN dv WHERE cq = nq"""),
      (s, d) => {
        val o95 = t(s, d, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01 00:00:00")) &&
            col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")))
          .select(col("o_custkey"), quarter(col("o_orderdate")).as("q"))
        val dv = o95.agg(count_distinct(col("q")).as("nq"))
        o95.groupBy("o_custkey").agg(count_distinct(col("q")).as("cq"))
          .crossJoin(broadcast(dv)).filter(col("cq") === col("nq"))
          .select(col("o_custkey").as("c_custkey"), col("cq").as("quarters"))
      }),

    // PG pattern grammar parity: ILIKE (case-insensitive LIKE) and
    // LIKE ... ESCAPE — both in the reference's PG dialect, both
    // codegen'd predicates in one scan pass (no shuffle). The ESCAPE
    // case matches a literal underscore through the '!' escape.
    GQ("q52_pattern_ops",
      Some("""SELECT o_orderkey,
          (o_orderpriority ILIKE '%urgent%') AS is_urgent_i,
          ((o_orderstatus || '_' || o_orderpriority) LIKE 'O!_1%' ESCAPE '!')
            AS open_urgent_esc
        FROM orders"""),
      (s, d) => t(s, d, "orders").select(
        col("o_orderkey"),
        expr("o_orderpriority ILIKE '%urgent%'").as("is_urgent_i"),
        expr("concat(o_orderstatus, '_', o_orderpriority) LIKE 'O!_1%' ESCAPE '!'")
          .as("open_urgent_esc"))),

    // FETCH FIRST n ROWS WITH TIES (the PG limit variant DuckDB lacks
    // as syntax — the oracle uses the equivalent rank() <= n form, the
    // exact definition in the SQL standard). Scale path: NO global-order
    // window (that is one task sorting the corpus). Instead the n-th
    // sort value arrives via TakeOrderedAndProject (n rows to the
    // driver, n a query constant) and the result is one filtered scan —
    // at 100 TB that is a top-n reduction + a pushdown-friendly
    // predicate, not a total sort.
    GQ("q56_fetch_with_ties",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM (
          SELECT l_orderkey, l_linenumber, l_quantity,
                 RANK() OVER (ORDER BY l_quantity DESC) AS rnk
          FROM lineitem) WHERE rnk <= 10"""),
      (s, d) => {
        val li = t(s, d, "lineitem")
        val kth = li.select(col("l_quantity"))
          .orderBy(col("l_quantity").desc).limit(10)
          .collect().last.getDouble(0)
        li.filter(col("l_quantity") >= kth)
          .select("l_orderkey", "l_linenumber", "l_quantity")
      }),

    // LIMIT/OFFSET pagination over a TOTAL order (OFFSET without one is
    // nondeterministic by definition). Spark plans a single
    // TakeOrderedAndProject of offset+limit rows — driver work is the
    // page position times page size, the standard deep-pagination cost.
    GQ("q57_limit_offset",
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 40"""),
      (s, d) => t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .offset(40).limit(20)),

    // The NOT IN null trap — the classic 3VL footgun pinned as a
    // semantic contract: `x NOT IN (subquery containing NULL)` is
    // never TRUE (it is NULL for non-members), while NOT EXISTS gives
    // the intuitive answer. Both forms in one query over the same
    // probe set (order priorities vs a subquery that includes a NULL)
    // — identical text both engines, so any null-semantics regression
    // in either compilation path hash-fails immediately.
    GQ.sql("q58_not_in_null_trap", """WITH probe AS (
          SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderkey < 1000),
        vals AS (SELECT '1-URGENT' AS p UNION ALL SELECT '3-MEDIUM'
                 UNION ALL SELECT CAST(NULL AS VARCHAR(16)))
        SELECT
          (SELECT COUNT(*) FROM probe
           WHERE o_orderpriority NOT IN (SELECT p FROM vals)) AS not_in_with_null,
          (SELECT COUNT(*) FROM probe WHERE NOT EXISTS (
             SELECT 1 FROM vals WHERE vals.p = probe.o_orderpriority))
            AS not_exists,
          (SELECT COUNT(*) FROM probe
           WHERE o_orderpriority NOT IN
             (SELECT p FROM vals WHERE p IS NOT NULL)) AS not_in_clean"""),

    // NULLS FIRST / NULLS LAST ordering pins — the engines' DEFAULTS
    // diverge (Spark: nulls first ASC; PG/DuckDB: nulls last ASC), so
    // any ordered operator compiled without an explicit null placement
    // is a latent cross-engine bug; this query pins both explicit
    // placements from identical text (q24-style passthrough). The
    // window partitions on status — never a global single-task sort.
    GQ.sql("q65_nulls_ordering", """WITH b AS (SELECT o_orderkey, o_orderstatus,
            CASE WHEN o_orderkey % 7 = 0 THEN NULL
                 ELSE o_orderpriority END AS p
          FROM orders)
        SELECT o_orderkey, o_orderstatus, p,
          CAST(row_number() OVER (PARTITION BY o_orderstatus
            ORDER BY p ASC NULLS FIRST, o_orderkey) AS BIGINT) AS rn_nf,
          CAST(row_number() OVER (PARTITION BY o_orderstatus
            ORDER BY p ASC NULLS LAST, o_orderkey) AS BIGINT) AS rn_nl
        FROM b"""),

    // Null-safe comparison pins: IS [NOT] DISTINCT FROM (PG's
    // null-safe equality family) vs plain `=` under 3VL, counted over
    // a probe set with injected NULLs — one text both engines. Plain
    // equality drops null pairs (UNKNOWN), the DISTINCT FROM family
    // treats NULL as a comparable value; pinning the counts catches
    // any compilation path that confuses the two.
    GQ.sql("q66_null_safe_compare", """WITH b AS (SELECT
            CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END AS a,
            CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS c
          FROM orders)
        SELECT COUNT(*) AS n,
          CAST(SUM(CASE WHEN a = c THEN 1 ELSE 0 END) AS BIGINT) AS eq_true,
          CAST(SUM(CASE WHEN a IS NOT DISTINCT FROM c THEN 1 ELSE 0 END)
            AS BIGINT) AS nsafe_eq,
          CAST(SUM(CASE WHEN a IS DISTINCT FROM c THEN 1 ELSE 0 END)
            AS BIGINT) AS nsafe_ne
        FROM b"""),

    // ---- ratio_to_report: each nation's share of its REGION's order
    // revenue, the percent-of-parent window every BI layer ships.
    // o_totalprice is a 2dp-valued DOUBLE, so cents = round(price*100)
    // is exact (the product sits within an ulp of an integer, never
    // near a .5 tie; explicit round() because DuckDB's double->int
    // CAST rounds where Spark's truncates); the share is an integer
    // micro-unit floor division against a window SUM of cents, widened
    // through int128 (HUGEINT / DECIMAL(38,0)) so region totals near
    // 2^63 cents cannot overflow — the 100 TB-safe form of
    // (x*1e6)/total. DuckDB's DECIMAL `//` detours through DOUBLE
    // (observed 1-micro drift), hence HUGEINT on the oracle side.
    // Plan: one join+agg shuffle to the 25-nation rollup; the window
    // partitions are <= 5 rows. ----
    GQ("q67_revenue_share",
      Some("""WITH nr AS (SELECT r_name, n_name,
                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents,
                 CAST(COUNT(*) AS BIGINT) AS n_orders
               FROM orders
               JOIN customer ON o_custkey = c_custkey
               JOIN nation ON c_nationkey = n_nationkey
               JOIN region ON n_regionkey = r_regionkey
               GROUP BY 1, 2)
        SELECT r_name, n_name, n_orders,
               CAST(cents AS DOUBLE) / 100 AS revenue,
               CAST(CAST((CAST(cents AS HUGEINT) * 1000000)
                   // SUM(cents) OVER (PARTITION BY r_name) AS BIGINT)
                 AS DOUBLE) / 1e6 AS region_share
        FROM nr"""),
      (s, d) => {
        val nr = t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
              .cast(LongType).as("cents"),
            count(lit(1)).as("n_orders"))
        nr.withColumn("rc",
            sum("cents").over(Window.partitionBy("r_name")))
          .select(col("r_name"), col("n_name"), col("n_orders"),
            (col("cents").cast(DoubleType) / 100).as("revenue"),
            (expr("(CAST(cents AS DECIMAL(38,0)) * 1000000) div rc")
              .cast(LongType).cast(DoubleType) / 1e6).as("region_share"))
      }),

    // Cheapest-supplier-per-part — the TPC-H Q2 shape re-expressed over
    // lineitem (this schema has no partsupp): for every part that ever
    // shipped, the minimum observed line price and the supplier that
    // offered it, ties broken toward the smallest suppkey. The argmin is
    // ONE `min(struct(price, supp))` aggregation — lexicographic struct
    // ordering gives (min price, then min supplier) in a single
    // partial+final pass, no self-join back onto the fact table and no
    // per-part window sort (both classic argmin shapes that double the
    // fact-table shuffle volume at 100 TB). Prices compare in exact
    // integer cents. Dimension joins broadcast.
    GQ("q68_min_cost_supplier",
      Some("""WITH c AS (SELECT l_partkey, l_suppkey,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
               FROM lineitem),
          m AS (SELECT l_partkey, MIN(cents) AS min_cents FROM c GROUP BY 1),
          w AS (SELECT c.l_partkey, m.min_cents,
                       MIN(c.l_suppkey) AS best_supp
                FROM c JOIN m ON c.l_partkey = m.l_partkey
                            AND c.cents = m.min_cents
                GROUP BY 1, 2)
        SELECT p_partkey, p_name, s_name,
               CAST(min_cents AS DOUBLE) / 100 AS best_price
        FROM w JOIN part ON l_partkey = p_partkey
               JOIN supplier ON best_supp = s_suppkey"""),
      (s, d) => {
        val best = t(s, d, "lineitem")
          .select(col("l_partkey"),
            struct(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
              .as("cents"), col("l_suppkey")).as("offer"))
          .groupBy("l_partkey")
          .agg(min("offer").as("best"))
        best
          .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
          .join(broadcast(t(s, d, "supplier")),
            col("best.l_suppkey") === col("s_suppkey"))
          .select(col("p_partkey"), col("p_name"), col("s_name"),
            (col("best.cents").cast(DoubleType) / 100).as("best_price"))
      }),

    // Market-basket brand affinity: unordered brand pairs co-purchased in
    // the same order, with support >= 3 orders. r8 flagged the naive
    // order-keyed self-join: per-order pair volume is C(b,2) in the
    // basket size b, and ONE degenerate order (crawler cart, test
    // account) explodes a single join key — the identical skew class
    // Dedup/VectorSearch cap with maxBucket. Capped form (see
    // marketBasketPairs): baskets larger than maxBasket=100 brands are
    // dropped as degenerate (documented semantics, mirrored in the
    // oracle), brands below the support floor are a-priori-pruned (pure
    // optimization — a pair needs both brands in >= 3 orders, so an
    // infrequent brand cannot survive), and pairs are generated
    // array-locally from each capped basket — no self-join at all.
    GQ("q69_market_basket",
      Some("""WITH b AS (SELECT DISTINCT l_orderkey, p_brand
                FROM lineitem JOIN part ON l_partkey = p_partkey),
          ok AS (SELECT l_orderkey FROM b GROUP BY 1 HAVING COUNT(*) <= 100),
          f AS (SELECT p_brand FROM b GROUP BY 1 HAVING COUNT(*) >= 3),
          bb AS (SELECT b.l_orderkey, b.p_brand
                 FROM b JOIN ok USING (l_orderkey) JOIN f USING (p_brand))
        SELECT x.p_brand AS brand_a, y.p_brand AS brand_b,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM bb x JOIN bb y ON x.l_orderkey = y.l_orderkey
                           AND x.p_brand < y.p_brand
        GROUP BY 1, 2 HAVING COUNT(*) >= 3"""),
      (s, d) => {
        val b = t(s, d, "lineitem")
          .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey"), col("p_brand")).distinct()
        marketBasketPairs(b, maxBasket = 100, minSupport = 3)
      }),

    // Fulfillment-latency SLA table: exact percentiles of the ship lag
    // (days from order to line shipment) per order priority. Date
    // arithmetic yields small exact integers, so percentile_disc is
    // engine-exact (no interpolation doubles). The orders→lineitem join
    // is the genuine fact-fact shuffle on orderkey; the percentile pass
    // runs the q59-style histogram-of-days rollup (day lags have tiny
    // cardinality — exactly the bounded-state 100 TB shape).
    GQ("q70_ship_latency",
      Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY lag_days) AS p50,
               percentile_disc(0.90) WITHIN GROUP (ORDER BY lag_days) AS p90,
               percentile_disc(0.99) WITHIN GROUP (ORDER BY lag_days) AS p99,
               MAX(lag_days) AS worst
        FROM (SELECT o_orderpriority,
                CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
                  AS INT) AS lag_days
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        GROUP BY 1"""),
      (s, d) => {
        val cnt = t(s, d, "lineitem")
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderpriority"),
            datediff(col("l_shipdate").cast(DateType),
              col("o_orderdate").cast(DateType)).as("v"))
          .groupBy("o_orderpriority", "v").agg(count(lit(1)).as("c"))
        // the disc percentile picks an existing int value; the rollup
        // emits DOUBLE like the aggregate did — cast losslessly back.
        // n_lines and worst ride the same rollup pass as extras.
        Percentiles.percentileDiscFromCounts(cnt, Seq("o_orderpriority"),
            "v", "c", Seq(0.50 -> "p50", 0.90 -> "p90", 0.99 -> "p99"),
            Seq(sum("c").as("n_lines"), max("v").as("worst")))
          .select(col("o_orderpriority"), col("n_lines"),
            col("p50").cast(IntegerType).as("p50"),
            col("p90").cast(IntegerType).as("p90"),
            col("p99").cast(IntegerType).as("p99"), col("worst"))
      }),

    // Dormant high-value accounts — the TPC-H Q22 shape: customers
    // whose balance beats the average POSITIVE balance yet placed no
    // order in the trailing 180 days (anchored to the data's max order
    // date, so the query is deterministic), rolled up per market
    // segment. Composes two one-row scalar broadcasts (the balance
    // threshold — pinned at 6dp through DECIMAL so the comparison
    // boundary is engine-exact — and the date anchor), an anti join
    // against the windowed fact slice, and a final rollup. The anti
    // join shuffles on custkey; the recent-orders side is already cut
    // down by the date predicate (which pushes to the parquet scan).
    GQ("q71_dormant_accounts",
      Some(s"""WITH th AS (SELECT ${oavg("CASE WHEN c_acctbal > 0 THEN c_acctbal END")}
                 AS avg_bal FROM customer),
          mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders)
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_dormant,
               ${osum("c_acctbal")} AS total_balance
        FROM customer CROSS JOIN th CROSS JOIN mx
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= mxd - INTERVAL 180 DAY)
        GROUP BY 1"""),
      (s, d) => {
        val orders = t(s, d, "orders")
        val cust = t(s, d, "customer")
        val th = cust.agg(davg(when(col("c_acctbal") > 0, col("c_acctbal")))
          .as("avg_bal"))
        val mx = orders.agg(max("o_orderdate").as("mxd"))
        val recent = orders.crossJoin(broadcast(mx))
          .filter(col("o_orderdate") >= col("mxd") - expr("INTERVAL 180 DAY"))
          .select("o_custkey")
        cust.crossJoin(broadcast(th))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_dormant"),
            dsum(col("c_acctbal")).as("total_balance"))
      }),

    // Year-over-year revenue growth per nation — the standard trend
    // table: yearly revenue in exact cents, previous year via lag()
    // over the tiny (nation, year) rollup, growth as an integer
    // micro-unit ratio (floor division — no float rounding, engine-
    // exact). The only fact-scale work is the one rollup shuffle; the
    // window sorts |nations|·|years| rows.
    GQ("q72_yoy_growth",
      Some("""WITH ny AS (SELECT n_name,
                 CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
               FROM orders
               JOIN customer ON o_custkey = c_custkey
               JOIN nation ON c_nationkey = n_nationkey
               GROUP BY 1, 2),
          w AS (SELECT n_name, yr, cents,
                  lag(cents) OVER (PARTITION BY n_name ORDER BY yr) AS prev
                FROM ny)
        SELECT n_name, yr, CAST(cents AS DOUBLE) / 100 AS revenue,
               CAST(CAST(((cents - prev) * 1000000) // prev AS DOUBLE) / 1e6
                 AS DOUBLE) AS yoy_growth
        FROM w WHERE prev IS NOT NULL"""),
      (s, d) => {
        val ny = t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"),
            year(col("o_orderdate")).cast(IntegerType).as("yr"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast(LongType).as("cents"))
        ny.withColumn("prev",
            lag("cents", 1).over(Window.partitionBy("n_name").orderBy("yr")))
          .filter(col("prev").isNotNull)
          .select(col("n_name"), col("yr"),
            (col("cents").cast(DoubleType) / 100).as("revenue"),
            (expr("((cents - prev) * 1000000) div prev")
              .cast(DoubleType) / 1e6).as("yoy_growth"))
      }),

    // ---- plain-SQL surface (the exec_simple_query analogue §3.1):
    // the same SQL text runs on Spark (via Engine.sql) and on the oracle --
    GQ.sql("q24_sql_passthrough", s"""WITH r AS (SELECT l_orderkey, ${osum("l_quantity")} AS q
                 FROM lineitem GROUP BY l_orderkey)
        SELECT o_orderstatus, COUNT(*) AS n, ${osum("q")} AS sum_q
        FROM orders JOIN r ON o_orderkey = l_orderkey
        GROUP BY o_orderstatus""")
  )
}
