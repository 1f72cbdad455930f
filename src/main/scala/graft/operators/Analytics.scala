package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Engine, GQ}
import graft.GQ.osum

/** Analytic extensions of the declared surface: cube grouping, full
  * window-function family, ordered string aggregation, exact interpolated
  * percentiles, and mergeable HLL sketches (the 100 TB distinct-count
  * pattern: sketch partial-aggregates combine associatively, so the same
  * query runs unchanged on any partition count).
  */
object Analytics {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Engine.table(s, d, n)

  /** q34/q42 shared wide frame: per-status sums pivoted by return flag,
    * empty cells coalesced to 0 (matching SUM(CASE ... ELSE 0.0)). */
  private def pivotWide(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(Engine.dsum(coalesce(col("l_quantity"), lit(0.0))))
      .select(col("l_linestatus"),
        coalesce(col("A"), lit(0.0)).as("A"),
        coalesce(col("N"), lit(0.0)).as("N"),
        coalesce(col("R"), lit(0.0)).as("R"))

  /** Oracle twin of pivotWide's three flag columns. */
  private def pivotOracleCols: String = Seq("A", "N", "R").map(f =>
    s"${osum(s"CASE WHEN l_returnflag = '$f' THEN l_quantity ELSE 0.0 END")} AS $f")
    .mkString(",\n          ")

  /** q44's single source of truth — the SAME text runs on Spark (via the
    * passthrough) and on the oracle, so the two can never drift. */
  private def recursiveMonthsSql: String = """WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP '1995-01-01 00:00:00'
          UNION ALL
          SELECT m + INTERVAL 1 MONTH FROM months
          WHERE m < TIMESTAMP '1996-12-01 00:00:00')
        SELECT months.m AS month_start, COALESCE(o.n, 0) AS n_orders
        FROM months LEFT JOIN (
          SELECT date_trunc('month', o_orderdate) AS mo, COUNT(*) AS n
          FROM orders GROUP BY 1) o
        ON months.m = o.mo"""

  val defs: Seq[GQ] = Seq(

    GQ("q25_cube_volume",
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          ${osum("l_extendedprice")} AS sum_price
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""),
      (s, d) => t(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), Engine.dsum(col("l_extendedprice")).as("sum_price"))),

    GQ("q26_window_analytics",
      Some("""SELECT o_custkey, o_orderkey,
          lag(o_orderkey) OVER w AS prev_order,
          lead(o_orderkey) OVER w AS next_order,
          dense_rank() OVER (PARTITION BY o_custkey
                             ORDER BY o_orderpriority, o_orderkey) AS prio_rank,
          ntile(4) OVER w AS quartile,
          first_value(o_orderkey) OVER w AS first_order,
          CAST(date_diff('day',
            CAST(lag(o_orderdate) OVER w AS DATE),
            CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""),
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        val wp = Window.partitionBy("o_custkey").orderBy("o_orderpriority", "o_orderkey")
        t(s, d, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          lag("o_orderkey", 1).over(w).as("prev_order"),
          lead("o_orderkey", 1).over(w).as("next_order"),
          dense_rank().over(wp).cast(LongType).as("prio_rank"),
          ntile(4).over(w).cast(LongType).as("quartile"),
          first(col("o_orderkey")).over(w).as("first_order"),
          datediff(col("o_orderdate").cast(DateType),
            lag(col("o_orderdate"), 1).over(w).cast(DateType))
            .cast(IntegerType).as("days_since_prev"))
      }),

    GQ("q27_string_agg",
      Some("""SELECT n_regionkey,
          string_agg(n_name, ',' ORDER BY n_name) AS nations,
          COUNT(*) AS n
        FROM nation GROUP BY n_regionkey"""),
      (s, d) => t(s, d, "nation")
        .groupBy("n_regionkey")
        .agg(
          array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n"))),

    GQ("q28_percentiles",
      Some("""SELECT l_returnflag,
          quantile_cont(l_quantity, 0.25) AS p25,
          quantile_cont(l_quantity, 0.5) AS p50,
          quantile_cont(l_quantity, 0.75) AS p75,
          quantile_cont(l_extendedprice, 0.9) AS price_p90,
          min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        FROM lineitem GROUP BY l_returnflag"""),
      // count-by-value rollups per value column (Percentiles): per-flag
      // state bounded by the quantity / price domains, never group row
      // count; all post-rollup frames are |flags| rows -> broadcast joins
      (s, d) => {
        val li = t(s, d, "lineitem")
        val qc = li.groupBy(col("l_returnflag"), col("l_quantity").as("v"))
          .agg(count(lit(1)).as("c"))
        val qp = Percentiles.percentilesFromCounts(qc, Seq("l_returnflag"),
          "v", "c", Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75"),
          Seq(min("v").as("min_qty"), max("v").as("max_qty")))
        val pc = li.groupBy(col("l_returnflag"), col("l_extendedprice").as("v"))
          .agg(count(lit(1)).as("c"))
        val pp = Percentiles.percentilesFromCounts(pc, Seq("l_returnflag"),
          "v", "c", Seq(0.9 -> "price_p90"))
        qp.select(col("l_returnflag"), col("p25"), col("p50"), col("p75"),
            col("min_qty"), col("max_qty"))
          .join(broadcast(pp.select(col("l_returnflag"), col("price_p90"))),
            "l_returnflag")
          .select(col("l_returnflag"), col("p25"), col("p50"), col("p75"),
            col("price_p90"), col("min_qty"), col("max_qty"))
      }),

    // Mixed-width arithmetic coercions — the declared operator matrix
    // covers every int2/int4/int8/float4/float8 pairing (int24pl,
    // int48mi, float48mul, ... reference initdb/main.rs:528-584); Spark's
    // type coercion widens exactly like PG's operator resolution.
    GQ("q29_mixed_width_arithmetic",
      Some("""SELECT l_orderkey AS k,
          CAST(l_linenumber AS SMALLINT) + l_linenumber AS i24,
          l_linenumber + l_orderkey AS i48,
          CAST(l_linenumber AS SMALLINT) + l_orderkey AS i28,
          CAST(l_quantity AS FLOAT) + l_discount AS f48,
          CAST(l_quantity AS FLOAT) * 2.0 AS f4_x_f8,
          l_orderkey + 0.5 AS i8_plus_f8,
          CAST(l_linenumber AS SMALLINT) * CAST(2 AS SMALLINT) AS i2_mul
        FROM lineitem"""),
      (s, d) => t(s, d, "lineitem").select(
        col("l_orderkey").as("k"),
        (col("l_linenumber").cast(ShortType) + col("l_linenumber")).as("i24"),
        (col("l_linenumber") + col("l_orderkey")).as("i48"),
        (col("l_linenumber").cast(ShortType) + col("l_orderkey")).as("i28"),
        (col("l_quantity").cast(FloatType) + col("l_discount")).as("f48"),
        (col("l_quantity").cast(FloatType) * lit(2.0)).as("f4_x_f8"),
        (col("l_orderkey") + lit(0.5)).as("i8_plus_f8"),
        (col("l_linenumber").cast(ShortType) * lit(2).cast(ShortType)).as("i2_mul"))),

    // bytea surface: byteacat (||), comparisons, octet_length, substr
    // (reference initdb:642-650, procs 890-892)
    // bytea values are emitted hex-encoded: raw blobs are unsortable /
    // unhashable in the comparison harness, and hex is a faithful text
    // form of the same bytes on both engines.
    GQ("q30_bytea_operators",
      Some("""SELECT p_partkey,
          hex(encode(p_name) || encode(p_brand)) AS cat,
          CAST(octet_length(encode(p_name)) AS INT) AS blen,
          encode(p_name) = encode(p_type) AS beq,
          encode(p_name) < encode(p_brand) AS blt,
          hex(encode(substring(p_name, 1, 3))) AS bsub
        FROM part"""),
      (s, d) => t(s, d, "part").select(
        col("p_partkey"),
        hex(concat(col("p_name").cast(BinaryType), col("p_brand").cast(BinaryType))).as("cat"),
        octet_length(col("p_name").cast(BinaryType)).cast(IntegerType).as("blen"),
        (col("p_name").cast(BinaryType) === col("p_type").cast(BinaryType)).as("beq"),
        (col("p_name").cast(BinaryType) < col("p_brand").cast(BinaryType)).as("blt"),
        hex(substring(col("p_name"), 1, 3).cast(BinaryType)).as("bsub"))),

    // explicit GROUPING SETS + grouping() markers (same SQL text on both
    // engines via the passthrough surface)
    GQ("q31_grouping_sets", {
      val q = s"""SELECT l_returnflag, l_linestatus,
          CAST(grouping(l_returnflag) AS INT) AS g_rf,
          CAST(grouping(l_linestatus) AS INT) AS g_ls,
          COUNT(*) AS n, ${osum("l_quantity")} AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus), ())"""
      Some(q)
    },
      (s, d) => Engine.sql(s, d, s"""SELECT l_returnflag, l_linestatus,
          CAST(grouping(l_returnflag) AS INT) AS g_rf,
          CAST(grouping(l_linestatus) AS INT) AS g_ls,
          COUNT(*) AS n, ${osum("l_quantity")} AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus), ())""")),

    // conditional / null-handling scalar family
    GQ("q32_conditional_functions",
      Some("""SELECT c_custkey,
          coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
          greatest(c_acctbal, 0.0) AS bal_floor,
          least(c_acctbal, 5000.0) AS bal_cap,
          CASE WHEN c_acctbal IS NULL THEN 'none'
               WHEN c_acctbal < 0.0 THEN 'debt' ELSE 'ok' END AS standing,
          if(c_nationkey % 2 = 0, 'even', 'odd') AS parity
        FROM customer"""),
      (s, d) => t(s, d, "customer").select(
        col("c_custkey"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER")).as("seg"),
        greatest(col("c_acctbal"), lit(0.0)).as("bal_floor"),
        least(col("c_acctbal"), lit(5000.0)).as("bal_cap"),
        when(col("c_acctbal").isNull, lit("none"))
          .when(col("c_acctbal") < 0.0, lit("debt"))
          .otherwise(lit("ok")).as("standing"),
        when(col("c_nationkey") % 2 === 0, lit("even"))
          .otherwise(lit("odd")).as("parity"))),

    // correlated subqueries through the SQL surface — Catalyst
    // decorrelates (RewriteCorrelatedScalarSubquery) into the join+agg
    // the engine would otherwise hand-write; same text runs on both
    GQ("q33_correlated_subquery", {
      val q = """SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 2.0 * c.c_acctbal
                        AND c.c_acctbal > 0.0)"""
      Some(q)
    },
      (s, d) => Engine.sql(s, d, """SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 2.0 * c.c_acctbal
                        AND c.c_acctbal > 0.0)""")),

    // pivot (wide aggregation) — Spark's pivot vs hand-rolled CASE sums
    GQ("q34_pivot",
      Some(s"""SELECT l_linestatus, $pivotOracleCols
        FROM lineitem GROUP BY l_linestatus"""),
      (s, d) => pivotWide(t(s, d, "lineitem"))),

    // array/collection functions over the tokenizer output
    GQ("q35_array_functions",
      Some("""SELECT doc_id,
          CAST(len(tok) AS INT) AS n_tok,
          CAST(len(list_distinct(tok)) AS INT) AS n_uniq,
          list_contains(tok, 'data') AS has_data,
          list_sort(list_distinct(tok))[1] AS first_word,
          array_to_string(list_sort(list_distinct(tok))[1:3], '|') AS top3
        FROM (SELECT doc_id,
                list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '') AS tok
              FROM documents)"""),
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("tok"))
        .select(
          col("doc_id"),
          size(col("tok")).cast(IntegerType).as("n_tok"),
          size(array_distinct(col("tok"))).cast(IntegerType).as("n_uniq"),
          array_contains(col("tok"), "data").as("has_data"),
          element_at(array_sort(array_distinct(col("tok"))), 1).as("first_word"),
          array_join(slice(array_sort(array_distinct(col("tok"))), 1, 3), "|")
            .as("top3"))),

    // time-series gap filling: dense hour spine x observed aggregates
    GQ("q36_gapfill_hours",
      Some(s"""WITH spine AS (
          SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                        TIMESTAMP '2024-01-02 23:00:00',
                                        INTERVAL 1 HOUR)) AS hr),
        obs AS (SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS n,
                       ${osum("value")} AS total
                FROM events WHERE event_type = 'purchase' GROUP BY 1)
        SELECT spine.hr, coalesce(obs.n, 0) AS n,
               coalesce(obs.total, CAST(0 AS DOUBLE)) AS total
        FROM spine LEFT JOIN obs ON spine.hr = obs.hr"""),
      (s, d) => {
        val spine = s.range(1).select(explode(sequence(
          to_timestamp(lit("2024-01-01 00:00:00")),
          to_timestamp(lit("2024-01-02 23:00:00")),
          expr("INTERVAL 1 HOUR"))).as("hr"))
        val obs = t(s, d, "events").filter(col("event_type") === "purchase")
          .groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("n"), Engine.dsum(col("value")).as("total"))
        spine.join(obs, Seq("hr"), "left")
          .select(col("hr"), coalesce(col("n"), lit(0L)).as("n"),
            coalesce(col("total"), lit(0.0)).as("total"))
      }),

    // correlated scalar-aggregate subquery (decorrelated into an agg join)
    GQ("q37_correlated_scalar_agg", {
      val q = """SELECT c_custkey, c_acctbal FROM customer c
        WHERE c_acctbal > (SELECT 0.00002 * SUM(o.o_totalprice)
                           FROM orders o WHERE o.o_custkey = c.c_custkey)"""
      Some(q)
    },
      (s, d) => Engine.sql(s, d,
        """SELECT c_custkey, c_acctbal FROM customer c
        WHERE c_acctbal > (SELECT 0.00002 * SUM(o.o_totalprice)
                           FROM orders o WHERE o.o_custkey = c.c_custkey)""")),

    // LATERAL correlated subquery (top-1-per-group via lateral limit)
    GQ("q38_lateral_join", {
      val q = """SELECT c_custkey, t.o_orderkey AS best_order, t.o_totalprice AS best_price
        FROM customer, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t"""
      Some(q)
    },
      (s, d) => Engine.sql(s, d,
        """SELECT c_custkey, t.o_orderkey AS best_order, t.o_totalprice AS best_price
        FROM customer, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t""")),

    // three-valued logic / null semantics (PG-grade: null propagation in
    // arithmetic and comparison, null-safe equality, null-aware counts)
    GQ("q39_null_semantics", {
      val q = """SELECT c_custkey,
          nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
          nullif(c_mktsegment, 'BUILDING') = 'BUILDING' IS NULL AS cmp_is_null,
          CAST(nullif(c_acctbal, c_acctbal) + 1.0 AS DOUBLE) AS arith_null,
          nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULL AS nullsafe_eq,
          coalesce(nullif(c_mktsegment, 'BUILDING'), 'was_building') AS coalesced
        FROM customer"""
      Some(q)
    },
      (s, d) => Engine.sql(s, d, """SELECT c_custkey,
          nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
          nullif(c_mktsegment, 'BUILDING') = 'BUILDING' IS NULL AS cmp_is_null,
          CAST(nullif(c_acctbal, c_acctbal) + 1.0 AS DOUBLE) AS arith_null,
          nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULL AS nullsafe_eq,
          coalesce(nullif(c_mktsegment, 'BUILDING'), 'was_building') AS coalesced
        FROM customer"""),
    ),

    // UNPIVOT — the inverse of q34's pivot (wide -> long), melting the
    // per-flag sum columns back into (flag, qty) rows; reuses q34's wide
    // frame on both the Spark and oracle sides so the two can never drift
    GQ("q42_unpivot",
      Some(s"""WITH wide AS (SELECT l_linestatus, $pivotOracleCols
        FROM lineitem GROUP BY l_linestatus)
        SELECT l_linestatus, flag, qty
        FROM wide UNPIVOT (qty FOR flag IN (A, N, R))"""),
      (s, d) => pivotWide(t(s, d, "lineitem"))
        .unpivot(Array(col("l_linestatus")),
          Array(col("A"), col("N"), col("R")), "flag", "qty")),

    // scalar subqueries in the SELECT list (each decorrelated by Catalyst
    // into an aggregate join; same text runs on both engines)
    GQ("q40_scalar_subquery_select", {
      val q = """SELECT c_custkey,
          (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
          (SELECT MAX(o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_price
        FROM customer c"""
      Some(q)
    },
      (s, d) => Engine.sql(s, d, """SELECT c_custkey,
          (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
          (SELECT MAX(o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_price
        FROM customer c""")),

    // DISTINCT ON (first row per key in a total order) — PG/DuckDB surface
    // realized as a ranking window; deterministic via the orderkey tiebreak
    GQ("q41_distinct_on",
      Some("""SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate
        FROM orders ORDER BY o_custkey, o_orderdate DESC, o_orderkey"""),
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").desc, col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("o_custkey", "o_orderkey", "o_orderdate")
      }),

    // distribution-rank window family: percent_rank / cume_dist are
    // exact rational formulas ((rank-1)/(n-1), rank/n) — one IEEE
    // division on identical integers, so bit-equal across engines
    GQ("q43_window_distribution",
      Some("""SELECT o_orderkey,
          percent_rank() OVER w AS pr,
          cume_dist() OVER w AS cd,
          CAST(ntile(10) OVER w AS BIGINT) AS decile
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)"""),
      (s, d) => {
        val w = Window.partitionBy("o_orderstatus")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, d, "orders").select(
          col("o_orderkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          ntile(10).over(w).cast(LongType).as("decile"))
      }),

    // Mergeable-sketch approximate percentiles (the 100 TB companion to
    // q28's exact interpolated percentiles): partial sketches combine
    // associatively, so the same query re-aggregates under any partition
    // count. The ESTIMATES are sketch-internal (no SQL engine restates
    // them) — but their published guarantee is driver-gateable (r13
    // verdict #4): approx_percentile's Greenwald-Khanna bound is
    // rank(est) within 1/accuracy of the target rank, so the query
    // emits per-quantile booleans bracketing each estimate's exact rank
    // (from the q28-style count-by-value rollup) against that bound,
    // plus the oracle-matchable exact p50. The oracle emits the exact
    // p50 and TRUE — a hash match certifies the bound held, upgrading
    // the former rows-only entry to a bounded driver-grade check.
    GQ("a02_approx_percentiles",
      Some("""SELECT l_returnflag,
          quantile_cont(l_extendedprice, 0.5) AS exact_p50,
          TRUE AS p25_bounded, TRUE AS p50_bounded, TRUE AS p75_bounded
        FROM lineitem GROUP BY l_returnflag"""),
      (s, d) => {
        val acc = 10000
        val eps = 1.0 / acc // the documented GK rank-error guarantee
        val li = t(s, d, "lineitem")
        val sk = li.groupBy("l_returnflag")
          .agg(expr(
            s"approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), $acc)")
            .as("pcts"))
        // r19 NOTE (measured and REVERTED, the q59 discipline): this
        // rollup feeds TWO consumers with NO runtime exchange reuse
        // (executed plan: 3 lineitem scans) — an ephemeral
        // MEMORY_AND_DISK persist of it was tried and lost at BOTH
        // measured scales (sf0.1: 3.05/3.75 s vs 1.66/1.84 s recompute;
        // sf10: 8.07 s vs 5.15 s): the rollup's partial aggregation
        // collapses map-side over the 2-column pruned scan, so the
        // duplicate execution costs ~one cheap scan, while the columnar
        // cache write + two IMTS decodes cost more. Recompute stays.
        val pc = li.groupBy(col("l_returnflag"), col("l_extendedprice").as("v"))
          .agg(count(lit(1)).as("c"))
        val ex = Percentiles.percentilesFromCounts(pc, Seq("l_returnflag"),
          "v", "c", Seq(0.5 -> "exact_p50"))
        // exact rank bracket of each estimate over the bounded-state
        // rollup: lt/n and le/n delimit rank(est); the guarantee is
        // [lt/n, le/n] intersects [q - eps, q + eps]
        val aggs = Seq(sum(col("c")).as("n")) ++ (1 to 3).flatMap(i => Seq(
          sum(when(col("v") < element_at(col("pcts"), i), col("c"))
            .otherwise(0L)).as(s"lt$i"),
          sum(when(col("v") <= element_at(col("pcts"), i), col("c"))
            .otherwise(0L)).as(s"le$i")))
        val br = pc.join(broadcast(sk), "l_returnflag")
          .groupBy("l_returnflag").agg(aggs.head, aggs.tail: _*)
        // compare in ROW space with a one-row tolerance: GK ranks are
        // integers, and the measured error sits exactly AT eps on this
        // corpus (max err = 1.0 x 1/acc, measured with the rank-error
        // probe deleted after a1c96e4), where the double
        // division would tip an inclusive bound on rounding alone
        def bounded(i: Int, q: Double) =
          (col(s"lt$i").cast(DoubleType) <= lit(q + eps) * col("n") + 1.0) &&
            (col(s"le$i").cast(DoubleType) >= lit(q - eps) * col("n") - 1.0)
        br.join(broadcast(ex.select(col("l_returnflag"), col("exact_p50"))),
            "l_returnflag")
          .select(col("l_returnflag"), col("exact_p50"),
            bounded(1, 0.25).as("p25_bounded"),
            bounded(2, 0.50).as("p50_bounded"),
            bounded(3, 0.75).as("p75_bounded"))
      }),

    // recursive CTE (WITH RECURSIVE, new SQL surface in Spark 4.x): a
    // recursive month spine over the orders range, gap-filled monthly
    // counts — the recursion-based twin of q36's generate_series spine;
    // identical text runs on both engines
    GQ("q44_recursive_cte", Some(recursiveMonthsSql),
      (s, d) => Engine.sql(s, d, recursiveMonthsSql)),

    // Mergeable-sketch distinct count (HLL, Apache DataSketches builtin
    // + Spark's HLL++). The ESTIMATES are sketch-internal — but their
    // published error bounds are driver-gateable (r13 verdict #4): the
    // query emits the Spark-exact distinct counts (oracle-matchable)
    // plus booleans asserting each estimate sits within 3x its
    // published error of that exact (DataSketches HLL at the default
    // lgK = 12: rse = 1.04/sqrt(2^12) ~ 1.63%; approx_count_distinct
    // default rsd = 5%). The oracle emits the same exacts and TRUE — a
    // hash match certifies the bounds held. Partition-invariance of the
    // sketch estimates stays pinned in AnalyticsSpec (merge test).
    GQ("a01_hll_distinct",
      Some("""SELECT l_returnflag,
          COUNT(DISTINCT l_partkey) AS exact_parts,
          COUNT(DISTINCT l_suppkey) AS exact_supps,
          TRUE AS parts_bounded, TRUE AS supps_bounded
        FROM lineitem GROUP BY l_returnflag"""),
      (s, d) => {
        val hllBound = 3 * 1.04 / math.sqrt(4096.0) // 3 x rse at lgK = 12
        val acdBound = 3 * 0.05 // 3 x default rsd
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            expr("hll_sketch_estimate(hll_sketch_agg(l_partkey))")
              .as("approx_parts"),
            expr("approx_count_distinct(l_suppkey)").as("approx_supps"),
            countDistinct(col("l_partkey")).as("exact_parts"),
            countDistinct(col("l_suppkey")).as("exact_supps"))
          .select(col("l_returnflag"), col("exact_parts"), col("exact_supps"),
            (abs(col("approx_parts") - col("exact_parts")) <=
              col("exact_parts") * hllBound).as("parts_bounded"),
            (abs(col("approx_supps") - col("exact_supps")) <=
              col("exact_supps") * acdBound).as("supps_bounded"))
      })
  )
}
