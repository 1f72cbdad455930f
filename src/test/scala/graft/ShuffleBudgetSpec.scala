package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shuffle-count budgets for headline queries: every entry pins the
  * EXACT number of shuffle exchanges (hash/range/single-partition) in
  * the compiled physical plan. A refactor that silently adds a shuffle
  * — the single most expensive regression class at 100 TB — fails here
  * before any bench run notices (and unlike bench seconds, plan shape
  * is host-noise-immune; see the BENCH_DETAIL job-count rationale).
  * Budgets are equalities, not ceilings: LOSING a shuffle is also a
  * semantic change worth a deliberate budget edit.
  */
class ShuffleBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val shuffleRe =
    "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r

  /** Count the shuffle exchanges in a plan string. */
  private def shuffleCount(plan: String): Int =
    shuffleRe.findAllIn(plan).size

  /** (query -> exact shuffle-exchange count in the initial plan).
    * Chosen to cover each dataflow family: scans (0), single-agg (1),
    * broadcast-star joins (1 — dimension arms must broadcast, only the
    * fact agg shuffles), two-phase ops (2-3), and the widest composed
    * pipelines (4-5). */
  private val budgets = Map(
    "t03_token_count" -> 0,        // pure scan+project: any shuffle is a bug
    "q01_pricing_summary" -> 1,    // one agg on the scan
    "q03_top_orders" -> 1,         // join broadcasts; agg+topk reuse one shuffle
    "q05_nation_revenue" -> 1,     // 5-way star: all dims broadcast
    "q62_trade_matrix" -> 1,       // 6-way, nation twice: still one fact shuffle
    "d01_dedup_exact" -> 1,        // one shuffle on the content hash
    "e01_hourly_event_stats" -> 1, // windowed rollup
    "e02_sessionize" -> 1,         // one user-key sort shuffle feeds lag+sum+agg
    "t10_vocab_topk" -> 1,         // token count; top-k is TakeOrdered, no extra
    "s01_ann_bruteforce" -> 1,     // the per-qid heap's partial -> final
                                   // hash exchange on qid; the query set
                                   // broadcasts, so the join adds none
    "d09_decontaminate" -> 2,      // gram build + anti join
    "t21_per_source_cap" -> 2,     // the documented two-phase cap
    "t34_ngram_novelty" -> 2,      // gram df + per-doc rollup
    "p03_curriculum_order" -> 3,   // histogram + offsets window + in-bucket rank
    "d13_cross_source_dups" -> 4,  // (hash,source) counts + pair product + matrix
    "e20_dau_wau" -> 5,            // day-user distinct, dau, wau explode, join
    // q59/q69 static counts include re-planned shared subtrees (the
    // rollup input / distinct-basket frame each feed 2-3 consumers);
    // identical exchanges dedupe at runtime via ReusedExchange
    // (spark.sql.exchange.reuse) — the budget pins the static shape
    "q59_mad_outliers" -> 0,       // r19: below q59's driver-local limit the
                                   // post-rollup median/MAD derivation folds
                                   // driver-locally over one gated collect of
                                   // the value-domain-bounded rollup — the
                                   // returned frame is a |brands|-row local
                                   // relation (the q69 collect class); the
                                   // distributed 100 TB shape is pinned by the
                                   // dedicated forced-distributed test below
    "q69_market_basket" -> 0,      // r15: the pipeline (DISK_ONLY input frame
                                   // x3 consumers, r14's static 10) now runs
                                   // EAGERLY inside the builder so the persist
                                   // can be released in a finally (the r14
                                   // leak), and the returned frame is the
                                   // value-domain-bounded local result
                                   // (<= |brands|^2/2 rows) — 0 shuffles by
                                   // construction; Q69CacheSpec pins that no
                                   // cache entry survives the call
    // r10 percentile-rollup family (Percentiles.scala): each = value
    // rollup + cumulative window + final agg, plus the query's own
    // joins; pinned so the bounded-state shapes cannot silently grow
    "q28_percentiles" -> 4,        // qty rollup+cum+agg, price rollup (shares scan)
    "q54_winsorize" -> 2,          // price rollup + cum window; bands broadcast back
    "q61_reorder_gaps" -> 3,       // lag window + gap rollup + cum window
    "q70_ship_latency" -> 2,       // lag-day rollup + cum window (extras fold in)
    "e24_user_concentration" -> 5, // user rollup + count rollup + cum + agg + final
    "e30_rfm_segments" -> 9,       // purchase rollup x consumers + metric rollup +
                                   // cum + boundary pivot (statically re-planned,
                                   // runtime-reused like q59)
    "d15_entity_pairs" -> 8,       // name rollup x3 consumers + tok distinct x2 +
                                   // df-cap agg x2 + pair distinct; every join
                                   // broadcasts (value-domain-sized sides) and
                                   // levenshtein is pushed into the candidate
                                   // join condition
    "d16_entity_clusters" -> 1)    // r11: components run directly on the string
                                   // name domain — no dense-ID rank window (the
                                   // old single-partition sort is gone); the one
                                   // shuffle is the name rollup, labels attach
                                   // by broadcast join. Pair building and the
                                   // union-find/fixpoint materialize eagerly at
                                   // plan-construction time (localCheckpoint),
                                   // so their exchanges (pinned via d15) don't
                                   // appear in this final serve plan

  test("headline plans keep their exact shuffle budgets") {
    // budgets are defined against a COLD cache state (r17 advice): a
    // cache entry left behind by another suite in this JVM could
    // substitute into an unrelated budget query and shift its plan
    spark.catalog.clearCache()
    val diffs = budgets.toSeq.sortBy(_._1).flatMap { case (name, want) =>
      val df = SparkEntry.queries(name)(spark, TestSpark.sf)
      val got = shuffleCount(df.queryExecution.executedPlan.toString)
      if (got != want) Some(s"$name: $got shuffles (budget $want)") else None
    }
    assert(diffs.isEmpty, s"shuffle budgets violated:\n  ${diffs.mkString("\n  ")}")
  }

  test("q59 distributed arm keeps its exact shuffle budget") {
    // the 100 TB path (above q59's driver-local limit): one (brand,pc)
    // rollup x3 consumers (statically re-planned, runtime-reused via
    // ReusedExchange) + 2 cumulative-median windows + dev rollup +
    // final agg = 9 exchanges, unchanged from the pre-r19 default shape
    TestSpark.distributed {
      val df = SparkEntry.queries("q59_mad_outliers")(spark, TestSpark.sf)
      val got = shuffleCount(df.queryExecution.executedPlan.toString)
      assert(got == 9, s"q59 distributed arm: $got shuffles (budget 9)")
    }
  }
}
