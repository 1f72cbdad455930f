package graft

/** Local scaling probe: times a query family at two scale-factor dirs
  * in one session (warm = 2nd in-session run, the BASELINE.md
  * methodology) and prints one JSON line per query with both times,
  * the time ratio, and both output row counts. Row counts ride along
  * because a ratio is only interpretable against the output's own
  * growth: super-linear TIME with matching super-linear OUTPUT is the
  * data's shape; super-linear time over linear output is a plan
  * problem. Results feed SCALING.md.
  *
  * Usage: runMain graft.Scaling <sfDirA> <sfDirB> [query ...]
  *        runMain graft.Scaling <sfDirA> <sfDirB> --gate [offset] [count]
  *
  * `--gate` is the committed REGRESSION GATE (r11 verdict #4: the
  * d10/s05 regime bugs sat undetected for ten rounds of green fixed-SF
  * benches — only a scale STEP exposes them): every query carries a
  * scaling class in SCALING_BUDGET.json, each class a time-ratio cap
  * for a 10x data step, and the run FAILS (exit 1) when a query's
  * warm ratio leaves its class envelope. The allowance is
  * max(classCap, 1.5 x outputGrowth): growth-tracking operators (near-
  * dup miners whose PAIR OUTPUT genuinely explodes with the planted
  * duplicate structure) are judged against their own output, everyone
  * else against the class cap. ScalingBudgetSpec lints the budget
  * file's completeness, so a new driver query cannot ship unclassified.
  */
object Scaling {

  /** Per-class time-ratio caps for a 10x data step (warm, local[32]),
    * calibrated against the full r12 sweep (196 queries, distribution
    * 144 <= 2x / 34 <= 5x / 13 <= 10x / 5 > 10x, zero violations).
    * flat: value-domain-bounded state (d15/d16, percentile rollups) —
    * data growth must not move them (measured ~1x). sublinear:
    * one-pass scans + key-bounded shuffles with parallel headroom —
    * the suite default; the honest-linear text scans land 5-6.5x at
    * the saturation point of one box, so the cap sits at 8. linear:
    * work honestly tracks corpus x candidate volume into a bounded
    * rollup — the measured family lands 5-13x; cap 16 adds warm-time
    * noise margin while still failing a fixed-knob regression (the
    * d10/s05 class measured 33-37x). brute: DECLARED |Q| x N audit
    * arms where both factors grow with SF (their scale twin is the
    * gated one; measured 14-20x); capped loosely so a runaway still
    * fails. */
  val classCaps: Map[String, Double] =
    Map("flat" -> 3.0, "sublinear" -> 8.0, "linear" -> 16.0, "brute" -> 50.0)

  final case class Budget(default: String, queries: Map[String, String]) {
    def classOf(q: String): String = queries.getOrElse(q, default)
    def cap(q: String): Double = classCaps(classOf(q))
  }

  /** Parse SCALING_BUDGET.json (flat two-field schema, no JSON dep). */
  def loadBudget(path: String = "SCALING_BUDGET.json"): Budget = {
    val txt = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    // r12 ADVICE: parse per LINE, anchored — a whole-file regex sweep
    // silently ingested any lowercase string field as a classification.
    // Every line must be structural ({, }, blank) or exactly one
    // "key": "value" pair; underscore-prefixed keys are doc fields;
    // anything else is schema drift and fails loudly here, not at gate
    // evaluation.
    val entry = """^\s*"([A-Za-z0-9_]+)"\s*:\s*"([^"]*)"\s*,?\s*$""".r
    val pairs = txt.linesIterator.flatMap {
      case l if l.trim.isEmpty || l.trim == "{" || l.trim == "}" => None
      case entry(k, _) if k.startsWith("_") => None
      case entry(k, v) => Some(k -> v)
      case other => throw new IllegalArgumentException(
        s"$path: unparseable line (one \"key\": \"value\" pair per line): $other")
    }.toSeq
    val default = pairs.collectFirst { case ("default", c) => c }.getOrElse("sublinear")
    val qs = pairs.filterNot(_._1 == "default").toMap
    val bad = (qs.values.toSet + default).diff(classCaps.keySet)
    require(bad.isEmpty, s"unknown scaling classes: $bad")
    Budget(default, qs)
  }
  private val headline = Seq(
    "q03_top_orders", "q05_nation_revenue", "q59_mad_outliers",
    "q69_market_basket", "d02_dedup_minhash_lsh",
    "d07_embedding_neardup_lsh", "s02_ann_lsh", "t14_span_dedup",
    "d15_entity_pairs", "d16_entity_clusters", "e20_dau_wau")

  /** Declared-quadratic audit arms (their scale twin is probed
    * instead): d06 is d07's exact all-pairs oracle twin. (s10's
    * BENCHED entry is already the LSH arm — it probes normally at
    * ~10x; its exact arm lives only in VectorSearchSpec.) Excluded
    * from --all; probe explicitly to watch a quadratic be quadratic. */
  private val declaredQuadratic = Set("d06_embedding_neardup")

  def main(args: Array[String]): Unit = {
    val Array(dirA, dirB) = args.take(2)
    val gateMode = args.length > 2 && args(2) == "--gate"
    val names =
      if (gateMode || (args.length > 2 && args(2) == "--all"))
        SparkEntry.queries.keys.toSeq.sorted
          .filterNot(declaredQuadratic)
          .drop(if (args.length > 3) args(3).toInt else 0)
          .take(if (args.length > 4) args(4).toInt else Int.MaxValue)
      else if (args.length > 2) args.drop(2).toSeq
      else headline
    val budget = if (gateMode) Some(loadBudget()) else None
    val spark = Engine.session(s"local[${Engine.cpus}]", "graft-scaling", Engine.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    def f3(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def timed(name: String, dir: String): (Double, Long) = {
      val fn = SparkEntry.queries(name)
      fn(spark, dir).count() // warm: codegen/JIT/planning
      val t0 = System.nanoTime()
      val rows = fn(spark, dir).count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    var failures = List.empty[String]
    for (name <- names) {
      val (ta, ra) = timed(name, dirA)
      val (tb, rb) = timed(name, dirB)
      val ratio = tb / math.max(ta, 1e-9)
      val gate = budget.map { b =>
        val growth = rb.toDouble / math.max(ra, 1L)
        val allowed = math.max(b.cap(name), 1.5 * growth)
        val ok = ratio <= allowed
        if (!ok) failures ::= f"$name ratio $ratio%.1f > allowed $allowed%.1f (${b.classOf(name)})"
        s""","class":"${b.classOf(name)}","allowed":${f3(allowed)},"gate":"${if (ok) "PASS" else "FAIL"}""""
      }.getOrElse("")
      println(s"""{"query":"$name","secsA":${f3(ta)},"secsB":${f3(tb)},""" +
        s""""ratio":${f3(ratio)},"rowsA":$ra,"rowsB":$rb$gate}""")
    }
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[scaling-gate] ${failures.size} FAILED:\n  " +
        failures.reverse.mkString("\n  "))
      sys.exit(1)
    }
  }
}
