package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property tests: the native one-pass kernels (Tokens, Shingles,
  * SigMatchCount) are drop-in replacements for the higher-order-function
  * formulations they replaced — the oracle exactness of every text
  * operator rests on this equivalence, so it is checked over generated
  * inputs (fixed seeds: deterministic), not just the fixture corpus.
  */
class KernelPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // strings mixing alnum runs, separators, unicode, and edge shapes
  private val textGen: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumStr.map(_.take(8)),
    Gen.oneOf(" ", "\t", "\n", "--", "!!", "...", "_", "é", "ß", "中文", "K"),
    Gen.const(""),
    Gen.numStr.map(_.take(6)))).map(_.mkString)

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private def hofTokens(c: org.apache.spark.sql.Column) =
    filter(split(lower(c), "[^a-z0-9]+"), t => t =!= "")

  private def hofShingles(tok: org.apache.spark.sql.Column, k: Int) =
    when(size(tok) >= k,
      transform(sequence(lit(1), size(tok) - (k - 1)),
        i => concat_ws(" ", (0 until k).map(j => element_at(tok, i + lit(j))): _*)))
      .otherwise(array().cast(ArrayType(StringType)))

  test("native Tokens == HOF filter/split/lower on arbitrary strings") {
    import spark.implicits._
    val texts = (1L to 60L).map(s => sample(textGen, s)) ++
      Seq("", "   ", "a", "K 42", "ÉéÉ", "0x00--ff", "\n\t")
    val rows = texts.toDF("t").select(
      col("t"),
      TextFunctions.tokens(col("t")).as("native"),
      hofTokens(col("t")).as("hof")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"tokens diverged on input '${r.getString(0)}'")
    }
  }

  test("native Shingles == HOF transform/concat_ws for k in 2..4") {
    import spark.implicits._
    val texts = (100L to 140L).map(s => sample(textGen, s))
    for (k <- 2 to 4) {
      val rows = texts.toDF("t")
        .select(TextFunctions.tokens(col("t")).as("tok"))
        .select(col("tok"),
          TextFunctions.shingles(col("tok"), k).as("native"),
          hofShingles(col("tok"), k).as("hof")).collect()
      rows.foreach { r =>
        val native = r.getSeq[String](1)
        val hof = if (r.isNullAt(2)) Seq.empty[String] else r.getSeq[String](2)
        assert(native == hof, s"shingles k=$k diverged on ${r.getSeq[String](0)}")
      }
    }
  }

  test("SigMatchCount == zip_with+aggregate agreement count") {
    import spark.implicits._
    val sigGen = Gen.listOfN(16, Gen.choose(-4L, 4L)) // small range -> collisions
    val sigs = (200L to 212L).map(s => sample(sigGen, s))
    val pairs = for (a <- sigs; b <- sigs) yield (a, b)
    val rows = pairs.toDF("a", "b").select(
      GraftFunctions.sigMatch(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
        .as("hof")).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // sanity: self-pairs agree fully
    assert(rows.length == sigs.size * sigs.size)
  }

  test("PQ ADC table+lookup == direct subspace dot products on generated vectors") {
    import spark.implicits._
    val dim = 16; val m = 4; val sub = dim / m; val cb = 8
    val vecGen = Gen.listOfN(dim, Gen.choose(-5.0, 5.0))
    val books: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      Array.tabulate(cb) { c =>
        sample(vecGen, 1000L + j * 31 + c).slice(j * sub, (j + 1) * sub).toArray
      }
    }
    val vecs = (300L to 330L).map(s => sample(vecGen, s))
    val rows = vecs.toDF("v")
      .select(col("v"),
        GraftFunctions.pqEncode(col("v"), books).as("codes"),
        GraftFunctions.pqAdcSum(
          GraftFunctions.pqEncode(col("v"), books),
          GraftFunctions.pqAdcTable(col("v"), books)).as("adc"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](0)
      val codes = r.getSeq[Int](1)
      assert(codes.length == m && codes.forall(c => c >= 0 && c < cb))
      // the ADC estimate of a vector against ITSELF must equal the sum of
      // its subspace dots with its own codewords, computed directly
      val direct = (0 until m).map { j =>
        val cw = books(j)(codes(j))
        (0 until sub).map(t => v(j * sub + t) * cw(t)).sum
      }.sum
      assert(math.abs(r.getDouble(2) - direct) < 1e-9)
      // each code is genuinely the argmax-cosine codeword of its subspace
      (0 until m).foreach { j =>
        def cos(cw: Array[Double]): Double = {
          val s = v.slice(j * sub, (j + 1) * sub)
          val dot = s.zip(cw).map { case (x, y) => x * y }.sum
          val na = math.sqrt(s.map(x => x * x).sum)
          val nb = math.sqrt(cw.map(x => x * x).sum)
          if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
        }
        val best = (0 until cb).maxBy(c => cos(books(j)(c)))
        assert(cos(books(j)(codes(j))) >= cos(books(j)(best)) - 1e-12)
      }
    }
  }

  test("NearestCells fast path == exact round6 ranking, incl. forced near-ties") {
    // The margin-gated fast path (raw-sim ranking + per-centroid norm
    // reuse) must be indistinguishable from the legacy loop that ranks
    // every centroid by BigDecimal-rounded cosine: d10's arm-parity
    // contract rests on it. Adversarial shapes force the close-call
    // fallback: duplicate centroids (gap 0), scaled copies (cosine
    // identical under scaling), and 1e-7-perturbed clones (raw gap
    // under the 1.1e-6 margin).
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(4242)
    def vec(dim: Int): Array[Double] = Array.fill(dim)(rnd.nextGaussian())
    for (trial <- 0 until 200) {
      val dim = 8 + rnd.nextInt(9)
      val k = 3 + rnd.nextInt(38)
      val base = Array.fill(k)(vec(dim))
      val cents: Array[Array[Double]] = trial % 4 match {
        case 0 => base
        case 1 => // duplicates: rounded ties must break by INDEX
          base.zipWithIndex.map { case (c, i) => if (i % 3 == 0) base(0) else c }
        case 2 => // scaled copies: same cosine, different vectors
          base.zipWithIndex.map { case (c, i) =>
            if (i % 2 == 0) base(i / 2 % k).map(_ * (1.0 + i)) else c }
        case _ => // sub-margin perturbations of one direction
          base.zipWithIndex.map { case (c, i) =>
            if (i % 2 == 0) {
              val a = base(0).clone(); a(0) += i * 1e-7; a
            } else c }
      }
      val v = new GenericArrayData(vec(dim).map(x => x: Any))
      val norms = NearestCellsKernel.sqrtNorms(cents)
      for (n <- Seq(1, 3, k)) {
        val fast = NearestCellsKernel
          .topN(v, DoubleType, cents, norms, n, round6 = true)
          .toIntArray().toSeq
        val exact = NearestCellsKernel.topNExact(v, DoubleType, cents, n)
          .toIntArray().toSeq
        assert(fast == exact,
          s"trial=$trial n=$n k=$k dim=$dim: fast $fast != exact $exact")
      }
    }
  }

  test("NearestCells raw ranking (round6=false) unchanged by the norm hoist") {
    // IVF/k-means rank by RAW cosine; the precomputed sqrt-norm must be
    // arithmetic-identical (same accumulation order, same divide shape)
    // to the per-row recompute it replaced.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(77)
    for (_ <- 0 until 100) {
      val dim = 4 + rnd.nextInt(13)
      val k = 2 + rnd.nextInt(30)
      val cents = Array.fill(k)(Array.fill(dim)(rnd.nextGaussian()))
      val raw = Array.fill(dim)(rnd.nextGaussian())
      val v = new GenericArrayData(raw.map(x => x: Any))
      val norms = NearestCellsKernel.sqrtNorms(cents)
      val got = NearestCellsKernel
        .topN(v, DoubleType, cents, norms, 2, round6 = false).toIntArray().toSeq
      // reference: rank by dot/(sqrt(nv)*sqrt(nc)) exactly as written
      val nv = math.sqrt(raw.map(x => x * x).sum)
      val sims = cents.map { c =>
        val dot = raw.zip(c).map { case (a, b) => a * b }.sum
        val nc = math.sqrt(c.map(x => x * x).sum)
        if (nv == 0 || nc == 0) 0.0 else dot / (nv * nc)
      }
      val want = sims.zipWithIndex
        .sortBy { case (s, i) => (-s, i) }.take(2).map(_._2).toSeq
      assert(got == want, s"raw ranking diverged: $got != $want")
    }
  }

  test("hierAssign fast path == exact rank reference, incl. forced near-ties") {
    // d10's hierarchical assignment: route top-p supers (round6 exact
    // via topN), then bestOfRound6's raw-sim scan with the margin
    // fallback. Reference recomputes the whole decision with BigDecimal
    // rounding at every rank. Adversarial shapes: duplicated centroids
    // (rounded ties -> lowest global cid), scaled copies, sub-margin
    // perturbations — each must route AND resolve identically.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(9292)
    def vec(dim: Int): Array[Double] = Array.fill(dim)(rnd.nextGaussian())
    def cos6(a: Array[Double], c: Array[Double]): Double = {
      val m = math.min(a.length, c.length)
      var dot = 0.0; var i = 0
      while (i < m) { dot += a(i) * c(i); i += 1 }
      val na = math.sqrt(a.map(x => x * x).sum)
      val nc = math.sqrt(c.map(x => x * x).sum)
      val raw = if (na == 0 || nc == 0) 0.0 else dot / (na * nc)
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    for (trial <- 0 until 200) {
      val dim = 8 + rnd.nextInt(9)
      val k = 6 + rnd.nextInt(35)
      val base = Array.fill(k)(vec(dim))
      val cents: Array[Array[Double]] = trial % 4 match {
        case 0 => base
        case 1 => base.zipWithIndex.map { case (c, i) =>
          if (i % 3 == 0) base(0) else c }
        case 2 => base.zipWithIndex.map { case (c, i) =>
          if (i % 2 == 0) base(i / 2 % k).map(_ * (1.0 + i)) else c }
        case _ => base.zipWithIndex.map { case (c, i) =>
          if (i % 2 == 0) { val a = base(0).clone(); a(0) += i * 1e-7; a }
          else c }
      }
      val (supers, members) = graft.operators.Cluster.superRoute(cents)
      val raw = vec(dim)
      val v = new GenericArrayData(raw.map(x => x: Any))
      val p = graft.operators.Cluster.HierProbes
      val got = NearestCellsKernel.hierAssign(v, DoubleType, cents,
        NearestCellsKernel.sqrtNorms(cents), supers,
        NearestCellsKernel.sqrtNorms(supers), members, p)
      val routed = supers.indices
        .sortBy(g => (-cos6(raw, supers(g)), g)).take(p)
      val cand = routed.flatMap(members(_)).sorted
      val want = cand.map(ci => (ci, cos6(raw, cents(ci))))
        .reduceLeft((a, b) => if (b._2 > a._2) b else a)._1
      assert(got == want,
        s"trial=$trial k=$k dim=$dim: hierAssign $got != ref $want")
    }
  }

  test("TopKPairsAgg's primitive update path binds on the canonical plan shape") {
    // The interpreted update path reads getLong/getDouble directly when
    // both children bind to plain references — assert that the canonical
    // topKPerQid shape (narrow (qid, nid, sim) projection feeding the
    // aggregate) actually takes that path, so the fast path isn't dead
    // code, and that its output equals the general-eval path's.
    import spark.implicits._
    val df = Seq((1L, 10L, 0.5), (1L, 11L, 0.7), (2L, 12L, 0.1))
      .toDF("qid", "nid", "sim")
    val agg = df.groupBy("qid")
      .agg(GraftFunctions.topKPairs(col("nid").cast("long"), col("sim"), 2).as("t"))
    import org.apache.spark.sql.catalyst.expressions.BindReferences
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val rows0 = agg.select(col("qid"), explode(col("t"))).collect()
    assert(rows0.length == 3)
    // the partial-mode instance is the one fed 15M-row candidate
    // streams; bind it against its child's output exactly as the exec
    // does and check the primitive path engaged (unwrap AQE's final plan)
    val finalPlan = agg.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val partials = finalPlan.collect {
      case p: HashAggregateExec if p.aggregateExpressions.exists(
          _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial) =>
        p.aggregateExpressions.map(ae =>
          BindReferences.bindReference(
            ae.aggregateFunction.asInstanceOf[
              org.apache.spark.sql.catalyst.expressions.Expression],
            p.child.output))
    }.flatten.collect { case t: TopKPairsAgg => t }
    assert(partials.nonEmpty, "expected partial TopKPairsAgg in the physical plan")
    assert(partials.exists(_.primitiveOrds != null),
      s"primitive path did not bind: children were ${partials.map(_.children)}")
  }

  test("Round6Kernel == BigDecimal HALF_UP 6dp on boundaries, negatives, extremes") {
    // The fast double-space path must be indistinguishable from Spark
    // Round's BigDecimal arithmetic — the sim6 emission and both d10
    // assignment arms rank on these values, so a single divergent ulp
    // is a hash-grade oracle failure. Adversarial inputs: exact 6dp
    // halves (decimal-string .5 exactly), band edges, negatives, tiny
    // values rounding to zero (sign of zero!), magnitudes near the 1e3
    // cutoff, and bulk random cosines.
    def chk(d: Double): Unit = {
      val fast = Round6Kernel.round6(d)
      val exact = if (d.isNaN || d.isInfinite) d else Round6Kernel.exact(d)
      assert(java.lang.Double.compare(fast, exact) == 0,
        s"round6($d): fast $fast != exact $exact")
    }
    val rnd = new scala.util.Random(99)
    for (n <- -20 to 20) {
      chk((n + 0.5) / 1e6)          // exact decimal halves
      chk((n + 0.5 + 1e-5) / 1e6)   // just outside the band, above
      chk((n + 0.5 - 1e-5) / 1e6)   // just outside the band, below
      chk((n + 0.5 + 1e-7) / 1e6)   // inside the band
      chk(n / 1e6)                  // exact 6dp values
    }
    Seq(0.0, -0.0, 1e-9, -1e-9, 1e-12, -1e-12, 0.1234565, -0.1234565,
      0.9999995, -0.9999995, 1.0, -1.0, 999.9999995, -999.9999995,
      1000.0000005, 1e6 + 0.1234565, -1e6 - 0.1234565,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, -Double.MinPositiveValue).foreach(chk)
    var i = 0
    while (i < 2000000) {
      chk(rnd.nextDouble() * 2 - 1) // the cosine domain
      i += 1
    }
    i = 0
    while (i < 200000) {
      chk(rnd.nextGaussian() * math.pow(10, rnd.nextInt(12) - 8))
      i += 1
    }
  }

  test("GF.round6 column == Spark round(col, 6) end-to-end") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vals = Seq.fill(5000)(rnd.nextDouble() * 2 - 1) ++
      (-9 to 9).map(n => (n + 0.5) / 1e6) ++ Seq(0.0, -1e-9, 0.1234565)
    val rows = vals.toDF("x")
      .select(col("x"), GraftFunctions.round6(col("x")).as("fast"),
        round(col("x"), 6).as("spark"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(1), r.getDouble(2)) == 0,
        s"column round6 diverged on x=${r.getDouble(0)}")
    }
  }

  test("Tokens participates in whole-stage codegen (no CodegenFallback boxing)") {
    // r8 flag: a CodegenFallback tokenizer broke the codegen span of
    // every text-family scan — the hottest loop in the pipeline at
    // 100 TB. Pin that the generated code calls the static kernel
    // directly (and that nothing in the span routes through the
    // interpreted-eval fallback).
    import org.apache.spark.sql.execution.debug._
    val df = graft.Engine.table(spark, graft.TestSpark.sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
    val code = df.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
    assert(code.contains("GraftHash.tokenize"),
      "tokenizer must compile into the whole-stage-codegen span")
    assert(!code.contains("CodegenFallback"), "no fallback boxing in the token scan")
  }

  // ---- ExactDec10: the proven fast path of cast(double AS DECIMAL(38,10))

  private val two17 = 131072.0

  /** Every edge class the ExactDec10 proof distinguishes, plus money-like
    * products and 6dp values (the shapes dsum actually sees). None = NULL. */
  private def exactDecInputs: Seq[Option[Double]] = {
    val rnd = new scala.util.Random(11)
    def around(x: Double) = Seq(x, Math.nextUp(x), Math.nextDown(x))
    val money = Seq.fill(400) {
      val price = rnd.nextInt(10000000) / 100.0
      val disc = rnd.nextInt(11) / 100.0
      val qty = (1 + rnd.nextInt(50)).toDouble
      rnd.nextInt(3) match {
        case 0 => price * (1 - disc)
        case 1 => price * (1 - disc) * (1 + disc / 2)
        case _ => qty * price // often >= 2^17: the fallback side
      }
    }
    val sixDp = Seq.fill(300) {
      new java.math.BigDecimal(rnd.nextDouble() * 2e5 - 1e5)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    val magnitudes = for (e <- -14 to 20; _ <- 1 to 4)
      yield (rnd.nextDouble() - 0.5) * math.pow(10, e)
    // just past the 2^17 limit, where an ulp outgrows the proof's margin
    val pastLimit = Seq.fill(100)(two17 + rnd.nextDouble() * 1.6e7)
    val grid = Seq.fill(150)(rnd.nextLong() % 1310720000000000L)
      .flatMap(k => around(k / 1e10))
    val halves = Seq.fill(150)(rnd.nextLong() % 1310720000000000L)
      .flatMap(k => around((k + 0.5) / 1e10)) ++
      Seq(5e-11, -5e-11, 1.5e-10, 2.5e-10, 0.12345678905, 1234.00000000005)
        .flatMap(around)
    val edges = Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      1e-310, -1e-310, java.lang.Double.MIN_NORMAL, 1e-11, 4.9e-11,
      two17, -two17, Math.nextDown(two17), Math.nextUp(-two17),
      Math.nextUp(two17), 1e20, -1e27, 9.99e27, 1e30, -1e29,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    (money ++ sixDp ++ magnitudes ++ pastLimit ++ grid ++ halves ++ edges).map(Some(_)) ++
      Seq(None, None)
  }

  private def doubles(xs: Seq[Option[Double]], g: Int => Int = _ => 0) = {
    import org.apache.spark.sql.Row
    val rows = xs.zipWithIndex.map { case (x, i) => Row(g(i), x.orNull) }
    // an RDD source, not a local relation: the projection must run in the
    // generated (or interpreted) operator, not be folded on the driver
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("g", IntegerType), StructField("x", DoubleType))))
  }

  /** A result or the error's condition + parameters (the query context
    * names a call site, so it is left out of the comparison). */
  private def outcome(f: => Seq[org.apache.spark.sql.Row]): Either[String, Seq[Seq[Any]]] =
    try Right(f.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }))
    catch {
      case t: Throwable =>
        val st = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .collectFirst { case s: org.apache.spark.SparkThrowable => s }
        Left(st.map(s => s"${s.getCondition} ${s.getMessageParameters}")
          .getOrElse(t.getClass.getName))
    }

  /** Run `f` under ANSI on/off x whole-stage codegen on, off, and fully
    * interpreted expressions. */
  private def inEveryMode(f: String => Unit): Unit =
    for (ansi <- Seq("true", "false");
         (wsc, factory) <- Seq("true" -> "FALLBACK", "false" -> "FALLBACK",
           "false" -> "NO_CODEGEN")) {
      val keys = Seq("spark.sql.ansi.enabled" -> ansi,
        "spark.sql.codegen.wholeStage" -> wsc,
        "spark.sql.codegen.factoryMode" -> factory)
      val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      try f(s"ansi=$ansi wholeStage=$wsc factory=$factory")
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  /** Whether [[ExactDecKernel]] answers `x` at `scale`; fails when an
    * answer differs from Double.toString -> BigDecimal HALF_UP. */
  private def provenAgrees(x: Double, scale: Int): Boolean = {
    val u = ExactDecKernel.unscaled(x, scale)
    u != ExactDecKernel.NotProven && {
      val ref = new java.math.BigDecimal(java.lang.Double.toString(x))
        .setScale(scale, java.math.RoundingMode.HALF_UP).unscaledValue
      assert(java.math.BigInteger.valueOf(u) == ref, s"kernel diverged on x=$x at scale $scale")
      true
    }
  }

  test("ExactDec10Kernel == Double.toString -> BigDecimal HALF_UP 10dp wherever it answers") {
    val rnd = new scala.util.Random(5)
    var fast = 0
    for (i <- 0 until 300000) {
      val x = i % 4 match {
        case 0 => rnd.nextDouble() * 2 * two17 - two17
        case 1 => (rnd.nextLong() % 1310720000000000L + 0.5 * rnd.nextInt(2)) / 1e10
        case 2 => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(24) - 16)
        case _ => java.lang.Double.longBitsToDouble(rnd.nextLong())
      }
      if (provenAgrees(x, 10)) fast += 1
    }
    assert(fast > 100000, s"only $fast of 300000 took the fast path")
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      5e-11, -5e-11, 1e20, 4.0 * two17)
      .foreach(x => assert(ExactDecKernel.unscaled(x, 10) == ExactDecKernel.NotProven, s"x=$x"))
    // exact integers past the old |x| < 2^17 limit, inside the ulp bound
    Seq(two17, -two17, 2 * two17 - 1, 0.0, -0.0)
      .foreach(x => assert(provenAgrees(x, 10), s"x=$x"))
  }

  test("ExactDecKernel at scale 12 == BigDecimal HALF_UP 12dp wherever it answers, float-widened inputs included") {
    val rnd = new scala.util.Random(12)
    var fast = 0
    var widened = 0
    for (i <- 0 until 300000) {
      val x = i % 5 match {
        case 0 => (rnd.nextFloat() * 2 - 1).toDouble // a float embedding element
        case 1 => ((rnd.nextFloat() - 0.5f) * 16384f).toDouble
        case 2 => (rnd.nextLong() % 10000000000000000L + 0.5 * rnd.nextInt(2)) / 1e12
        case 3 => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(24) - 16)
        case _ => java.lang.Double.longBitsToDouble(rnd.nextLong())
      }
      if (provenAgrees(x, 12)) { fast += 1; if (i % 5 < 2) widened += 1 }
    }
    assert(fast > 100000 && widened > 80000, s"fast path: $fast of 300000, $widened widened floats")
    // |x| * 10^12 past 2^62 (a long's reach) and past the ulp bound
    Seq(Double.NaN, Double.NegativeInfinity, 5e-13, -5e-13, 8192.5, 4.7e6, -1e7, 1e20,
      Double.MaxValue)
      .foreach(x => assert(ExactDecKernel.unscaled(x, 12) == ExactDecKernel.NotProven, s"x=$x"))
    Seq(0.1f.toDouble, -0.7f.toDouble, 4096.0, -8191.0, 1e-12, Double.MinPositiveValue)
      .foreach(x => assert(provenAgrees(x, 12), s"x=$x"))
  }

  test("ExactDecSums == exact BigDecimal sums of the 12dp cast, past a long's reach too") {
    val rnd = new scala.util.Random(13)
    // cell 0 sums proven values past Long.MaxValue unscaled; cell 1
    // mixes signs; cell 2 holds values the kernel cannot prove
    val xs = Seq.tabulate(30000)(i => i % 3 -> (i % 3 match {
      case 0 => rnd.nextFloat().toDouble * 2000
      case 1 => (rnd.nextFloat() - 0.5f).toDouble
      case _ => Seq(5e-13, 1e20, -3e7, rnd.nextDouble() * 1e9)(i / 3 % 4)
    }))
    val sums = new ExactDecSums(3, 12)
    val ref = Array.fill(3)(java.math.BigDecimal.valueOf(0L, 12))
    for ((c, x) <- xs) {
      sums.add(c, x)
      ref(c) = ref(c).add(java.math.BigDecimal.valueOf(x).setScale(12, java.math.RoundingMode.HALF_UP))
    }
    assert(ref(0).unscaledValue.bitLength > 63, "cell 0 must overflow a long")
    for (c <- 0 until 3) {
      assert(sums.sum(c) == ref(c), s"cell $c")
      assert(sums.counts(c) == 10000L)
      assert(sums.sum(c).doubleValue == ref(c).doubleValue)
    }
  }

  test("Engine.exactDec == cast(x AS DECIMAL(38,10)) in value and error, every codegen mode") {
    val xs = exactDecInputs
    val fast = xs.flatten.count(x => ExactDecKernel.unscaled(x, 10) != ExactDecKernel.NotProven)
    assert(fast > xs.size / 2 && fast < xs.size - 20, s"fast $fast of ${xs.size}")
    // NaN, +-Inf and values past DECIMAL(38,10)'s range may raise under
    // ANSI: they run one at a time, so one error cannot mask another
    def raising(x: Double) = x.isNaN || x.isInfinite || math.abs(x) >= 1e28
    val df = doubles(xs.filterNot(_.exists(raising)), i => i)
    inEveryMode { mode =>
      val got = outcome(df.select(col("x"), graft.Engine.exactDec(col("x"))).collect().toSeq)
      val ref = outcome(df.select(col("x"), col("x").cast(graft.Engine.DEC)).collect().toSeq)
      val firstDiff = (got, ref) match {
        case (Right(g), Right(r)) => g.zip(r).find { case (a, b) => a != b }
        case _ => Some((got.left.toOption, ref.left.toOption))
      }
      assert(firstDiff.isEmpty && got.isRight,
        s"[$mode] exactDec diverged from the cast: ${firstDiff.getOrElse("")}")
      // non-double inputs always take the cast
      for (c <- Seq(col("g") * 7919 - 40000,
          when(abs(col("x")) < 1e15, col("x")).cast(DecimalType(30, 12)),
          col("x").cast(FloatType))) {
        val nd = df.select(graft.Engine.exactDec(c))
        assert(outcome(nd.collect().toSeq) ==
          outcome(df.select(c.cast(graft.Engine.DEC)).collect().toSeq),
          s"[$mode] non-double input $c diverged")
      }
      for (x <- xs.flatten if raising(x)) {
        val one = doubles(Seq(Some(x)))
        assert(outcome(one.select(graft.Engine.exactDec(col("x"))).collect().toSeq) ==
          outcome(one.select(col("x").cast(graft.Engine.DEC)).collect().toSeq),
          s"[$mode] diverged on x=$x")
      }
    }
  }

  test("dsum/davg == decOut(sum(cast DEC)) over mixed, all-NULL and empty groups") {
    import graft.Engine.{DEC, davg, decOut, dsum}
    def oldDsum(c: org.apache.spark.sql.Column) = decOut(sum(c.cast(DEC)))
    def oldDavg(c: org.apache.spark.sql.Column) =
      round(sum(c.cast(DEC)).cast(DoubleType) / count(c), 6)
    val rnd = new scala.util.Random(23)
    // g0 fast-path only, g1 mixed fast/fallback, g2 all NULL, g3 carries
    // NaN and Inf (an ANSI error or a NULL cast, per mode)
    val g0 = Seq.fill(200)(Some(rnd.nextInt(10000000) / 100.0 * (1 - rnd.nextInt(11) / 100.0)))
    val g1 = Seq.fill(200)(Some(rnd.nextDouble() * 1e6 - 5e5)) ++
      Seq(Some(5e-11), Some(two17 + 0.3), Some(1e20), Some(-1e20), None)
    val g2 = Seq.fill(5)(None)
    val g3 = Seq(Some(1.5), Some(Double.NaN), Some(Double.PositiveInfinity), None)
    val groups = Seq(g0, g1, g2)
    val finite = doubles(groups.flatten, {
      val sizes = groups.map(_.size).scanLeft(0)(_ + _)
      i => sizes.lastIndexWhere(_ <= i)
    })
    val special = doubles(g3, _ => 3)
    val empty = finite.filter(lit(false))
    def check(df: org.apache.spark.sql.DataFrame, mode: String, what: String): Unit = {
      val agg = Seq(
        (dsum(col("x")), oldDsum(col("x"))), (davg(col("x")), oldDavg(col("x"))))
      for ((got, ref) <- agg) {
        assert(outcome(df.groupBy("g").agg(got).orderBy("g").collect().toSeq) ==
          outcome(df.groupBy("g").agg(ref).orderBy("g").collect().toSeq),
          s"[$mode] grouped $what diverged")
        assert(outcome(df.agg(got).collect().toSeq) == outcome(df.agg(ref).collect().toSeq),
          s"[$mode] global $what diverged")
      }
    }
    inEveryMode { mode =>
      check(finite, mode, "finite")
      check(special, mode, "NaN/Inf")
      check(empty, mode, "empty")
    }
    // the groups really do split across the two paths
    assert(g0.flatten.forall(x => ExactDecKernel.unscaled(x, 10) != ExactDecKernel.NotProven))
    assert(g1.flatten.exists(x => ExactDecKernel.unscaled(x, 10) == ExactDecKernel.NotProven))
    assert(finite.groupBy("g").agg(dsum(col("x"))).collect()
      .exists(r => r.getInt(0) == 2 && r.isNullAt(1)), "an all-NULL group sums to NULL")
  }

  test("q05's partial aggregate calls the ExactDec10 kernel inside whole-stage codegen") {
    // q05's dsum is the hottest exact sum of the olap bench: pin that its
    // cast runs as the static kernel call in the generated loop, with no
    // interpreted-eval fallback anywhere in the query's code
    val df = graft.SparkEntry.queries("q05_nation_revenue")(spark, graft.TestSpark.sf)
    df.collect() // AQE: the generated stages exist once the final plan does
    val stages = df.queryExecution.debug.codegenToSeq()
    // the stage whose root (first line) is the partial aggregate
    val partial = stages.filter(_._1.linesIterator.next().contains("partial_sum"))
    assert(partial.nonEmpty, stages.map(_._1).mkString("\n"))
    assert(partial.forall(_._2.contains("graft.functions.ExactDecKernel.unscaled(")),
      "the partial aggregate must call the kernel's static method")
    assert(!stages.exists(_._2.contains("CodegenFallback")), "no fallback boxing in q05")
  }
}
