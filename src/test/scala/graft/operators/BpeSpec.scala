package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("BPE learns the classic toy-corpus merges in frequency order") {
    // "low" x5, "lower" x2, "newest" x6, "widest" x3 — the Sennrich
    // running example. Highest pair: (e,s) 9 (newest+widest), then
    // (es,t) 9, then (l,o) 7 (low+lower), ...
    val docs = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    ).zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    // NOTE: trainMerges counts word TYPES from the token stream; here
    // every doc is one word, so stream counts == the example's counts
    val m = Bpe.trainMerges(docs, "text", 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m(0) == ((1, "e", "s", 9L)))
    assert(m(1) == ((2, "es", "t", 9L)))
    assert(m(2) == ((3, "l", "o", 7L)))
    // 4th merge: remaining top pair is (lo,w) 7
    assert(m(3) == ((4, "lo", "w", 7L)))
  }

  test("merge application is greedy left-to-right (no overlap reuse)") {
    val docs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val out = Bpe.applyMerges(docs, "text", Seq(("a", "a")))
      .select("bpe_tokens").as[Seq[String]].head
    assert(out == Seq("aa", "a"), s"got $out")
  }

  test("training is deterministic and ranks strictly ordered") {
    val docs = Seq.tabulate(40)(i => (i.toLong, s"pack my box with five dozen jugs item$i"))
      .toDF("doc_id", "text")
    val a = Bpe.trainMerges(docs, "text", 6).collect().toSeq
    val b = Bpe.trainMerges(docs.repartition(7), "text", 6).collect().toSeq
    assert(a == b, "merge sequence changed under repartitioning")
    assert(a.map(_.getInt(0)) == (1 to a.size).toSeq)
  }

  test("native kernel == fold composition at 256 merges (property parity)") {
    // Deterministic 256-entry merge table over a 5-letter alphabet:
    // char-char pairs seed chains whose merged tokens feed later merges
    // (ab, abc, abcd, ...), so passes genuinely cascade; plus pairs that
    // never occur (skip path) and pairs over already-merged tokens.
    val alpha = "abcde"
    val charPairs = for (l <- alpha; r <- alpha) yield (l.toString, r.toString)
    val chains = Seq.tabulate(100) { i =>
      val base = alpha((i % 5)).toString
      val grown = (0 to (i % 4)).map(j => alpha((i + j) % 5)).mkString
      (grown, base) // e.g. ("ab","a"), ("bcd","b") — longer left sides
    }
    val merged = Seq.tabulate(131)(i =>
      (alpha(i % 5).toString + alpha((i + 1) % 5), alpha((i + 2) % 5).toString))
    val merges = (charPairs.toSeq ++ chains ++ merged).take(256)
    assert(merges.size == 256)
    // strings that stress the edges: empty, single char, long repeats,
    // alternations, and pseudo-random mixes (fixed seed)
    val rnd = new scala.util.Random(42)
    val texts = Seq("", "a", "aaaaaaaaaaaaaaaa", "ababababab", "edcba",
      "abcdeabcdeabcde") ++
      Seq.tabulate(40)(_ => (0 until rnd.nextInt(30))
        .map(_ => alpha(rnd.nextInt(5))).mkString)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val native = Bpe.applyMerges(docs, "text", merges)
      .select("doc_id", "bpe_tokens").as[(Long, Seq[String])].collect().sortBy(_._1)
    // the fold form is EXACTLY the ceiling being tested: at 256 nested
    // HOF layers the analyzer's default 100 resolution iterations are
    // not even enough to resolve the tree — crank them for the oracle
    // run only (the native kernel needs no such accommodation)
    val prevIters = spark.conf.getOption("spark.sql.analyzer.maxIterations")
    spark.conf.set("spark.sql.analyzer.maxIterations", "2000")
    val fold =
      try Bpe.applyMergesFold(docs, "text", merges)
        .select("doc_id", "bpe_tokens").as[(Long, Seq[String])].collect().sortBy(_._1)
      finally prevIters match {
        case Some(v) => spark.conf.set("spark.sql.analyzer.maxIterations", v)
        case None => spark.conf.unset("spark.sql.analyzer.maxIterations")
      }
    assert(native.toSeq == fold.toSeq)
    // round trip: tokens concatenate back to the input
    native.foreach { case (i, toks) =>
      assert(toks.mkString("") == texts(i.toInt)) }
  }

  test("driver-local and distributed training regimes learn identical merges") {
    // r18 dual-regime (the d05 pattern): vocab-bounded driver arm vs
    // the distributed loop, forced via TestSpark.distributed.
    // Corpus engineered with count ties (so the (c DESC, l, r)
    // tie-break is exercised), repeats inside words (greedy
    // non-overlap), and cascading merges.
    val docs = (
      Seq.fill(4)("banana") ++ Seq.fill(4)("bandana") ++
        Seq.fill(3)("aaa bbb aaa") ++ Seq.fill(2)("abab cdcd abab") ++
        Seq.fill(5)("mississippi")
    ).zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val local = Bpe.trainMerges(docs, "text", 8).collect().toSeq
    val dist = TestSpark.distributed(Bpe.trainMerges(docs, "text", 8).collect().toSeq)
    assert(local == dist, s"regimes diverged:\n  local=$local\n  dist=$dist")
  }

  test("applying the learned merges shrinks the symbol stream") {
    val docs = Seq.tabulate(30)(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, "text", 6).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val toks = Bpe.applyMerges(docs.limit(1), "text", merges)
      .select("bpe_tokens").as[Seq[String]].head
    val raw = "the quick brown fox jumps over the lazy dog".length
    assert(toks.size < raw, s"merges did not shrink: ${toks.size} vs $raw")
    assert(toks.mkString("") == "the quick brown fox jumps over the lazy dog",
      "concatenating BPE tokens must reproduce the text")
  }
}
