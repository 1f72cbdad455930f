package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"),   // exact dup of 1
    (4L, "completely different content about spark query engines and columnar storage formats"),
    (5L, "another unrelated document mentioning aggregation joins and shuffle partitions")
  ).toDF("doc_id", "text")

  test("exact dedup groups by content hash, keeps lowest id") {
    val g = Dedup.exactGroups(corpus).collect()
    assert(g.length == 4) // 1&3 collapse
    val dupGroup = g.find(_.getLong(2) == 2L).get
    assert(dupGroup.getLong(1) == 1L) // keep_id = min(1,3)
    val s = Dedup.exactSurvivors(corpus).select("doc_id").as[Long].collect().sorted
    assert(s.toSeq == Seq(1L, 2L, 4L, 5L))
  }

  test("minhash LSH finds near-dup pair, not unrelated ones") {
    val pairs = Dedup.minhashCandidates(corpus, minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exact dup pair must score 1.0
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 1.0))
    // near-dup pair (differs in last word) must be found with high score
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 > 0.5))
    // unrelated docs must not pair
    assert(!pairs.exists(p => p._2 == 4L || p._2 == 5L))
  }

  test("simhash: exact dups at hamming 0, near-dups close, unrelated far") {
    // maxHamming 63 = 64 one-bit chunks: every pair not at distance 64
    // shares a chunk, so recall is total and every distance is observable
    val pairs = Dedup.simhashPairs(corpus, maxHamming = 63)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 3L)) == 0)
    // (1,2) differ by one token -> few flipped weight sums -> small distance
    pairs.get((1L, 2L)).foreach(h => assert(h <= 16))
    // unrelated docs never collide at distance 0
    assert(!pairs.exists(p => p._2 == 0 && p._1 != ((1L, 3L))))
  }

  test("incremental dedup vs corpus: exact dup, near-dup, and fresh doc") {
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (101L, "some existing corpus document about distributed query processing at scale")
    ).toDF("doc_id", "text")
    val fresh = "a genuinely new document discussing watermark semantics in stream joins"
    val newDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 100
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 100
      (3L, fresh),
      (4L, fresh) // in-batch exact dup of 3
    ).toDF("doc_id", "text")
    val survivors = Dedup.dedupAgainstCorpus(newDocs, corpus, minEstJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(survivors.toSeq == Seq(3L))
  }

  test("ngram jaccard: exact dup = 1.0, near-dup high, ordering sane") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 3L)) == 1.0)
    assert(pairs((1L, 2L)) > 0.7)
    assert(!pairs.contains((1L, 4L)) || pairs((1L, 4L)) < 0.1)
  }

  test("near-dup clustering: transitive closure + lowest-id survivor") {
    import org.apache.spark.sql.functions.col
    // chain 1-2, 2-6 (transitive: {1,2,6}), island {4,5}, singleton 3
    val pairs = Seq((1L, 2L), (2L, 6L), (4L, 5L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val cc = Dedup.nearDupClusters(pairs, nodes)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(cc(1L) == (1L, true))
    assert(cc(2L) == (1L, false))
    assert(cc(6L) == (1L, false)) // transitivity: 6 reaches 1 via 2
    assert(cc(3L) == (3L, true))  // singleton survives as its own cluster
    assert(cc(4L) == (4L, true))
    assert(cc(5L) == (4L, false))
    // the distributed fixpoint (forced via TestSpark.distributed) must
    // produce byte-identical labels to the driver union-find path
    val dist = TestSpark.distributed(Dedup.nearDupClusters(pairs, nodes)
      .collect()).map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(dist == cc)
  }

  test("CC runs directly on STRING labels; both regimes pick the min name") {
    import org.apache.spark.sql.functions.col
    // the d16 shape: node ids are the entity names themselves — no
    // dense-ID rank mapping anywhere (min-label needs only an order)
    val pairs = Seq(("beta", "gamma"), ("alpha", "beta"), ("delta", "echo"))
      .toDF("id_a", "id_b")
    val nodes = Seq("alpha", "beta", "gamma", "delta", "echo", "zeta").toDF("id")
    val drv = Dedup.nearDupClusters(pairs, nodes)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(drv("alpha") == ("alpha", true))
    assert(drv("beta") == ("alpha", false))
    assert(drv("gamma") == ("alpha", false)) // transitive via beta
    assert(drv("delta") == ("delta", true))
    assert(drv("echo") == ("delta", false))
    assert(drv("zeta") == ("zeta", true)) // isolate survives alone
    // distributed fixpoint must agree byte-for-byte on strings too
    val dist = TestSpark.distributed(Dedup.nearDupClusters(pairs, nodes)
      .collect()).map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(dist == drv)
  }

  test("CC regimes agree on random graphs (chains, stars, cycles, isolates)") {
    import spark.implicits._
    // deterministic pseudo-random graphs exercising deep chains (the
    // pointer-jumping path), high-degree stars, cycles, and isolates
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(40)
      val ids = (0L until n.toLong).toSeq
      val edges = Seq.newBuilder[(Long, Long)]
      // random edges
      (1 to n / 2).foreach { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a != b) edges += ((math.min(a, b), math.max(a, b)))
      }
      // one long chain (depth stresses the fixpoint round count)
      val chain = rnd.shuffle(ids.toList).take(10)
      chain.sliding(2).foreach { case Seq(a, b) =>
        edges += ((math.min(a, b), math.max(a, b))); case _ => }
      val pairs = edges.result().distinct.toDF("id_a", "id_b")
      val nodes = ids.toDF("id")
      val small = Dedup.nearDupClusters(pairs, nodes)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val dist = TestSpark.distributed(Dedup.nearDupClusters(pairs, nodes)
        .collect()).map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(dist == small, s"trial $trial: regimes disagree")
      // the STRING-label arm must produce the isomorphic clustering on
      // the same graph: zero-padded labels order like the numbers, so
      // every (node, cluster, survivor) triple maps 1:1
      def s(x: Long) = f"n$x%03d"
      val sPairs = edges.result().distinct.map { case (a, b) => (s(a), s(b)) }
        .toDF("id_a", "id_b")
      val sNodes = ids.map(s).toDF("id")
      def strArm = Dedup.nearDupClusters(sPairs, sNodes).collect()
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
      for ((regime, got) <- Seq("local" -> strArm,
          "distributed" -> TestSpark.distributed(strArm)))
        assert(got == small.map { case (a, b, c) => (s(a), s(b), c) },
          s"trial $trial: string arm ($regime) diverges")
      // every node labeled exactly once, every cluster label is a member
      assert(small.size == n)
      val byCluster = small.groupBy(_._2)
      byCluster.foreach { case (lbl, members) =>
        assert(members.exists(_._1 == lbl), s"cluster $lbl lacks its root")
        assert(members.count(_._3) == 1, s"cluster $lbl survivor count != 1")
        assert(members.map(_._1).min == lbl, s"cluster $lbl root not the min id")
      }
    }
  }

  test("bloom membership dedup is exact: dups dropped, uniques kept") {
    val corpusDf = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (101L, "an existing corpus document about distributed query processing at scale")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // dup of 100
      (2L, "a fresh document that does not exist in the corpus at all"),
      (3L, "an existing corpus document about distributed query processing at scale") // dup of 101
    ).toDF("doc_id", "text")
    val out = Dedup.bloomMembershipDedup(batch, corpusDf)
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(2L))
    // a tiny/aggressive filter (high fpp) must not change the RESULT —
    // false positives are caught by the exact verification join
    val outHighFpp = Dedup.bloomMembershipDedup(batch, corpusDf, fpp = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(outHighFpp.toSeq == Seq(2L))
  }

  test("decontamination drops train docs sharing an 8-gram with eval") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // exactly 8 tokens
    val train = Seq(
      (1L, s"prefix words then $shared and a tail of different content here"),
      (2L, "no overlap with the benchmark at all in this training document text"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota broken eight gram here")
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, s"question text containing $shared as the leaked answer span")
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, eval_).select("doc_id").as[Long]
      .collect().sorted
    // doc 1 leaks the full 8-gram -> dropped; doc 3 shares only a 7-token
    // prefix -> kept; doc 2 untouched
    assert(out.toSeq == Seq(2L, 3L))
  }

  test("property: hammingNeighborPairs == brute force on random signatures") {
    // random 64-bit signatures with planted near-neighbors; checked at
    // several radii so chunk widths of 64/(r+1) bits — including the
    // uneven-split boundaries — are all exercised
    val rnd = new scala.util.Random(1234)
    val base = Seq.fill(60)(rnd.nextLong())
    val sigs: Seq[(Long, Long)] = (base ++ base.take(20).map { s =>
      // plant a neighbor: flip 1-8 random bits
      (0 until 1 + rnd.nextInt(8)).foldLeft(s)((x, _) => x ^ (1L << rnd.nextInt(64)))
    }).zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = sigs.toDF("id", "sig")
    for (radius <- Seq(0, 3, 6, 10)) {
      val got = Dedup.hammingNeighborPairs(df, radius)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val want = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= radius
      } yield (ia, ib)).toSet
      assert(got == want, s"radius=$radius missing=${(want -- got).take(5)} " +
        s"extra=${(got -- want).take(5)}")
    }
  }

  test("entityPairs: df cap drops the stopword block, keeps discriminative ones") {
    // "the" appears in every name: without the cap it would pair all
    // four names quadratically; with dfCap=3 its block is dropped and
    // only the discriminative tokens (red, gear) generate candidates
    val parts = Seq(
      "the red bolt", "the red boat", "the blue gear", "the wide gear",
      "the red bolt" // duplicate row: rows_a/rows_b must count it
    ).toDF("p_name")
    val got = Dedup.entityPairs(parts, maxDist = 3, dfCap = 3L)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(
      ("the red boat", "the red bolt", 1, 1L, 2L),
      ("the blue gear", "the wide gear", 3, 1L, 1L)))

    // control: a cap that admits "the" pairs every name pair within
    // distance reach — the blocking, not the distance filter, is what
    // keeps candidate generation bounded
    val uncapped = Dedup.entityPairs(parts, maxDist = 20, dfCap = 10L)
    assert(uncapped.count() == 6) // all C(4,2) name pairs
  }
}
