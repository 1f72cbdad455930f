package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Star K_{1,4} (hub 0) plus an isolated node 9, directed both ways. */
  private def starEdges = {
    val p = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("id_a", "id_b")
    p.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionByName(p.select($"id_b".as("src"), $"id_a".as("dst")))
  }
  private def starNodes = Seq(0L, 1L, 2L, 3L, 4L, 9L).toDF("id")

  test("pageRank: hub outranks leaves; isolated node keeps the floor") {
    val r = Graph.pageRank(starEdges, starNodes, iters = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.size === 6)
    // every leaf sends its full rank to the hub; the hub splits over 4
    assert(r(0L) > r(1L), s"hub ${r(0L)} should outrank leaf ${r(1L)}")
    // leaves are symmetric -> identical ranks
    assert(Set(r(1L), r(2L), r(3L), r(4L)).size === 1)
    // no in-edges: rank = (1-d) exactly, every iteration
    assert(r(9L) === 0.2)
  }

  test("pageRank: fixpoint of the regular ring is the initial rank") {
    // 2-regular ring: every node gives half to each neighbor and
    // receives two halves back -> rank 1.0 is stationary (0.2 + 0.8*1)
    val ring = (0 until 6).map(i => (i.toLong, ((i + 1) % 6).toLong))
      .toDF("src", "dst")
    val sym = ring.unionByName(
      ring.select($"dst".as("src"), $"src".as("dst")))
    val nodes = (0 until 6).map(_.toLong).toDF("id")
    val r = Graph.pageRank(sym, nodes, iters = 5)
      .collect().map(_.getDouble(1))
    assert(r.forall(_ === 1.0), s"ring ranks drifted: ${r.mkString(",")}")
  }

  test("pageRank: rank mass stays ~|V| on a connected graph") {
    // undirected connected graph => no dangling mass leaks; total rank
    // converges to |V| (up to the 6dp per-round rounding)
    val r = Graph.pageRank(starEdges, starNodes.filter($"id" =!= 9L), 8)
      .agg(sum("rank")).head.getDouble(0)
    assert(math.abs(r - 5.0) < 1e-3, s"total rank $r, expected ~5")
  }

  test("labelPropagation: fixed-point diffusion, isolated seeds, determinism") {
    // path graph 0-1-2 with seeds 0.0, 1.0, 0.0 (in micros), plus
    // isolated node 3 seeded 0.7
    val p = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val seeds = Seq((0L, 0L), (1L, 1000000L), (2L, 0L), (3L, 700000L))
      .toDF("id", "micros")
    val got = Graph.labelPropagation(p, seeds, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // hand-rolled fixed point: iter1: m(0)=m(2)=1e6, m(1)=(0+0)/2=0
    //   s(0)=s(2)=(2*0+8*1e6)/10=800000; s(1)=(2*1e6+8*0)/10=200000
    // iter2: m(0)=m(2)=200000, m(1)=(800000+800000)/2=800000
    //   s(0)=s(2)=(2*800000+8*200000)/10=320000
    //   s(1)=(2*200000+8*800000)/10=680000
    assert(got(0L) === 0.32 && got(2L) === 0.32 && got(1L) === 0.68,
      s"got $got")
    // the isolated node's score is EXACTLY its seed after any rounds
    assert(got(3L) === 0.7)
    // partitioning-independent: integer arithmetic has no order ties
    val got7 = Graph.labelPropagation(p.repartition(7), seeds.repartition(5),
      iters = 2).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got7 === got)
  }

  test("triangleCounts: hand-counted toy graph, orientation-independent") {
    // K4 on {0,1,2,3} (4 triangles, every node in 3) + a pendant edge
    // 3-4 (no triangle) + isolated node 5
    val k4 = for {
      a <- 0L to 3L; b <- (a + 1) to 3L
    } yield (a, b)
    val pairs = (k4 :+ (3L, 4L)).toDF("id_a", "id_b")
    val nodes = (0L to 5L).toDF("id")
    val got = Graph.triangleCounts(pairs, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 0L, 5L -> 0L))
    // the degree orientation enumerates the same triangle set as a
    // brute-force reference on an irregular graph (star + one chord:
    // only {0,1,2} closes)
    val star = (Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (1L, 2L)))
      .toDF("id_a", "id_b")
    val got2 = Graph.triangleCounts(star, (0L to 4L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 0L, 4L -> 0L))
    // partitioning-independent
    val got7 = Graph.triangleCounts(pairs.repartition(7), nodes.repartition(3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got7 == got)
  }

  test("kCorePeel: chain peels away, clique survives, rounds converge") {
    // triangle {0,1,2} + pendant chain 2-3-4: round 1 drops 4 (deg 1),
    // round 2 drops 3 (its degree fell to 1), triangle stays 2-core
    val p = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L))
    val edges = (p ++ p.map(_.swap)).toDF("src", "dst")
    val nodes = (0L to 4L).toDF("id")
    val got = Graph.kCorePeel(edges, nodes, k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 0L, 4L -> 0L))
    // already-converged: an extra round changes nothing
    val got4 = Graph.kCorePeel(edges, nodes, k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got4 == got)
  }

  test("driver-local and distributed regimes agree on every iterative operator") {
    // r18 dual-regime parity (the d05 pattern): a fixed pseudo-random
    // multigraph with hubs, duplicate edges, self-referential degrees,
    // nodes missing from the node table, and seeds outside the edge
    // set — every membership subtlety the driver arms replicate.
    // TestSpark.distributed forces the distributed loops.
    val rnd = new scala.util.Random(7)
    val raw = Seq.tabulate(400)(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val edges = (raw ++ raw.take(30)).toDF("src", "dst") // dup edges
    val nodes = (0L to 45L).filter(_ != 7L).toDF("id") // 7 in edges, not in nodes
    val seeds = Seq(0L, 3L, 44L).toDF("id") // 44 isolated
    val seedScores = (0L to 45L).filter(_ != 7L)
      .map(i => (i, (i % 11) * 100000L)).toDF("id", "micros")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
    def both(f: => org.apache.spark.sql.DataFrame): (Seq[Seq[Any]], Seq[Seq[Any]]) =
      (rows(f), TestSpark.distributed(rows(f)))
    val checks: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("pageRank", () => Graph.pageRank(edges, nodes, iters = 3)),
      ("labelPropagation", () => Graph.labelPropagation(edges, seedScores, iters = 2)),
      ("kCorePeel", () => Graph.kCorePeel(edges, nodes, k = 2, rounds = 3)),
      ("bfsHops", () => Graph.bfsHops(edges, seeds, rounds = 3)),
      ("hits", () => Graph.hits(edges, nodes, iters = 2)))
    checks.foreach { case (name, f) =>
      val (local, dist) = both(f())
      assert(local == dist, s"$name: regimes diverged")
      assert(local.nonEmpty, s"$name: empty result")
    }
    // the distributed kCorePeel is the delta-degree loop; the checks
    // above pin it against the driver twin on this multigraph.
    // Asymmetric directed input (review finding): node 3 appears only
    // as dst — the driver twin treats a node with no src-degree row as
    // dead in round 1 and drops its in-edges; the delta arm must seed
    // a dg=0 row for it or it diverges (core_deg(1) = 1 instead of 0)
    val asym = Seq((1L, 3L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val asymNodes = Seq(1L, 2L, 3L).toDF("id")
    val (asymLocal, asymDelta) =
      both(Graph.kCorePeel(asym, asymNodes, k = 2, rounds = 1))
    assert(asymDelta == asymLocal,
      s"asymmetric: delta=$asymDelta local=$asymLocal")
    assert(asymLocal == Seq(Seq(1L, 0L), Seq(2L, 0L), Seq(3L, 0L)),
      s"asymmetric: $asymLocal")
  }

  test("kCorePeel rejects k < 1 in both regimes") {
    // at k <= 0 nothing is ever peeled, and on asymmetric input the
    // delta arm's dg = 0 seed rows would then disagree with the driver
    // twin — so the operator rejects k < 1 before choosing a regime
    val asym = Seq((1L, 3L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val local = intercept[IllegalArgumentException](
      Graph.kCorePeel(asym, nodes, k = 0, rounds = 1))
    val dist = intercept[IllegalArgumentException](TestSpark.distributed(
      Graph.kCorePeel(asym, nodes, k = 0, rounds = 1)))
    Seq(local, dist).foreach(e => assert(e.getMessage.contains("k must be >= 1")))
  }

  test("local regime accepts IntegerType ids like the distributed arms do") {
    // r19 advice item: the distributed arms take an INT id column via
    // implicit join casts, and bfsHopsLocal already casts — but the
    // pageRank/hits/labelPropagation local twins collected ids with
    // getLong, which CCEs on IntegerType in the default regime only
    // (exactly the small inputs that worked pre-r18). Pin the cast by
    // running both regimes on int-typed inputs and comparing.
    val edges = Seq((0, 1), (1, 2), (2, 0), (1, 0), (2, 1), (0, 2), (3, 1))
      .toDF("src", "dst") // IntegerType columns
    val nodes = Seq(0, 1, 2, 3, 9).toDF("id") // 9 isolated
    val seedScores = Seq((0, 500000L), (1, 300000L), (2, 0L), (3, 700000L))
      .toDF("id", "micros") // IntegerType id
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
    def both(f: => org.apache.spark.sql.DataFrame): Unit = {
      val local = rows(f)
      val dist = TestSpark.distributed(rows(f))
      assert(local == dist)
      assert(local.nonEmpty)
    }
    both(Graph.pageRank(edges, nodes, iters = 2))
    both(Graph.labelPropagation(edges, seedScores, iters = 2))
    both(Graph.hits(edges, nodes, iters = 2))
  }

  test("bfsHops: min hop distances from a multi-seed frontier") {
    // path 0-1-2-3-4-5 with seeds {0, 5}: distances fold in from both
    // ends; node 6 is disconnected and must be absent
    val p = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (p ++ p.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(0L, 5L).toDF("id")
    val got = Graph.bfsHops(edges, seeds, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 2, 4L -> 1, 5L -> 0))
    // bounded rounds: with 1 round only the 1-hop frontier is reached
    val got1 = Graph.bfsHops(edges, seeds, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got1 == Map(0L -> 0, 1L -> 1, 4L -> 1, 5L -> 0))
  }

  test("bfsHops survives constraint-rich inputs (mutual-kNN fixture shape)") {
    // regression (r17, found the first time tools/BigGraph ran to
    // completion): parquet-derived seeds + lineage-cut symmetric edges
    // tripped Union.rewriteConstraints in the optimizer
    // (NoSuchElementException: key not found) — a planner crash on
    // exactly the decade-3 fixture shape. bfsHops now plans its loop
    // under Engine.withoutConstraintPropagation.
    import org.apache.spark.sql.functions.col
    val e = graft.Engine.table(spark, TestSpark.sf, "embeddings")
    val pairs = VectorSearch.mutualKnnGraph(e, 5).transform(graft.Engine.cut)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .transform(graft.Engine.cut)
    val seeds = e.select(col("vec_id").as("id")).filter(col("id") % 100 === 0)
    val dist = Graph.bfsHops(edges, seeds, rounds = 3).collect()
    assert(dist.nonEmpty)
    assert(dist.map(_.getInt(1)).forall(d => d >= 0 && d <= 3))
    // seeds are at distance 0
    assert(dist.filter(_.getInt(1) == 0).map(_.getLong(0)).toSet
      == seeds.collect().map(_.getLong(0)).toSet)
    // and the parent session conf is restored after the loop
    assert(spark.conf.get("spark.sql.constraintPropagation.enabled") == "true")
  }

  test("driver-local and distributed regimes agree on every one-shot operator") {
    // r19 parity for the one-shot pair-graph ops (the r18 fixpoint
    // parity test's sibling): a pseudo-random multigraph with duplicate
    // canonical pairs, hubs, skewed degrees, and node-table rows with
    // no edges. TestSpark.distributed forces the distributed shapes.
    val rnd = new scala.util.Random(13)
    val raw = Seq.tabulate(300) { _ =>
      val a = rnd.nextInt(30).toLong; val b = rnd.nextInt(30).toLong
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }
    val pairs = (raw ++ raw.take(20)).toDF("id_a", "id_b") // dup pairs
    val nodes = (0L to 35L).toDF("id") // 30..35 isolated
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
    def both(name: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      val local = rows(f)
      val dist = TestSpark.distributed(rows(f))
      assert(local == dist, s"$name: regimes diverged " +
        s"onlyLocal=${(local.toSet -- dist.toSet).take(2)} " +
        s"onlyDist=${(dist.toSet -- local.toSet).take(2)}")
      assert(local.nonEmpty, s"$name: empty result")
    }
    both("triangleCounts")(Graph.triangleCounts(pairs, nodes))
    both("localClustering")(Graph.localClustering(pairs, nodes))
    both("adamicAdar")(Graph.adamicAdar(pairs, maxMidDegree = 12))
    // one plan at every size: the value its deleted driver-local twin
    // returned on this graph, pinned; a graph whose degrees do not vary
    // (one edge) has no correlation, NULL
    assert(rows(Graph.degreeAssortativity(pairs)) == Seq(Seq(620, -0.035469)))
    assert(rows(Graph.degreeAssortativity(Seq((1L, 2L)).toDF("id_a", "id_b"))) ==
      Seq(Seq(2, null)))
  }

  test("localClustering's distributed arm reuses its gate's cut") {
    // the distributed pass counts triangles over the pair frame its own
    // gate already cut; it used to re-enter triangleCounts, which cut
    // that frame a second time (one more job per call, and one |E|
    // block write at decade scale): 14 jobs here, 15 with the second
    // cut. The same multigraph shape as the
    // one-shot parity test above; the call returns an eager cut, so
    // every job it needs runs inside the probe.
    val rnd = new scala.util.Random(13)
    val raw = Seq.tabulate(300) { _ =>
      val a = rnd.nextInt(30).toLong; val b = rnd.nextInt(30).toLong
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }
    val pairs = (raw ++ raw.take(20)).toDF("id_a", "id_b")
    val nodes = (0L to 35L).toDF("id")
    val jobs = graft.JobCounter.jobsInGroup(spark, "clustering-cut-reuse") {
      graft.Engine.releaseCheckpoint(
        TestSpark.distributed(Graph.localClustering(pairs, nodes)))
    }
    assert(jobs == 14, s"distributed localClustering ran $jobs jobs")
  }

  test("adamicAdar: hand-scored wedges, adjacency excluded, hub capped") {
    // path 0-1-2 plus 2-3: wedges (0,2) via 1? no — 0-1-2 ARE the
    // edges; candidates are the distance-2 pairs (0,2)? (0,2) is NOT
    // an edge here: edges 0-1, 1-2, 2-3. Non-adjacent wedge pairs:
    // (0,2) via 1 [deg(1)=2], (1,3) via 2 [deg(2)=2].
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Graph.adamicAdar(pairs, maxMidDegree = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getDouble(3))).toMap
    val c = BigDecimal(1.0 / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map((0L, 2L) -> (1, c), (1L, 3L) -> (1, c)), s"got $got")
    // adjacent pairs never appear: triangle {0,1,2} has wedges between
    // every pair but all three are edges -> empty result
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("id_a", "id_b")
    assert(Graph.adamicAdar(tri, 64).count() === 0L)
    // the hub cap drops wedges through high-degree middles: star
    // center 0 with leaves 1..4 -> all C(4,2) leaf pairs via hub 0;
    // cap 3 < deg(0)=4 removes them all
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("id_a", "id_b")
    assert(Graph.adamicAdar(star, 64).count() === 6L)
    assert(Graph.adamicAdar(star, 3).count() === 0L)
  }
}
