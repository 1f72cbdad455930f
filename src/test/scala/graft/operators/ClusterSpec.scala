package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Engine, TestSpark}

class ClusterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def emb = Engine.table(spark, TestSpark.sf, "embeddings")

  /** Exact round(cos, 6), BigDecimal HALF_UP — the oracle arithmetic. */
  private def cos6(a: Array[Double], b: Array[Double]): Double = {
    val m = math.min(a.length, b.length)
    var dot = 0.0; var i = 0
    while (i < m) { dot += a(i) * b(i); i += 1 }
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    val raw = if (na == 0.0 || nb == 0.0) 0.0 else dot / (na * nb)
    BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Pure-Scala hierarchical assignment reference: top-[[Cluster.HierProbes]]
    * NON-EMPTY supers by (round6 desc, sid asc), then argmax over routed
    * members by (round6 desc, global cid asc) — the oracle's rank
    * semantics (routing restricted to sids present in grp, r15). */
  private def refHierAssign(v: Array[Double], cents: Array[Array[Double]],
      supers: Array[Array[Double]], members: Array[Array[Int]]): Int = {
    val routed = supers.indices.filter(members(_).nonEmpty)
      .sortBy(g => (-cos6(v, supers(g)), g)).take(Cluster.HierProbes)
    val cand = routed.flatMap(members(_)).sorted
    cand.map(ci => (ci, cos6(v, cents(ci))))
      .reduceLeft((a, b) => if (b._2 > a._2) b else a)._1
  }

  /** The operator's routing-table compaction (order-preserving drop of
    * empty groups) — what semanticDedup hands the kernel. */
  private def compact(supers: Array[Array[Double]], members: Array[Array[Int]])
      : (Array[Array[Double]], Array[Array[Int]]) = {
    val ne = members.indices.filter(members(_).nonEmpty).toArray
    (ne.map(supers(_)), ne.map(members(_)))
  }

  test("semanticDedup keeps the minimum id of every near-dup group") {
    val kept = Cluster.semanticDedup(emb, k = 8, tau = 0.35)
    val keptIds = kept.collect().map(_.getLong(0)).toSet
    assert(keptIds.nonEmpty && keptIds.size < emb.count())
    // survivor rule: a kept row has NO kept-or-dropped lower-id neighbor
    // above tau in its own (hierarchically assigned) cluster — verify
    // against the pure-Scala reference on the raw pair set
    val cents = Cluster.seedCentroids(emb, 8)
    val (supers, members) = Cluster.superRoute(cents)
    val asg = emb.select(col("vec_id"), col("embedding"))
      .collect().map { r =>
        val v = r.getSeq[Number](1).map(_.doubleValue).toArray
        r.getLong(0) -> (refHierAssign(v, cents, supers, members), v)
      }.toMap
    for (id <- keptIds) {
      val (cid, v) = asg(id)
      val lowerDup = asg.exists { case (oid, (ocid, ov)) =>
        oid < id && ocid == cid && cos6(ov, v) > 0.35
      }
      assert(!lowerDup, s"kept $id has a lower-id near-dup in cluster $cid")
    }
  }

  test("hierNearestCell kernel equals the pure-Scala rank reference") {
    // the kernel's fast path (raw sims + margin, exact-BigDecimal
    // fallback) against the oracle's rank semantics, at the gate k and
    // at a k that forces multi-member groups
    for (k <- Seq(8, 20)) {
      val cents = Cluster.seedCentroids(emb, k, step = if (k == 8) 37 else 11)
      assert(cents.length == k)
      val (s0, m0) = Cluster.superRoute(cents)
      val (supers, members) = compact(s0, m0)
      val got = emb.select(col("vec_id"),
          graft.functions.GraftFunctions.hierNearestCell(col("embedding"),
            cents, supers, members, Cluster.HierProbes).as("cid"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      emb.select(col("vec_id"), col("embedding")).collect().foreach { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Number](1).map(_.doubleValue).toArray
        val ref = refHierAssign(v, cents, supers, members)
        assert(got(id) == ref, s"k=$k vec $id: kernel ${got(id)} != ref $ref")
      }
    }
  }

  test("empty super groups are routed around, never emitted as cid -1") {
    // r15 ADVICE regression: Lloyd keeps a stale super for an emptied
    // group; a vector ranking that super top-2 used to draw candidates
    // from ONE group (or none -> cid -1, silently diverging from the
    // oracle's route JOIN grp). Hand-built instance: s1 is empty and
    // ranks top-2 for v — compaction must route v to {s0, s2} so the
    // group-2 centroid (the true argmax) wins.
    import spark.implicits._
    val supers = Array(Array(1.0, 0.0), Array(0.9, 0.43), Array(0.5, 0.87))
    val members = Array(Array(0), Array.empty[Int], Array(1))
    val cents = Array(Array(0.97, -0.26), Array(0.71, 0.71))
    val v = Seq((1L, Seq(0.94, 0.34))).toDF("vec_id", "embedding")
    // raw ranking for v: s1 (0.992) > s0 (0.94) > s2 (0.766) — the
    // empty s1 is top-2; compacted routing = {s0, s2}
    val (cs, cm) = compact(supers, members)
    assert(cs.length == 2 && cm.map(_.toSeq).toSeq == Seq(Seq(0), Seq(1)))
    val cid = v.select(graft.functions.GraftFunctions.hierNearestCell(
      col("embedding"), cents, cs, cm, Cluster.HierProbes)).collect()(0).getInt(0)
    assert(cid == 1, s"expected the group-2 centroid to win, got $cid")
    // and the kernel fails LOUDLY (not cid -1) if a caller ever routes
    // only empty groups again
    val bad = intercept[Exception] {
      v.select(graft.functions.GraftFunctions.hierNearestCell(
        col("embedding"), cents,
        Array(Array(1.0, 0.0), Array(0.9, 0.43)),
        Array(Array.empty[Int], Array.empty[Int]),
        Cluster.HierProbes)).collect()
    }
    assert(bad.getMessage != null)
  }

  test("superRoute is deterministic and partitions the centroid set") {
    val cents = Cluster.seedCentroids(emb, 20, step = 11)
    val (s1, m1) = Cluster.superRoute(cents)
    val (s2, m2) = Cluster.superRoute(cents)
    assert(s1.map(_.toSeq).toSeq == s2.map(_.toSeq).toSeq)
    assert(m1.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq)
    // s = ceil(sqrt(20)) = 5 groups; members partition 0..19, each
    // ascending (the kernel's lowest-cid tie-break rests on it)
    assert(s1.length == 5)
    assert(m1.flatten.sorted.toSeq == (0 until 20).toSeq)
    m1.foreach(g => assert(g.sorted.toSeq == g.toSeq))
  }

  test("semanticDedup assignment ties break to the lower cid") {
    // duplicate centroid rows assign to the FIRST occurrence in both the
    // Spark argmax (array_position finds the first max) and the oracle
    // (ORDER BY sim DESC, cid) — pin the Spark half of that contract
    val cents = Cluster.seedCentroids(emb, 4)
    val dup = cents ++ cents // cids 4..7 duplicate 0..3
    val asg = emb.select(Cluster.assignByCosine(col("embedding"), dup).as("cid"))
    assert(asg.filter(col("cid") >= 4).count() == 0)
  }

  test("round6 kernel agrees with the literal argmax form") {
    // hierAssign's within-group scan and the routing topN both rank
    // round(cos, 6) with ties to the lower index — the same contract
    // the oracle-expressible literal array argmax states. A k = 20
    // centroid set exercises the kernel against the literal form on
    // the full corpus — any precision or tie divergence shifts a cid.
    val cents = Cluster.seedCentroids(emb, 20, step = 11)
    assert(cents.length == 20)
    val lit = emb.select(col("vec_id"),
      Cluster.assignByCosine(col("embedding"), cents).as("cid"))
    val ker = emb.select(col("vec_id"),
      graft.functions.GraftFunctions
        .nearestCells(col("embedding"), cents, 1, round6 = true)(0).as("cid"))
    val diff = lit.as("l").join(ker.as("k"), "vec_id")
      .filter(col("l.cid") =!= col("k.cid"))
    assert(diff.count() == 0, "kernel and literal arms disagree")
    // and the rounded kernel differs from the RAW kernel's contract
    // only via precision — sanity: both still produce in-range cids
    assert(lit.filter(col("cid") < 0 || col("cid") >= 20).count() == 0)
  }

  test("kmeans is deterministic and partitions the whole corpus") {
    val (asg1, c1) = Cluster.kmeans(emb, "embedding", k = 10, iters = 3)
    val (_, c2) = Cluster.kmeans(emb, "embedding", k = 10, iters = 3)
    // decimal-exact centroid sums -> bit-identical across runs
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    // every row assigned, every cid in range (the testdata's `label`
    // column is NOT cosine-separable — measured within-label cosine ==
    // cross-label == ~0 — so cluster quality is asserted geometrically
    // in the convergence test below, not against labels)
    val n = emb.count()
    assert(asg1.count() == n)
    val cids = asg1.select("cid").distinct().collect().map(_.getInt(0)).toSet
    assert(cids.subsetOf((0 until 10).toSet) && cids.size > 1)
  }

  test("kmeans centroid VALUES equal an exact in-memory Lloyd's reference") {
    import spark.implicits._
    // two well-separated 4-dim blobs; every coordinate is a multiple of
    // 0.25 (binary-exact AND shortest-decimal-exact), so the
    // cast-to-DECIMAL(38,12) in the distributed update and the
    // BigDecimal reference see identical exact values — the comparison
    // below is == on doubles, no tolerance
    val vecs: Seq[(Long, Seq[Double])] = (0L until 20L).map { i =>
      val base = if (i % 2 == 0) Array(10.0, 0.0, 1.0, 0.0)
                 else Array(0.0, 10.0, 0.0, 1.0)
      (i, base.zipWithIndex.map { case (b, d) =>
        b + 0.25 * ((i * 7 + d) % 5) }.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val (asg, cents) = Cluster.kmeans(df, "embedding", k = 2, iters = 3, dim = 4)

    // the seed CHOICE reuses the engine's hash ordering (murmur3 is not
    // hand-computable); the pinned property is the Lloyd's arithmetic:
    // cosine argmin assignment (ties -> lower cid) + decimal-exact mean
    val seedIds = df.select(col("vec_id"))
      .orderBy(hash(col("vec_id")), col("vec_id"))
      .limit(2).collect().map(_.getLong(0)).sorted
    val byId = vecs.toMap
    var ref: Array[Array[Double]] = seedIds.map(id => byId(id).toArray)
    def cos(a: Array[Double], c: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nc = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * c(i); na += a(i) * a(i); nc += c(i) * c(i); i += 1
      }
      if (na == 0.0 || nc == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nc))
    }
    def refAssign(cents: Array[Array[Double]]): Seq[(Long, Int)] =
      vecs.map { case (id, v) =>
        val arr = v.toArray
        var best = 0; var bestSim = Double.NegativeInfinity; var j = 0
        while (j < cents.length) { // strict > == lower-index tie break
          val s = cos(arr, cents(j))
          if (s > bestSim) { bestSim = s; best = j }
          j += 1
        }
        (id, best)
      }
    for (_ <- 1 to 3) {
      val assign = refAssign(ref)
      ref = ref.indices.map { cid =>
        val members = assign.collect { case (id, c) if c == cid => byId(id) }
        if (members.isEmpty) ref(cid)
        else Array.tabulate(4) { d =>
          val sx = members.map(m => java.math.BigDecimal.valueOf(m(d))
              .setScale(12, java.math.RoundingMode.HALF_UP))
            .reduce(_.add(_)) // the DECIMAL(38,12) exact sum
          sx.doubleValue / members.size // one double division, like kmeans
        }
      }.toArray
    }
    assert(cents.map(_.toSeq).toSeq == ref.map(_.toSeq).toSeq,
      s"centroids diverged:\n got ${cents.map(_.toSeq).mkString("; ")}\n ref ${ref.map(_.toSeq).mkString("; ")}")
    // final assignments agree with the reference argmin over ref centroids
    val gotAsg = asg.select("vec_id", "cid").as[(Long, Int)].collect().toMap
    refAssign(ref).foreach { case (id, cid) =>
      assert(gotAsg(id) == cid, s"vec $id assigned ${gotAsg(id)}, ref $cid") }
  }

  test("kmeans centroid update reduces mean cosine distance to centroids") {
    def meanSim(iters: Int): Double = {
      val (asg, cents) = Cluster.kmeans(emb, "embedding", k = 10, iters = iters)
      val simToCent = cents.toIndexedSeq.zipWithIndex
        .foldLeft(lit(Double.NaN)) { case (acc, (c, i)) =>
          when(col("cid") === i,
            graft.functions.GraftFunctions.cosine(col("embedding"),
              typedLit(c.toIndexedSeq))).otherwise(acc)
        }
      asg.select(avg(simToCent)).collect()(0).getDouble(0)
    }
    val after1 = meanSim(1)
    val after3 = meanSim(3)
    assert(after3 >= after1 - 1e-9, s"iter3 $after3 < iter1 $after1")
  }

  test("centroidClassifier equals an exact in-memory reference") {
    val got = Cluster.centroidClassifier(emb).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val rows = emb.select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Number](1).map(_.doubleValue).toArray))
    // reference centroids with the SAME fixed-point arithmetic: exact
    // long micro-sums, one double division
    val cents = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (l, rs) =>
      val dim = rs.head._2.length
      val sums = Array.ofDim[Long](dim)
      rs.foreach { case (_, v) =>
        var i = 0
        while (i < dim) { sums(i) += math.floor(v(i) * 1e6).toLong; i += 1 }
      }
      l -> Array.tabulate(dim)(i => sums(i).toDouble / (rs.length.toDouble * 1e6))
    }
    def cos6(a: Array[Double], c: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nc = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * c(i); na += a(i) * a(i); nc += c(i) * c(i); i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nc)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = rows.map { case (l, v) =>
      // first max == lowest class label on ties (cents sorted by label)
      val pred = cents.map { case (cl, c) => (cl, cos6(v, c)) }
        .reduceLeft((a, b) => if (b._2 > a._2) b else a)._1
      (l, pred)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == expected)
    assert(got.values.sum == rows.length) // every vector classified once
  }

  test("cluster operator plans stay scale-safe (no BNLJ, no cartesian)") {
    for (gq <- Cluster.defs) {
      val p = gq.run(spark, TestSpark.sf).queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin"), s"${gq.name}:\n$p")
      assert(!p.contains("CartesianProduct"), s"${gq.name}:\n$p")
    }
  }

  test("kmeans driver-local and distributed regimes agree") {
    // r19 dual-regime parity (the GraphSpec pattern):
    // TestSpark.distributed forces the distributed Lloyd loop;
    // the default runs the driver-local twin at this corpus size. Both
    // centroids (bit-exact doubles) and the full assignment must match.
    def run(): (Seq[Seq[Double]], Map[Long, Int]) = {
      val (asg, cents) = Cluster.kmeans(emb, "embedding", k = 10, iters = 3)
      (cents.map(_.toSeq).toSeq,
        asg.select("vec_id", "cid").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap)
    }
    val (lc, la) = run()
    val (dc, da) = TestSpark.distributed(run())
    assert(lc == dc, "centroids diverge between regimes")
    assert(la == da, "assignments diverge between regimes")
  }
}
