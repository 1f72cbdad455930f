package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ClusterCheck.fingerprint

/** The cut() strategy contract (r12 verdict #1): every iterative
  * operator funnels its per-round lineage cut through Engine.cut, whose
  * strategy is session-configured — `local` (localCheckpoint; the
  * local-mode default) vs `reliable` (durable checkpoint(); the
  * cluster mode that survives executor loss — the LOSS itself is
  * proven by tools/ClusterCheck's chaos arm under local-cluster with a
  * real executor JVM kill; this spec pins the strategy's semantics
  * where the full suite runs: results identical, files managed).
  */
class CheckpointStrategySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def withMode[A](mode: String, dir: Option[String] = None)(f: => A): A = {
    spark.conf.set("graft.checkpoint.mode", mode)
    dir.foreach(d => spark.conf.set("graft.checkpoint.dir", d))
    // this spec pins the PER-ROUND CUT machinery, so the g01/d05/t24
    // fixpoints must actually iterate distributed — force them off
    // their driver-local small-input arms (which perform no cuts)
    spark.conf.set(Engine.DriverLocalConf, "off")
    try f
    finally {
      spark.conf.set("graft.checkpoint.mode", "local")
      spark.conf.unset("graft.checkpoint.dir")
      spark.conf.unset(Engine.DriverLocalConf)
    }
  }

  private def ckptRoot: String = {
    val d = Files.createTempDirectory(Paths.get("target"), "ckpt-spec-")
    d.toString
  }

  private def listRddDirs(root: String): Seq[String] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala
        .filter(q => q.getFileName.toString.startsWith("rdd-"))
        .map(_.toString).toSeq
    }
  }

  test("reliable cut produces fingerprint-identical results on iterative operators") {
    // the three fixpoint shapes: pagerank (per-round join+agg), connected
    // components (min-label propagation), BPE trainer (driver-bounded
    // merge table + per-round symbol rewrite)
    def runs(): Map[String, (String, Long)] = Map(
      "g01" -> fingerprint(SparkEntry.queries("g01_pagerank")(spark, sf)),
      "d05" -> fingerprint(SparkEntry.queries("d05_neardup_clusters")(spark, sf)),
      "t24" -> fingerprint(SparkEntry.queries("t24_bpe_merges")(spark, sf)))
    val local = runs()
    val root = ckptRoot
    val reliable = withMode("reliable", Some(root))(runs())
    assert(local == reliable,
      s"strategy changed results: local=$local reliable=$reliable")
  }

  test("reliable cut writes to the configured dir and releaseCheckpoint deletes superseded rounds") {
    val root = ckptRoot
    withMode("reliable", Some(root)) {
      val df = Engine.table(spark, sf, "nation").transform(Engine.cut)
      val dirs = listRddDirs(root)
      assert(dirs.nonEmpty, s"no rdd-* checkpoint dir under $root")
      assert(df.count() == 25)
      Engine.releaseCheckpoint(df)
      assert(listRddDirs(root).isEmpty,
        s"superseded checkpoint files not deleted: ${listRddDirs(root)}")
    }
  }

  test("re-points the checkpoint dir when the configured root is a prefix of the old one") {
    // r13 verdict #3: the substring check `cur.contains(dir)` let a
    // configured `/ckpt` match a current `/ckpt2/<uuid>` and skip the
    // re-point. The fix compares the resolved PARENT path.
    val base = ckptRoot
    val long = s"$base/ckpt2" // configured first
    val short = s"$base/ckpt" // then its prefix — must still re-point
    withMode("reliable", Some(long)) {
      Engine.table(spark, sf, "nation").transform(Engine.cut).count()
    }
    withMode("reliable", Some(short)) {
      val df = Engine.table(spark, sf, "region").transform(Engine.cut)
      assert(df.count() == 5)
      val cur = spark.sparkContext.getCheckpointDir.get
      val fs = new org.apache.hadoop.fs.Path(short)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parent = fs.makeQualified(
        new org.apache.hadoop.fs.Path(cur).getParent)
      assert(parent == fs.makeQualified(new org.apache.hadoop.fs.Path(short)),
        s"checkpoint dir not re-pointed: $cur (expected parent $short)")
      Engine.releaseCheckpoint(df)
    }
  }

  test("everyK defers the superseded durable round's delete until the next boundary (recovery root kept)") {
    // r16 advice (high): eager-release fixpoints (BPE, kCorePeel,
    // bfsHops, label propagation, dedup) release the superseded round
    // each iteration; when that round was a DURABLE boundary its
    // checkpoint files are the recovery ROOT of up to k-1 lineage-kept
    // intermediate rounds — deleting them eagerly makes executor loss
    // in the window unrecoverable (FileNotFound on the deleted
    // ReliableCheckpointRDD part-files). This drives cut() exactly the
    // way a fixpoint loop does and asserts (a) the files survive the
    // release, (b) a recompute THROUGH the kept lineage (cache
    // dropped, the executor-loss recovery path) still succeeds,
    // (c) the next durable boundary deletes them.
    val root = ckptRoot
    spark.conf.set("graft.checkpoint.everyK", "3")
    try withMode("reliable", Some(root)) {
      import org.apache.spark.sql.functions.col
      def isDurable(df: DataFrame) = df.queryExecution.logical
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
      // advance to a durable boundary (the session-global counter's
      // phase is arbitrary; k=3 bounds the loop)
      var durable = Engine.table(spark, sf, "nation").transform(Engine.cut)
      while (!isDurable(durable)) {
        Engine.releaseCheckpoint(durable)
        durable = Engine.table(spark, sf, "nation").transform(Engine.cut)
      }
      val rootDirs = listRddDirs(root).toSet
      assert(rootDirs.nonEmpty, "no durable checkpoint landed")
      // one INTERMEDIATE round whose kept lineage roots at `durable`
      val mid = Engine.cut(durable.select((col("n_nationkey") * 2).as("x")))
      assert(!isDurable(mid), "expected an intermediate (cached) cut")
      // the fixpoint loop releases the superseded round HERE
      Engine.releaseCheckpoint(durable)
      assert(listRddDirs(root).toSet == rootDirs,
        "durable recovery root deleted while an intermediate round's " +
          "lineage still depends on it")
      // executor-loss simulation: drop the cached blocks and force the
      // recompute through kept lineage — must re-read the checkpoint
      mid.unpersist(blocking = true)
      assert(mid.count() == 25)
      // the next durable boundary supersedes the root -> files deleted
      val mid2 = Engine.cut(mid.select(col("x")))
      val next = Engine.cut(mid2.select(col("x")))
      assert(isDurable(next), "expected a boundary after k cuts")
      val after = listRddDirs(root).toSet
      assert(after.intersect(rootDirs).isEmpty,
        s"superseded durable files survived the next boundary: " +
          s"${after.intersect(rootDirs)}")
      assert(after.nonEmpty, "new boundary's files missing")
      Engine.releaseCheckpoint(mid2)
      Engine.releaseCheckpoint(next)
    } finally spark.conf.unset("graft.checkpoint.everyK")
  }

  test("checkpoint-every-k produces fingerprint-identical results and durable files only at boundaries") {
    // r15: everyK intermediate cuts materialize into the executor cache
    // with lineage kept (bounded recovery to the last durable boundary)
    // — results must be identical to every-round checkpointing, and the
    // durable dir must hold FEWER rdd-* checkpoints than rounds.
    def runs(): Map[String, (String, Long)] = Map(
      "g01" -> fingerprint(SparkEntry.queries("g01_pagerank")(spark, sf)),
      "t24" -> fingerprint(SparkEntry.queries("t24_bpe_merges")(spark, sf)))
    // durable writes are observable as Engine.cut-tagged jobs (the
    // everyK intermediate branch persists untagged)
    val tagged = JobCounter(spark, JobCounter.cutJobs)
    try {
      val every = withMode("reliable", Some(ckptRoot))(runs())
      val everyJobs = tagged.drained()
      spark.conf.set("graft.checkpoint.everyK", "3")
      val everyK =
        try withMode("reliable", Some(ckptRoot))(runs())
        finally spark.conf.unset("graft.checkpoint.everyK")
      val everyKJobs = tagged.drained() - everyJobs
      assert(every == everyK,
        s"everyK changed results: every=$every everyK=$everyK")
      assert(everyKJobs.toDouble <= everyJobs * 0.6,
        s"everyK did not reduce durable-checkpoint jobs: $everyKJobs vs $everyJobs")
    } finally tagged.close()
  }

  test("re-points across FILESYSTEMS (file: -> slowfs:) instead of throwing Wrong FS") {
    // r15: PriceReliable's slow-store pricing re-points the checkpoint
    // dir from the default local path to the latency-injected slowfs
    // scheme mid-session; the sameRoot check must treat a current dir
    // on a different FileSystem as "not the same root" (makeQualified
    // throws Wrong FS for a foreign scheme) rather than propagating.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.slowfs.impl", classOf[graft.tools.SlowFs].getName)
    hc.setLong("fs.slowfs.rtt.ms", 0L) // no artificial latency in specs
    val base = ckptRoot
    withMode("reliable", Some(s"$base/plain")) {
      Engine.table(spark, sf, "nation").transform(Engine.cut).count()
    }
    withMode("reliable", Some(s"slowfs:${Paths.get(base).toAbsolutePath}/slow")) {
      val df = Engine.table(spark, sf, "region").transform(Engine.cut)
      assert(df.count() == 5)
      val cur = spark.sparkContext.getCheckpointDir.get
      assert(cur.startsWith("slowfs:"), s"not re-pointed to slowfs: $cur")
      Engine.releaseCheckpoint(df)
    }
    // and back to a local path (slowfs -> file must also re-point)
    withMode("reliable", Some(s"$base/plain2")) {
      val df = Engine.table(spark, sf, "nation").transform(Engine.cut)
      assert(df.count() == 25)
      assert(!spark.sparkContext.getCheckpointDir.get.startsWith("slowfs:"))
      Engine.releaseCheckpoint(df)
    }
  }

  /** `Engine.cutByKey` keeps the hash layout its repartition paid for:
    * one partition per core, and a group or a join on the key plans no
    * exchange on the cut side, in either cut mode. */
  test("a cutByKey frame grouped or joined on its key plans no Exchange on the cut side") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    object Aqe extends AdaptiveSparkPlanHelper
    def exchanges(df: DataFrame): Int = {
      df.collect()
      Aqe.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }.size
    }
    // a broadcast join would hide the layout: both sides shuffle-joined
    val noBroadcast = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prior = noBroadcast.map(k => k -> spark.conf.getOption(k))
    noBroadcast.foreach(spark.conf.set(_, "-1"))
    try for (mode <- Seq("local", "reliable")) withMode(mode, Some(ckptRoot)) {
      val cut = Engine.cutByKey(
        spark.range(0, 5000).select((col("id") % 97).as("k"), col("id").as("v")), "k")
      assert(cut.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
      assert(exchanges(cut.groupBy("k").count()) == 0, mode)
      val other = spark.range(0, 97).select(col("id").as("k"), (col("id") * 2).as("w"))
      assert(exchanges(cut.join(other, "k")) == 1, s"$mode: only the other side exchanges")
      Engine.releaseCheckpoint(cut)
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("unknown mode fails loudly") {
    intercept[IllegalArgumentException] {
      withMode("durable")(Engine.table(spark, sf, "nation").transform(Engine.cut))
    }
  }
}
