package graft.tools


/** Price the durable checkpoint strategy (r13 verdict item 3: "no
  * measured price for `reliable` mode"): warm seconds for the
  * iterative family — every operator whose rounds cut lineage through
  * Engine.cut — under `graft.checkpoint.mode=local` (default;
  * executor-memory blocks, lost with the executor) vs `reliable`
  * (durable checkpoint files; survives kill -9 of every executor, the
  * ClusterCheck chaos proof). The delta IS the insurance premium a
  * cluster deployment pays for executor-loss safety on the Pregel
  * family.
  *
  * Methodology matches BASELINE.md: per query and mode, run twice in
  * the same session and keep the SECOND (warm) time; modes alternate
  * within one session (Engine.cut reads the conf per call), local
  * first. The checkpoint dir defaults to java.io.tmpdir on this
  * sandbox — a real deployment would point it at HDFS/S3, where the
  * premium grows with write latency; the local-disk number is the
  * FLOOR of that premium.
  *
  * Usage: runMain graft.tools.PriceReliable <sfDir> [--slow]
  *        [--rtt-ms=40] [--mbps=100]
  * `--slow` adds a third column: reliable mode with the checkpoint dir
  * on [[SlowFs]] (latency-injected local fs) — the object-store price,
  * not the NVMe floor (r14's pricing caveat). Prints a markdown table
  * (for SCALING.md) + one JSON line.
  */
object PriceReliable {

  private val distributed = Map(graft.Engine.DriverLocalConf -> "off")

  /** The iterative family: graph fixpoints, distributed components
    * (forced off the driver union-find so rounds actually run), the
    * BPE merge loop, Lloyd's k-means, MMR's greedy selection loop. */
  val family: Seq[(String, Map[String, String])] = Seq(
    // graph fixpoints, components, the BPE trainer and Lloyd's k-means
    // forced off their driver-local arms (the one switch) so the
    // per-round durable cuts being priced actually run at gate scale
    "g01_pagerank" -> distributed,
    "g04_kcore_peel" -> distributed,
    "g05_bfs_hops" -> distributed,
    "g08_hits" -> distributed,
    "d05_neardup_clusters" -> distributed,
    "t24_bpe_merges" -> distributed,
    "c01_kmeans_embeddings" -> distributed,
    "s13_mmr_rerank" -> Map.empty)

  def main(args: Array[String]): Unit = {
    val dir = args.find(!_.startsWith("--")).getOrElse("/root/testdata/sf0.1")
    def intArg(name: String, default: Long): Long = args.collectFirst {
      case a if a.startsWith(s"--$name=") => a.stripPrefix(s"--$name=").toLong
    }.getOrElse(default)
    val slow = args.contains("--slow")
    val rttMs = intArg("rtt-ms", 40L)
    val mbps = intArg("mbps", 100L)
    val spark = graft.Engine.session(s"local[${graft.Engine.cpus}]",
      "graft-price-reliable", graft.Engine.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val slowDir = {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.slowfs.impl", classOf[SlowFs].getName)
      hc.setLong("fs.slowfs.rtt.ms", rttMs)
      hc.setLong("fs.slowfs.bytes.per.sec", mbps * 1024 * 1024)
      "slowfs:" + sys.props("java.io.tmpdir") + "/graft-ckpt-slow"
    }
    val everyK = intArg("every-k", 0L).toInt
    def warm(q: String, mode: String, conf: Map[String, String]): Double = {
      mode match {
        case "reliable_slow" =>
          spark.conf.set("graft.checkpoint.mode", "reliable")
          spark.conf.set("graft.checkpoint.dir", slowDir)
        case "reliable_slow_k" =>
          spark.conf.set("graft.checkpoint.mode", "reliable")
          spark.conf.set("graft.checkpoint.dir", slowDir)
          spark.conf.set("graft.checkpoint.everyK", everyK.toString)
        case m => spark.conf.set("graft.checkpoint.mode", m)
      }
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        var last = 0.0
        for (_ <- 1 to 2) {
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(q)(spark, dir).count()
          last = (System.nanoTime() - t0) / 1e9
        }
        last
      } finally {
        spark.conf.unset("graft.checkpoint.mode")
        spark.conf.unset("graft.checkpoint.dir")
        spark.conf.unset("graft.checkpoint.everyK")
        conf.keys.foreach(spark.conf.unset)
      }
    }
    val withK = slow && everyK > 1
    val rows = family.map { case (q, conf) =>
      val l = warm(q, "local", conf)
      val r = warm(q, "reliable", conf)
      val s = if (slow) warm(q, "reliable_slow", conf) else Double.NaN
      val sk = if (withK) warm(q, "reliable_slow_k", conf) else Double.NaN
      val sTxt = if (slow) f" slow=$s%6.2f s x${s / l}%.2f" else ""
      val kTxt = if (withK) f" slow_k$everyK=$sk%6.2f s x${sk / l}%.2f" else ""
      println(f"[price] $q%-24s local=$l%6.2f s reliable=$r%6.2f s x${r / l}%.2f$sTxt$kTxt")
      (q, l, r, s, sk)
    }
    val slowHdr = if (slow) s" slow(rtt=${rttMs}ms,${mbps}MB/s) s | slow premium |" else ""
    val kHdr = if (withK) s" slow everyK=$everyK s | everyK premium |" else ""
    println(s"\n| query | local s | reliable s | premium |$slowHdr$kHdr")
    println(s"|---|---|---|---|" + (if (slow) "---|---|" else "") +
      (if (withK) "---|---|" else ""))
    rows.foreach { case (q, l, r, s, sk) =>
      val sCol = if (slow) f" $s%.2f | ${s / l}%.2fx |" else ""
      val kCol = if (withK) f" $sk%.2f | ${sk / l}%.2fx |" else ""
      println(f"| $q | $l%.2f | $r%.2f | ${r / l}%.2fx |$sCol$kCol")
    }
    val totL = rows.map(_._2).sum
    val totR = rows.map(_._3).sum
    val totS = rows.map(_._4).sum
    val totK = rows.map(_._5).sum
    val sTot = if (slow) f" $totS%.2f | ${totS / totL}%.2fx |" else ""
    val kTot = if (withK) f" $totK%.2f | ${totK / totL}%.2fx |" else ""
    println(f"| TOTAL | $totL%.2f | $totR%.2f | ${totR / totL}%.2fx |$sTot$kTot")
    val json = rows.map { case (q, l, r, s, sk) =>
      val sPart = if (slow) s""", "reliable_slow": ${f"$s%.3f"}""" else ""
      val kPart = if (withK) s""", "reliable_slow_k$everyK": ${f"$sk%.3f"}""" else ""
      s"""${Json.str(q)}: {"local": ${f"$l%.3f"}, "reliable": ${f"$r%.3f"}$sPart$kPart}"""
    }.mkString("{\"sf\": " + Json.str(dir) +
      (if (slow) s""", "rtt_ms": $rttMs, "mbps": $mbps""" else "") + ", ",
      ", ", "}")
    println(json)
    spark.stop()
  }
}
