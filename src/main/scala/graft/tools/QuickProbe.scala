package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scratch measurement harness for the r18 optimization round: one-off
  * stage-split timings behind named subcommands (kept out of Probe so
  * the committed diagnostics stay stable). */
object QuickProbe {
  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("q59")
    val d = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Engine.prepare(spark)
    def timeIt(tag: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[probe] $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    def q(name: String): Unit = {
      graft.SparkEntry.queries(name)(spark, d).count()
      graft.Engine.releaseEphemeral(spark)
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, d).count()
        graft.Engine.releaseEphemeral(spark)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name warm min=${times.min}%.2f s  runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    what match {
      case "q59" =>
        q("q59_mad_outliers")
        val j = graft.Engine.table(spark, d, "lineitem")
          .join(graft.Engine.table(spark, d, "part"),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"),
            round(col("l_extendedprice") * 100, 0).cast(LongType).as("pc"))
        val cnt = j.groupBy("p_brand", "pc").agg(count(lit(1)).as("c"))
        cnt.write.format("noop").mode("overwrite").save()
        timeIt("cnt rollup alone (noop)")(
          cnt.write.format("noop").mode("overwrite").save())
        println("[probe] distinct (brand,pc) rows: " + cnt.count())
      case "nb" =>
        q("t28_nb_lang_classifier")
        q("t32_nb_margin")
      case "copart" =>
        // does Engine.cut (localCheckpoint) PRESERVE a hash
        // partitioning into the LogicalRDD, so a later join/agg on the
        // same key plans no Exchange above it? (the premise of the r19
        // graph co-partitioning change — verify, don't assume)
        val base = spark.range(0, 100000).selectExpr("id % 97 AS k", "id AS v")
        val cutP = graft.Engine.cut(base.repartition(16, col("k")))
        val cutN = graft.Engine.cut(base)
        val probeTbl = spark.range(0, 97).selectExpr("id AS k", "id * 2 AS w")
          .repartition(16, col("k"))
        def exchanges(df: org.apache.spark.sql.DataFrame): Int =
          df.queryExecution.executedPlan.toString
            .linesIterator.count(l => l.contains("Exchange")
              && !l.contains("Reused"))
        println(s"[probe] agg on pre-partitioned cut: exchanges=" +
          exchanges(cutP.groupBy("k").count()))
        println(s"[probe] agg on plain cut:           exchanges=" +
          exchanges(cutN.groupBy("k").count()))
        println(s"[probe] join on pre-partitioned cut: exchanges=" +
          exchanges(cutP.join(probeTbl.hint("merge"), "k")))
        println(s"[probe] cutP plan: " + cutP.queryExecution.optimizedPlan
          .toString.linesIterator.next())
        // arm 2: materialize the cut with AQE scoped OFF — the eager
        // checkpoint then sees a plain ShuffleExchangeExec whose
        // HashPartitioning lands in the LogicalRDD (AdaptiveSparkPlanExec
        // reports UnknownPartitioning, which is why arm 1 loses it)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val cutA = graft.Engine.cut(base.repartition(16, col("k")))
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        println(s"[probe] agg on AQE-off pre-partitioned cut: exchanges=" +
          exchanges(cutA.groupBy("k").count()))
        println(s"[probe] join on AQE-off pre-partitioned cut: exchanges=" +
          exchanges(cutA.join(probeTbl.hint("merge"), "k")))
        println(s"[probe] join values agree: " +
          (cutA.join(probeTbl, "k").count() ==
            cutN.join(probeTbl, "k").count()))
      case "graphbig" =>
        // r19 co-partitioning A/B: time the ITERATIVE graph operators
        // over a PREBUILT symmetrized edge fixture (no kNN rebuild),
        // min-of-3 warm, with an order-independent fingerprint so both
        // arms prove value-identity. 7.09M edges > Graph's 2M-edge
        // driver-local limit, so the distributed arms run by size.
        val edgesPath = args.drop(2).headOption
          .getOrElse("target/biggraph/edges-sf100.parquet")
        val edges = spark.read.parquet(edgesPath)
        val nodes = edges.select(col("src").as("id")).distinct()
          .transform(graft.Engine.cut)
        val seeds = nodes.filter(col("id") % 1000 === 0)
        val seedScores = nodes.select(col("id"),
          (col("id") % 11 * 100000L).as("micros"))
        println(s"[probe] edges=${edges.count()} nodes=${nodes.count()} " +
          s"heap=${Runtime.getRuntime.maxMemory() / (1L << 20)}MiB")
        def fp(df: org.apache.spark.sql.DataFrame): String =
          df.agg(sum(xxhash64(df.columns.map(c => col(c).cast("string")): _*)
            .cast(DecimalType(38, 0))).as("h")).collect()(0).toString
        def big(name: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
          var h = ""
          val times = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            val out = f
            val n = out.count()
            val sec = (System.nanoTime() - t0) / 1e9
            h = fp(out)
            graft.Engine.releaseCheckpoint(out)
            require(n > 0)
            sec
          }
          println(f"[probe] $name warm min=${times.min}%.2f s  " +
            f"runs=${times.map(t => f"$t%.2f").mkString(",")}  fp=$h")
        }
        big("pageRank")(graft.operators.Graph.pageRank(edges, nodes, 3))
        big("labelPropagation")(
          graft.operators.Graph.labelPropagation(edges, seedScores, 2))
        big("kCorePeel")(graft.operators.Graph.kCorePeel(edges, nodes, 2, 3))
        big("bfsHops")(graft.operators.Graph.bfsHops(edges, seeds, 3))
        big("hits")(graft.operators.Graph.hits(edges, nodes, 2))
      case "skewab" =>
        // VERDICT item 8: does the e32 salted arm (and AQE's skew
        // split) actually engage and pay off on a decade-scale skewed
        // fixture? Reconstructs e32's frames at `d`, then times the
        // PLAIN band join vs the salted one (value-identical by the
        // saltedJoin multiplicity contract) and reports the stats
        // probe's estimate plus any AQE skew marks in the executed
        // plan. Run against target/testdata/sf10.
        val ev = graft.Engine.table(spark, d, "events")
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("event_id").as("purchase_id"))
        val v0 = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
        val plantFactor = args.drop(2).headOption.map(_.toInt).getOrElse(400)
        println(s"[probe] plantFactor=$plantFactor")
        val planted = ev
          .filter(col("event_type") === "purchase" && col("user_id") === 0)
          .select(col("user_id").as("v_user"),
            (col("ts") - expr("INTERVAL 30 MINUTES")).as("v_ts"))
          .withColumn("__r", explode(sequence(lit(1), lit(plantFactor))))
          .drop("__r")
        val v = v0.unionByName(planted)
        println("[probe] probeMaxKeyCount(v_user)=" +
          graft.operators.Skew.probeMaxKeyCount(v, "v_user"))
        val cond = col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("v_ts") < col("p_ts")
        def agg(j: org.apache.spark.sql.DataFrame) = j
          .groupBy("purchase_id").agg(count(col("v_ts")).as("views_prior_hour"))
        def fpSk(df: org.apache.spark.sql.DataFrame): String =
          df.agg(sum(xxhash64(df.columns.map(c => col(c).cast("string")): _*)
            .cast(DecimalType(38, 0)))).collect()(0).toString
        def armSk(tag: String)(build: => org.apache.spark.sql.DataFrame)
            : Unit = (1 to 3).foreach { i =>
          val t0 = System.nanoTime()
          val out = agg(build)
          val n = out.count()
          val sec = (System.nanoTime() - t0) / 1e9
          val skews = "skew=true".r
            .findAllIn(out.queryExecution.executedPlan.toString).size
          println(f"[probe] e32@$d $tag run$i $sec%6.2f s rows=$n " +
            f"aqeSkewMarks=$skews fp=${fpSk(out)}")
        }
        armSk("plain ")(p.join(v,
          col("p_user") === col("v_user") && cond, "left"))
        armSk("salted")(graft.operators.Skew.saltedJoin(p, v, "p_user",
          "v_user", 8, Seq("purchase_id"), cond, "left"))
      case "a02exec" =>
        // post-execution adaptive plan: how many lineitem scans and
        // which exchanges actually REUSED at runtime (the initial
        // isFinalPlan=false dump renders no reuse marks)
        val df = graft.SparkEntry.queries("a02_approx_percentiles")(spark, d)
        df.count()
        val s = df.queryExecution.executedPlan.toString
        println("[probe] a02 executed: scans=" +
          "Scan parquet".r.findAllIn(s).size +
          " imts=" + "InMemoryTableScan".r.findAllIn(s).size +
          " reused=" + "ReusedExchange".r.findAllIn(s).size +
          " exchanges=" + "Exchange hashpartitioning".r.findAllIn(s).size)
        q("a02_approx_percentiles")
      case "a02split" =>
        // which half of a02 dominates: the builtin GK sketch aggregate
        // or the exact count-by-value rollup? (VERDICT item 6 assumed a
        // custom GK kernel; the kernel is Spark's ApproximatePercentile
        // — measure before concluding anything is optimizable)
        val li = graft.Engine.table(spark, d, "lineitem")
        val sk = li.groupBy("l_returnflag").agg(
          expr("approx_percentile(l_extendedprice, array(0.25,0.5,0.75), 10000)"))
        val pc = li.groupBy(col("l_returnflag"),
            col("l_extendedprice").as("v")).agg(count(lit(1)).as("c"))
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        noop(sk); noop(pc) // warm
        (1 to 3).foreach(_ => timeIt("a02 GK sketch agg (noop)")(noop(sk)))
        (1 to 3).foreach(_ => timeIt("a02 exact rollup (noop)")(noop(pc)))
        q("a02_approx_percentiles")
      case "s17split" =>
        // where does the s17 serve call's ~1 s go? build the indexes
        // once (memoized, like the bench warmup), then split the timed
        // serve path: model collect, probed-cell collect, lexical arm,
        // vector arm, fused plan — each min-of-3 warm
        graft.Serving.ensureIndexes(spark, d, "serve")
        graft.Serving.install(spark, "serve")
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        def best(tag: String)(f: => Unit): Unit = {
          f
          val ts = (1 to 3).map { _ =>
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          println(f"[probe] $tag min=${ts.min}%.3f s runs=${ts.map(t => f"$t%.3f").mkString(",")}")
        }
        best("s17 full sql serve")(
          noop(spark.sql("SELECT * FROM graft_hybrid_topk(0, 'scan hash merge', 20)")))
        best("s16 full sql serve")(
          noop(spark.sql("SELECT * FROM graft_ann_topk(0, 10)")))
        best("bm25 lex arm (noop)")(
          noop(graft.operators.TextPipeline.bm25FromIndex(
            spark.table("serve_postings"), spark.table("serve_doclens"),
            Seq("scan", "hash", "merge"))
            .orderBy(col("bm25").desc, col("doc_id")).limit(20)))
        best("plan build only (analyze, no exec)") {
          spark.sql("SELECT * FROM graft_hybrid_topk(0, 'scan hash merge', 20)")
            .queryExecution.analyzed
          ()
        }
        best("readModel alone")(graft.Serving.probeReadModel(spark, "serve"))
      case "g10split" =>
        // how much of the one-shot graph queries (g03 triangles, g06
        // adamic-adar, g07 assortativity, g10 clustering) is the ngram
        // pair generation (stays) vs the graph math over the tiny pair
        // set (driver-local twin candidate)?
        val dd = graft.Engine.table(spark, d, "documents")
          .filter(col("doc_id") < 300)
        val pairs = graft.operators.Dedup
          .ngramJaccardPairs(dd, "doc_id", "text", 3, 0.02)
          .select("id_a", "id_b")
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        noop(pairs)
        (1 to 3).foreach(_ => timeIt("ngram pairs alone (noop)")(noop(pairs)))
        println("[probe] pair rows: " + pairs.count())
        Seq("g03_triangle_count", "g06_adamic_adar", "g07_assortativity",
          "g10_local_clustering").foreach(q)
      case "names" =>
        // args containing '=' are session conf sets (e.g.
        // graft.q69.inputStorageLevel=DISK_ONLY), applied in order
        // before the queries that follow them
        args.drop(2).foreach { a =>
          if (a.contains('=')) {
            val Array(k, v) = a.split("=", 2)
            spark.conf.set(k, v)
            println(s"[probe] conf $k=$v")
          } else q(a)
        }
      case other =>
        // treat as a query name list starting at args(0)
        (Seq(other) ++ args.drop(2)).foreach(q)
    }
    spark.stop()
  }
}
