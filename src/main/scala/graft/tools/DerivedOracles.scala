package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{Engine, SparkEntry}
import graft.operators.{Cluster, VectorSearch}

/** Oracle-verify the DERIVED-knob regime above gate scale (the r11
  * verdict's #1 ask): at sf0.01/sf0.1 every derived density knob
  * (SemDeDup k, LSH planes, IVF cells/nprobe) EQUALS its embedded
  * oracle constant, so the committed oracle texts have only ever
  * checked the gate regime — and the d03 cap divergence proved that a
  * regime no oracle ran is where mismatches hide. This main re-runs
  * the derived-knob query family at an arbitrary scale-factor dir,
  * REGENERATES each oracle text from the SAME parameterized builder
  * the committed defs use — but at the corpus's own derived values —
  * and dumps Verify-layout output (per-query parquet +
  * oracle_sql.json) for tools/drivercheck.py.
  *
  * Usage: runMain graft.tools.DerivedOracles <sfDir> <outDir>
  * then:  python3 tools/drivercheck.py <sfDir> <outDir>
  */
object DerivedOracles {

  /** The queries whose knobs differ from the gate constants once the
    * corpus outgrows the gate SFs, with their regenerated oracles. */
  def derivedFamily(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val e = Engine.table(spark, dir, "embeddings")
    val k = Cluster.derivedK(e)
    val p4 = VectorSearch.derivePlanes(e, -1, 4) // d07
    val p5 = VectorSearch.derivePlanes(e, -1, 5) // s05 / s10
    val p3 = VectorSearch.derivePlanes(e, -1, 3, targetBucket = 250L) // s14
    val cells = VectorSearch.deriveCells(e, -1)
    val np = VectorSearch.deriveNprobe(cells, -1)
    println(s"[derived] N=${Engine.memoCount(e)} k=$k planes(d07)=$p4 " +
      s"planes(s05/s10)=$p5 planes(s14)=$p3 cells=$cells nprobe=$np")
    Seq(
      "d10_semantic_dedup" -> Cluster.oracleSemanticDedupSql(k),
      "s02_ann_lsh" -> VectorSearch.oracleAnnLshSql(p4),
      "d07_embedding_neardup_lsh" -> VectorSearch.oracleNearDupLshSql(p4),
      "s05_mutual_knn_graph" -> VectorSearch.oracleMutualKnnSql(p5),
      "s10_label_purity" -> VectorSearch.oracleLabelPuritySql(p5),
      "s14_knn_classifier_ann" -> VectorSearch.oracleKnnAnnSql(p3, 16),
      "s03_ann_ivf" -> VectorSearch.oracleIvfSql(cells, np),
      "s04_ann_ivfpq" -> VectorSearch.oracleIvfPqSql(cells, np),
      "s15_ann_ivfpq_indexed" -> VectorSearch.oracleIvfPqSql(cells, np),
      // the SQL-served twins (r18): same derived IVF-PQ knobs through
      // the persisted-index + table-function path
      "s16_ann_sql_serving" ->
        VectorSearch.oracleIvfPqSql(cells, np, qidPred = "= 0"),
      "s17_hybrid_sql_serving" ->
        graft.Serving.oracleHybridIndexedSql(cells, np))
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args.take(2)
    // --sql-only regenerates oracle_sql.json against existing dumps
    // (oracle-text refactors do not change the Spark side)
    val sqlOnly = args.contains("--sql-only")
    val spark = Engine.session(s"local[${Engine.cpus}]", "graft-derived-oracles")
    spark.sparkContext.setLogLevel("ERROR")
    val fam = derivedFamily(spark, dir)
    for ((name, _) <- fam if !sqlOnly) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").parquet(s"$out/$name")
      println(f"[derived] $name dumped in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    // shared escape (graft.tools.Json): covers ALL control chars, not
    // just the 4-case subset (r12 ADVICE — a CR in builder-authored SQL
    // would have produced invalid JSON for tools/drivercheck.py)
    new java.io.File(out).mkdirs() // --sql-only may target a fresh dir
    val json = fam.map { case (n, sql) =>
      s"${Json.str(n)}: ${Json.str(sql)}"
    }.mkString("{", ", ", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      json.getBytes("UTF-8"))
    println(s"[derived] oracle_sql.json written (${fam.size} queries)")
    spark.stop()
  }
}
