package graft.tools

import graft.{Engine, SparkEntry}

/** Dump `.explain("formatted")` output for named queries to files — the
  * judge-checkable plan evidence for optimization rounds
  * (plans/r{N}/<query>_{before|after}.txt).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.PlanDump plans/r18 before q59_mad_outliers ..."
  *
  * Runs on the bench's session shape (`Engine.session` at
  * `Engine.cpus` cores and partitions) so the dumped plans are the plans
  * the bench executes. AQE renders `AdaptiveSparkPlan isFinalPlan=false` — the
  * initial plan; Exchange counts / join strategies / PushedFilters are
  * all visible there.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <suffix> [--conf=k=v ...] <query>...")
    val outDir = args(0)
    val suffix = args(1)
    val confs = args.drop(2).filter(_.startsWith("--conf=")).map { a =>
      val kv = a.stripPrefix("--conf=").split("=", 2)
      require(kv.length == 2, s"malformed $a — expected --conf=key=value")
      (kv(0), kv(1))
    }.toSeq
    val names = args.drop(2).filterNot(_.startsWith("--conf=")).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session(s"local[${Engine.cpus}]", "graft-plandump", Engine.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${n}_$suffix.txt")
      try w.println(txt) finally w.close()
      Engine.releaseEphemeral(spark)
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
