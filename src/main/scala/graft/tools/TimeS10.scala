package graft.tools
import org.apache.spark.sql.SparkSession

/** Ad-hoc query timer for scale sweeps: runMain graft.tools.TimeS10
  * <sfDir> [-Dconf=v ...] <query> [query ...] — each query runs twice
  * (cold + warm, the BASELINE.md convention; the warm number is the
  * one scaling laws are fitted on). -D args become session confs
  * (e.g. -Dgraft.driverLocal=off forces d05's distributed
  * arm). */
object TimeS10 {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val (confs, qs) = args.tail.toSeq.partition(_.startsWith("-D"))
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    confs.foreach { c =>
      val Array(k, v) = c.stripPrefix("-D").split("=", 2)
      spark.conf.set(k, v)
    }
    for (q <- qs; i <- 1 to 2) {
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(q)(spark, dir).count()
      println(f"$q run$i rows=$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
