package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Engine, SparkEntry, TestSpark}

/** topKPerQid's heap runs inside the consumer's plan (HashAggregateExec
  * over the fixed-width TopKPairsAgg buffer): no call leaves a cache
  * entry behind, never pays a reliable-mode DURABLE checkpoint write,
  * and never touches the session's ObjectHashAggregate fallback
  * threshold. */
class TopKCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("s01, s02 and s13 leave no cache entry") {
    for (name <- Seq("s01_ann_bruteforce", "s02_ann_lsh", "s13_mmr_rerank")) {
      spark.sharedState.cacheManager.clearCache()
      val r1 = SparkEntry.queries(name)(spark, TestSpark.sf)
        .collect().map(_.toSeq).toSet
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left a cache entry behind — the r16 leak class")
      val r2 = SparkEntry.queries(name)(spark, TestSpark.sf)
        .collect().map(_.toSeq).toSet
      assert(spark.sharedState.cacheManager.isEmpty, name)
      assert(r1 == r2 && r1.nonEmpty, name)
    }
  }

  test("reliable mode: an ANN query pays NO durable checkpoint write and no everyK counter bump") {
    val dir = java.nio.file.Files.createTempDirectory("topk-reliable").toString
    spark.conf.set("graft.checkpoint.mode", "reliable")
    spark.conf.set("graft.checkpoint.dir", dir)
    try {
      val e = Engine.table(spark, TestSpark.sf, "embeddings")
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val n = VectorSearch.bruteForceTopK(e, q, 10).count()
      assert(n > 0)
      // r16 paid a ReliableCheckpointRDD write (object-store RTT class)
      // per ANN query here; the in-plan heap must not
      def rddDirs(f: java.io.File): Seq[String] =
        if (!f.isDirectory) Nil
        else f.listFiles().toSeq.flatMap(c =>
          (if (c.getName.startsWith("rdd-")) Seq(c.getPath) else Nil) ++ rddDirs(c))
      assert(rddDirs(new java.io.File(dir)).isEmpty,
        "ANN query wrote a durable checkpoint in reliable mode")
    } finally {
      spark.conf.unset("graft.checkpoint.mode")
      spark.conf.unset("graft.checkpoint.dir")
    }
  }

  test("the parent session's ObjectHashAggregate fallback threshold is never touched") {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val before = spark.conf.get(key)
    val e = Engine.table(spark, TestSpark.sf, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    VectorSearch.bruteForceTopK(e, q, 10).count()
    assert(spark.conf.get(key) == before,
      "protected path leaked a conf change onto the parent session")
  }
}
