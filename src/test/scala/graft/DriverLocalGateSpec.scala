package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Engine.driverLocal, the one gate every size-gated driver-local
  * regime goes through (graph operators, connected components, the BPE
  * trainer, k-means, q59): the limit is inclusive, the one switch skips
  * the count entirely, and the count is memoized per plan and file
  * snapshot like [[Engine.memoCount]]. Job counts are scoped to a job
  * group so concurrent suite activity cannot flake them. */
class DriverLocalGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def jobsInGroup(body: => Unit): Int =
    JobCounter.jobsInGroup(spark, "driver-local-gate-spec")(body)

  /** A fresh parquet table of `n` rows under a new root. */
  private def table(n: Int): (String, () => DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("gate").toString
    spark.range(n).select(col("id").as("v"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/t.parquet")
    (dir, () => Engine.table(spark, dir, "t"))
  }

  test("the limit is inclusive: count == limit runs local, limit + 1 does not") {
    val (_, t) = table(300)
    val g = t()
    assert(Engine.driverLocal(g, 300L)(g.count()))
    assert(!Engine.driverLocal(g, 299L)(g.count()))
  }

  test("with the switch off the gate is distributed and counts nothing") {
    val (_, t) = table(50)
    val g = t()
    var evaluated = 0
    var local = true
    val jobs = jobsInGroup {
      local = TestSpark.distributed(
        Engine.driverLocal(g, Long.MaxValue) { evaluated += 1; g.count() })
    }
    assert(!local, "switch off still chose the driver-local regime")
    assert(evaluated == 0, "switch off still evaluated the row count")
    assert(jobs == 0, s"switch off ran $jobs count job(s)")
    // any other value leaves the gate on
    spark.conf.set(Engine.DriverLocalConf, "on")
    try assert(Engine.driverLocal(g, Long.MaxValue)(g.count()))
    finally spark.conf.unset(Engine.DriverLocalConf)
  }

  test("a warm call on an unchanged plan runs no job") {
    val (_, t) = table(120)
    val cold = t()
    assert(Engine.driverLocal(cold, 120L)(cold.count()))
    val warm = t() // a fresh build of the same plan and files
    var local = false
    val jobs = jobsInGroup { local = Engine.driverLocal(warm, 120L)(warm.count()) }
    assert(local)
    assert(jobs == 0, s"warm gate call ran $jobs job(s)")
  }

  test("a file appended under the gated table is recounted on the next call") {
    val (dir, t) = table(200)
    val before = t()
    assert(Engine.driverLocal(before, 200L)(before.count()))
    // more part files land under the same root, no invalidation call
    spark.range(1).select(col("id").as("v"))
      .write.mode(SaveMode.Append).parquet(s"$dir/t.parquet")
    val after = t()
    var local = true
    val jobs = jobsInGroup { local = Engine.driverLocal(after, 200L)(after.count()) }
    assert(!local, "a stale memoized count kept the 201-row table local")
    assert(jobs > 0, "the appended table was not recounted")
  }
}
