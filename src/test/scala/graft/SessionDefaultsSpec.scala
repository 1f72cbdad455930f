package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Graft's SQL semantics are the defaults of the context `Engine.session`
  * builds, and its functions a session extension: every session of the
  * context is graft-ready when it is created, and nothing re-prepares a
  * session later, so a conf a caller sets stands. */
class SessionDefaultsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val aqeKey = "spark.sql.adaptive.enabled"

  /** A one-row parquet file whose `ts` is TIMESTAMP(NANOS), the type
    * `events.ts` may carry; Spark cannot write it, so parquet's example
    * writer does. */
  private lazy val nanosFile: String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val path = java.nio.file.Files.createTempDirectory("graft_nanos")
      .resolve("events.parquet").toString
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    finally w.close()
    path
  }

  test("Engine.table reads a TIMESTAMP(NANOS) events.ts as micros") {
    val dir = new java.io.File(nanosFile).getParent
    val ev = Engine.table(spark, dir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    // 1700000000123456789 ns truncates to 1700000000123456 us
    assert(ev.selectExpr("unix_micros(ts)").head.getLong(0) == 1700000000123456L)
  }

  test("a caller's AQE=false survives building q05 and reaches its plan") {
    val prior = spark.conf.get(aqeKey)
    spark.conf.set(aqeKey, "false")
    try {
      val df = SparkEntry.queries("q05_nation_revenue")(spark, TestSpark.sf)
      assert(df.collect().nonEmpty)
      assert(spark.conf.get(aqeKey) == "false", "building q05 re-set AQE")
      val adaptive = df.queryExecution.executedPlan.collectFirst {
        case a: AdaptiveSparkPlanExec => a
      }
      assert(adaptive.isEmpty, df.queryExecution.executedPlan.treeString)
    } finally spark.conf.set(aqeKey, prior)
  }

  test("new GraftSession inside withoutAqe leaves AQE off") {
    val s = spark.newSession()
    Engine.withoutAqe(s) {
      // with a data dir the constructor also registers every table view
      new GraftSession(s, Some(TestSpark.sf))
      assert(s.conf.get(aqeKey) == "false")
    }
    assert(s.conf.get(aqeKey) == "true")
  }

  test("newSession() is graft-ready, and RESET keeps it so") {
    val s = spark.newSession()
    def graftReady(when: String): Unit = {
      for ((k, v) <- Engine.SessionDefaults)
        assert(s.conf.get(k) == v, s"$when: $k")
      assert(s.sql("SELECT graft_fnv64('abc')").head.getLong(0) == 0xe71fa2190541574bL)
      // Spark reads a TIMESTAMP(NANOS) column only under nanosAsLong
      val ts = s.read.parquet(nanosFile)
      assert(ts.schema("ts").dataType == LongType, when)
      assert(ts.head.getLong(0) == 1700000000123456789L, when)
    }
    graftReady("new session")
    s.conf.set("spark.sql.ansi.enabled", "false")
    s.sql("RESET")
    graftReady("after RESET")
  }
}
