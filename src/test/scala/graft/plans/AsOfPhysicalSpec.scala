package graft.plans

import java.sql.Timestamp

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Engine, TestSpark}
import graft.operators.AsOf

class AsOfPhysicalSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")

  test("physical as-of join: strict prior semantics on crafted data") {
    val left = Seq((1L, ts(10), "p1"), (1L, ts(20), "p2"), (2L, ts(5), "p3"))
      .toDF("user_id", "ts", "ltag")
    val right = Seq(
      (1L, ts(5), "v1"), (1L, ts(10), "v_same_ts"), (1L, ts(15), "v2"),
      (3L, ts(1), "other_user")).toDF("user_id", "ts", "rtag")
    val out = AsOf.asofJoinPhysical(left, right, Seq("user_id"), "ts")
      .select(col("ltag"), col("rtag")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out("p1").contains("v1"))
    assert(out("p2").contains("v2"))
    assert(out("p3").isEmpty)

    val incl = AsOf.asofJoinPhysical(left, right, Seq("user_id"), "ts",
      strict = false)
      .select(col("ltag"), col("rtag")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(incl("p1").contains("v_same_ts"))
  }

  test("physical operator agrees with the composed form on real events") {
    val ev = Engine.table(spark, TestSpark.sf, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("v_id"),
        col("value").as("v_value"))

    val physical = AsOf.asofJoinPhysical(purchases, views, Seq("user_id"), "ts")
      .select(col("event_id"), col("v_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet

    val composed = AsOf.asofJoin(purchases,
      views.withColumnRenamed("v_id", "event_id"), // tieBreak needs shared name
      Seq("user_id"), "ts", Seq("event_id"))
      .select(col("l_pay.event_id"), col("r_match.event_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet

    assert(physical == composed)
    assert(physical.nonEmpty)
  }

  test("a new session plans AsOfJoinExec through the injected strategy") {
    val s = spark.newSession()
    import s.implicits._
    val left = Seq((1L, ts(10), "p1")).toDF("user_id", "ts", "ltag")
    val right = Seq((1L, ts(5), "v1")).toDF("user_id", "ts", "rtag")
    val joined = AsOf.asofJoinPhysical(left, right, Seq("user_id"), "ts")
    val plan = joined.queryExecution.executedPlan
    assert(find(plan)(_.isInstanceOf[AsOfJoinExec]).nonEmpty, plan.treeString)
    assert(joined.select("rtag").as[String].collect().toSeq == Seq("v1"))
    // GraftExtensions injected it; nothing installed it on the session
    assert(s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental.extraStrategies.isEmpty)
  }

  test("the plan is the dedicated exec with one exchange+sort per side") {
    val ev = Engine.table(spark, TestSpark.sf, "events")
    val l = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val r = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("v_id"))
    val plan = AsOf.asofJoinPhysical(l, r, Seq("user_id"), "ts")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin "), plan) // nodeName renders without Exec
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2, plan)
  }
}
