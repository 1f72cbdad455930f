package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Engine, GQ}

/** As-of (temporal point-in-time) join — an operator core Spark lacks.
  *
  * Per the custom-operator preference order (compose > custom Expression >
  * custom SparkPlan), this is realized as a COMPOSITION: tag both sides,
  * union, one shuffle+sort per key, and a running `last_value(...,
  * ignoreNulls)` window carries the most recent right-side payload to each
  * left row. Cost at 100 TB: exactly one exchange on the key + one sort —
  * the same lower bound a dedicated as-of SparkPlan would pay (a merge
  * join needs both sides key-partitioned and time-sorted), with AQE skew
  * handling for free. A custom BinaryExecNode would only win by avoiding
  * the union's row-widening; not worth bespoke physical-plan surface here.
  *
  * Strictness: `strict = true` joins right rows with ts strictly earlier
  * than the left row (ties excluded) — matching `ASOF JOIN ... ON l.ts >
  * r.ts`. Ties within the right side at the same (key, ts) are resolved
  * by `tieBreak` so results are deterministic.
  */
object AsOf {

  def asofJoin(
      left: DataFrame, right: DataFrame,
      keyCols: Seq[String], tsCol: String, tieBreak: Seq[String],
      strict: Boolean = true): DataFrame = {
    val lPay = struct(left.columns.toIndexedSeq.map(left(_)): _*).as("l_pay")
    val rPay = struct(right.columns.toIndexedSeq.map(right(_)): _*).as("r_pay")
    // at equal ts: left first (strict -> same-ts right rows excluded by the
    // running frame), or right first (inclusive)
    val (lMark, rMark) = if (strict) (0, 1) else (1, 0)

    val lTagged = left.select(
      keyCols.map(col) ++ Seq(col(tsCol).as("__ts"), lit(lMark).as("__m"),
        lPay, lit(null).cast(rightPayloadType(right)).as("r_pay")): _*)
    val rTagged = right.select(
      keyCols.map(col) ++ Seq(col(tsCol).as("__ts"), lit(rMark).as("__m"),
        lit(null).cast(leftPayloadType(left)).as("l_pay"), rPay): _*)

    val ordered = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__ts").asc +: col("__m").asc +:
        tieBreak.map(c => coalesce(col(s"l_pay.$c"), col(s"r_pay.$c")).asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    lTagged.unionByName(rTagged)
      .withColumn("r_match", last(col("r_pay"), ignoreNulls = true).over(ordered))
      .filter(col("__m") === lMark && col("l_pay").isNotNull)
      .select(col("l_pay"), col("r_match"))
  }

  private def leftPayloadType(df: DataFrame) =
    org.apache.spark.sql.types.StructType(df.schema.fields)
  private def rightPayloadType(df: DataFrame) =
    org.apache.spark.sql.types.StructType(df.schema.fields)

  /** The dedicated physical operator for the same semantics
    * (graft.plans.AsOfJoinExec: co-partitioned sorted merge, O(1) memory
    * per key, no union row-widening). Output = left columns ++ right
    * columns (right nullable); disambiguate names before calling.
    * Deterministic among equal right (key, ts) requires `rightTie` —
    * appended to the right child's required sort order (mirroring the
    * composed form's tieBreak); pass columns unique per (key, ts). */
  def asofJoinPhysical(
      left: DataFrame, right: DataFrame,
      keyCols: Seq[String], tsCol: String,
      strict: Boolean = true,
      rightTie: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    // Both sides often derive from the same scan (self-join shape); the
    // analyzer's DeduplicateRelations only fixes built-in Join nodes, so
    // mint fresh expression ids for the right side ourselves.
    val rAnalyzed = right.queryExecution.analyzed
    val rPlan: LogicalPlan = Project(
      rAnalyzed.output.map(a => Alias(a, a.name)()), rAnalyzed)
    def attr(out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute], n: String) =
      out.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n"))
    val rOut = rPlan.output
    org.apache.spark.sql.GraftShim.ofRows(spark,
      graft.plans.AsOfJoinNode(lPlan, rPlan,
        keyCols.map(attr(lPlan.output, _)), keyCols.map(attr(rOut, _)),
        attr(lPlan.output, tsCol), attr(rOut, tsCol), strict,
        rightTie.map(attr(rOut, _))))
  }

  private val asofOracle =
    """WITH v AS (SELECT user_id, ts, event_id, value FROM events
                WHERE event_type = 'view'),
          p AS (SELECT user_id, ts, event_id, value FROM events
                WHERE event_type = 'purchase')
        SELECT p.event_id AS purchase_id, p.user_id AS user_id,
               p.ts AS purchase_ts, v.event_id AS view_id,
               v.value AS view_value
        FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts > v.ts"""

  val defs: Seq[GQ] = Seq(
    // same semantics through the dedicated physical operator
    // (graft.plans.AsOfJoinExec) — identical oracle as e05
    GQ("e07_asof_physical_operator", Some(asofOracle),
      (s, d) => {
        val ev = Engine.table(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
            col("value").as("view_value"))
        // output = left cols ++ right cols; rename positionally to
        // disambiguate the shared key/ts names
        asofJoinPhysical(purchases, views, Seq("user_id"), "ts",
            rightTie = Seq("view_id"))
          .toDF("user_id", "purchase_ts", "purchase_id", "value",
            "r_user_id", "r_ts", "view_id", "view_value")
          .select("purchase_id", "user_id", "purchase_ts", "view_id", "view_value")
      }),

    // inclusive mode (right.ts <= left.ts — DuckDB `ON p.ts >= v.ts`)
    // through the same physical operator, strict = false
    GQ("e08_asof_inclusive_physical",
      Some("""WITH v AS (SELECT user_id, ts, event_id, value FROM events
                WHERE event_type = 'view'),
          p AS (SELECT user_id, ts, event_id, value FROM events
                WHERE event_type = 'purchase')
        SELECT p.event_id AS purchase_id, p.user_id AS user_id,
               p.ts AS purchase_ts, v.event_id AS view_id,
               v.value AS view_value
        FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts"""),
      (s, d) => {
        val ev = Engine.table(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
            col("value").as("view_value"))
        asofJoinPhysical(purchases, views, Seq("user_id"), "ts",
            strict = false, rightTie = Seq("view_id"))
          .toDF("user_id", "purchase_ts", "purchase_id", "value",
            "r_user_id", "r_ts", "view_id", "view_value")
          .select("purchase_id", "user_id", "purchase_ts", "view_id", "view_value")
      }),

    // purchase -> most recent strictly-prior page view of the same user
    GQ("e05_asof_purchase_view",
      Some("""WITH v AS (SELECT user_id, ts, event_id, value FROM events
                WHERE event_type = 'view'),
          p AS (SELECT user_id, ts, event_id, value FROM events
                WHERE event_type = 'purchase')
        SELECT p.event_id AS purchase_id, p.user_id AS user_id,
               p.ts AS purchase_ts, v.event_id AS view_id,
               v.value AS view_value
        FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts > v.ts"""),
      (s, d) => {
        val ev = Engine.table(s, d, "events")
        val views = ev.filter(col("event_type") === "view")
          .select("user_id", "ts", "event_id", "value")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id", "value")
        asofJoin(purchases, views, Seq("user_id"), "ts", Seq("event_id"))
          .select(
            col("l_pay.event_id").as("purchase_id"),
            col("l_pay.user_id").as("user_id"),
            col("l_pay.ts").as("purchase_ts"),
            col("r_match.event_id").as("view_id"),
            col("r_match.value").as("view_value"))
      })
  )
}
