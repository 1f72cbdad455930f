package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator: a Spark-first implementation plus (when the
  * semantics are SQL-expressible) an equivalent DuckDB oracle query — the
  * golden-test scheme from SURVEY §5. `oracle=None` -> driver records a
  * rows-only check (used for approximate/hash-scheme operators whose exact
  * output depends on our hash functions).
  */
final case class GQ(
    name: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame)

object GQ {
  /** An entry whose Spark side runs its oracle's own SQL text over the
    * registered catalog (`Engine.sql`): the text is written once, so the
    * two sides cannot drift. */
  def sql(name: String, text: String): GQ =
    GQ(name, Some(text), (s, d) => Engine.sql(s, d, text))

  /** Decimal-exact double sum, oracle side (see Engine.dsum): aggregate
    * exactly in DECIMAL(38,10), round exactly to scale 6, then one
    * decimal->double conversion that matches Spark's bit-for-bit. */
  def osum(e: String): String =
    s"CAST(CAST(SUM(CAST($e AS DECIMAL(38,10))) AS DECIMAL(38,6)) AS DOUBLE)"
  /** Average, oracle side (see Engine.davg). */
  def oavg(e: String): String =
    s"round(CAST(SUM(CAST($e AS DECIMAL(38,10))) AS DOUBLE) / COUNT($e), 6)"
  /** Exact-decimal sum of (6dp-rounded) terms as a BIGINT of
    * MICRO-units — the integer numerator of the tie-free trunc-mean
    * emission shared by t18/t22 (Spark twin: the sm column in
    * TextPipeline.dsirWeights). */
  def omicros(e: String): String =
    s"CAST(CAST(SUM(CAST($e AS DECIMAL(38,10))) AS DECIMAL(38,6)) * 1000000 AS BIGINT)"
  /** Signed-zero normalization, oracle side (see Engine.zeroNorm): DuckDB's
    * float-space round keeps the sign of a tiny negative that rounds to
    * zero (-0.0); Spark's BigDecimal round cannot. Equal under `=`,
    * different under a hash — collapse both engines to +0.0. */
  def ozeroNorm(e: String): String = s"CASE WHEN $e = 0 THEN 0.0 ELSE $e END"
}
