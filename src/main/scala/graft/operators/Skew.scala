package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Manual skew mitigation for the cases AQE cannot fix.
  *
  * AQE's skew-join split (on in Engine.SessionDefaults) handles skewed
  * SHUFFLE partitions, but a single hot KEY joined against a
  * non-broadcastable right side still serializes on one task's probe
  * side — and when the hot key matches on BOTH sides, the problem is
  * row MULTIPLICATION, which partition splitting cannot touch. Classic
  * salting fixes that: replicate the right side `saltFactor` ways,
  * scatter the left side uniformly across the replicas, join on
  * (key, salt). Deterministic salt (hash of stable columns, not
  * rand()) keeps re-runs reproducible — same policy as the dedup
  * hashes (ARCHITECTURE.md principle 5).
  *
  * Keys are named PER SIDE (`leftKey`/`rightKey`): the production call
  * site (e09's per-user purchase x view band join) is a self-join of
  * one scan, where distinct key names are what keeps every join-side
  * attribute reference unambiguous.
  */
object Skew {

  /** Equi-join `left.leftKey = right.rightKey` (plus an optional extra
    * condition) with the LEFT side's hot keys scattered over
    * `saltFactor` replicas of the right side. `leftScatter` must be
    * stable non-key columns of the left row (used to derive its
    * deterministic salt). Left/inner types are supported: each left
    * row carries exactly ONE salt and meets every right row of its key
    * exactly once (the replica holding that salt), so match
    * multiplicity — and left-join survival of unmatched rows — is
    * identical to the plain join's.
    */
  def saltedJoin(
      left: DataFrame, right: DataFrame, leftKey: String, rightKey: String,
      saltFactor: Int, leftScatter: Seq[String],
      extraCond: Column = lit(true), joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left",
      s"saltedJoin supports inner/left, not $joinType (replicating the " +
        "right side breaks right/full multiplicity)")
    val salted = left.withColumn("__salt_l",
      pmod(hash(leftScatter.map(col): _*), lit(saltFactor)))
    val replicated = right.withColumn("__salt_r",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated,
        col(leftKey) === col(rightKey)
          && col("__salt_l") === col("__salt_r") && extraCond,
        joinType)
      .drop("__salt_l", "__salt_r")
  }

  /** Estimated max rows-per-key on `df` from a deterministic sample —
    * the cheap stats probe guarding [[saltedJoinIfSkewed]]. One narrow
    * scan of `fraction` of the rows plus a sampled-size aggregation;
    * in a real deployment this number comes from table statistics or a
    * prior run's histogram, and this probe is the self-contained
    * fallback when no stats exist. Returns 0 for an empty sample.
    * Memoized through [[graft.Engine.memoStat]] (same key contract as
    * memoCount: plan + file listing), so a stats-gated operator pays
    * the sampling job once per (plan, table state), not once per
    * EXECUTION — e09's repeated builds re-use the estimate, and a
    * post-append rebuild re-probes. */
  def probeMaxKeyCount(df: DataFrame, key: String,
      fraction: Double = 0.01, seed: Long = 42L): Long =
    graft.Engine.memoStat(df, s"maxKey:$key:$fraction:$seed") {
      val top = df.select(key).sample(withReplacement = false, fraction, seed)
        .groupBy(key).agg(count(lit(1)).as("c"))
        .agg(max("c").as("m")).head()
      if (top.isNullAt(0)) 0L else (top.getLong(0) / fraction).toLong
    }

  /** [[saltedJoin]] behind the stats gate: salt only when the probe
    * estimates some right-side key above `hotKeyThreshold` rows (a
    * probe side too big for one task's row multiplication); otherwise
    * run the plain join — uniform data must not pay the saltFactor-way
    * replication of the right side through the shuffle. Output is
    * identical either way (SkewSpec pins both arms against the plain
    * join); only the physical scatter differs. */
  def saltedJoinIfSkewed(
      left: DataFrame, right: DataFrame, leftKey: String, rightKey: String,
      hotKeyThreshold: Long, saltFactor: Int, leftScatter: Seq[String],
      extraCond: Column = lit(true), joinType: String = "inner"): DataFrame =
    if (probeMaxKeyCount(right, rightKey) > hotKeyThreshold)
      saltedJoin(left, right, leftKey, rightKey, saltFactor, leftScatter,
        extraCond, joinType)
    else
      left.join(right, col(leftKey) === col(rightKey) && extraCond, joinType)
}
