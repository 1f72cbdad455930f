package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (Test / fork := true). */
object TestSpark {
  lazy val spark: SparkSession = Engine.session("local[4]", "graft-test")
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `f` with every size-gated driver-local regime forced to its
    * distributed arm: the one switch, [[Engine.DriverLocalConf]] = off. */
  def distributed[A](f: => A): A = {
    spark.conf.set(Engine.DriverLocalConf, "off")
    try f finally spark.conf.unset(Engine.DriverLocalConf)
  }
}
