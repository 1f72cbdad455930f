package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the conf-scope semantics of Engine's scoped-conf helpers
  * (`withoutConstraintPropagation`, `withoutAqe`): reentrancy of the
  * set/restore scope (r17 advice), kept per session and per conf key. */
class SessionHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val cpKey = "spark.sql.constraintPropagation.enabled"
  private val aqeKey = "spark.sql.adaptive.enabled"
  private def cpScope(s: SparkSession)(b: => Unit): Unit =
    Engine.withoutConstraintPropagation(s)(b)
  private def aqeScope(s: SparkSession)(b: => Unit): Unit = Engine.withoutAqe(s)(b)

  test("withoutConstraintPropagation is reentrant per session") {
    for ((key, scope) <- Seq(cpKey -> (cpScope _), aqeKey -> (aqeScope _))) {
      val s = spark.newSession()
      s.conf.set(key, "true")
      scope(s) {
        assert(s.conf.get(key) == "false")
        scope(s) {
          assert(s.conf.get(key) == "false")
        }
        // the r17 hazard: the inner scope exiting must NOT restore yet
        assert(s.conf.get(key) == "false",
          s"$key: inner scope restored early — nesting broken")
      }
      assert(s.conf.get(key) == "true",
        s"$key: outermost scope must restore the depth-0 prior")
    }
    // scopes on different keys and different sessions do not interact
    val s = spark.newSession()
    val other = spark.newSession()
    s.conf.set(cpKey, "true"); s.conf.set(aqeKey, "true")
    other.conf.set(aqeKey, "true")
    cpScope(s) {
      aqeScope(s) {
        assert(s.conf.get(cpKey) == "false" && s.conf.get(aqeKey) == "false")
        assert(other.conf.get(aqeKey) == "true")
      }
      assert(s.conf.get(aqeKey) == "true" && s.conf.get(cpKey) == "false")
    }
    assert(s.conf.get(cpKey) == "true")
  }
}
