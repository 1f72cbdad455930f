package graft

/** PG SQLSTATE-coded session errors — the reference's errcode scheme
  * (src/protocol/errcodes.rs, raised via kbbail!). The two concrete
  * classes keep the JVM exception taxonomy (argument vs state) so
  * callers can still catch the standard types; the wire front-end
  * pattern-matches [[HasSqlState]] to fill ErrorResponse field 'C'.
  * Spark's own errors already carry SQLSTATEs via SparkThrowable and
  * pass through unchanged.
  */
trait HasSqlState { def sqlstate: String }

object Errors {
  // errcodes.rs constants (reference src/protocol/errcodes.rs:13-32)
  final val UndefinedObject = "42704"
  final val InvalidParameterValue = "22023"
  final val SyntaxError = "42601"
  final val InFailedSqlTransaction = "25P02"
  final val ActiveSqlTransaction = "25001"
  final val NoActiveSqlTransaction = "25P01"
  final val UndefinedTable = "42P01"
  final val FeatureNotSupported = "0A000"
  final val InternalError = "XX000"
  /** PG's cardinality_violation: a lookup that must match one row
    * matched several. */
  final val CardinalityViolation = "21000"
  /** PG's lock_not_available. The reference's lmgr waits indefinitely
    * on a conflict (lmgr.rs:277-373) and so never raises this; this
    * port waits a bounded window (LockManager.waitTimeoutMs) and then
    * fails with PostgreSQL's lock_timeout code. */
  final val LockNotAvailable = "55P03"
  /** PG's deadlock_detected. The reference's lmgr has no detector (two
    * cross-waiting sessions block forever, lmgr.rs:277-373); PG's
    * deadlock.c aborts one victim when its deadlock_timeout fires.
    * This port checks the wait-for graph BEFORE each sleep and fails
    * the acquire that would close a cycle — same victim semantics,
    * prompt resolution. */
  final val DeadlockDetected = "40P01"
}

class GraftArgError(val sqlstate: String, msg: String)
    extends IllegalArgumentException(msg) with HasSqlState

class GraftStateError(val sqlstate: String, msg: String)
    extends IllegalStateException(msg) with HasSqlState
