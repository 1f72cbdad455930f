package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PG-semantics parity layer over Spark builtins — the Column-level
  * realization of KuiBaDB's declared operator surface (reference
  * src/bin/initdb/main.rs:464-650: 186 operators; src/utils/adt.rs: the 6
  * implemented int4 kernels).
  *
  * Philosophy (SURVEY §2.8, §4.3): everything here compiles to native
  * codegen'd Catalyst expressions — no UDFs. ANSI mode (Engine.SessionDefaults)
  * supplies PG overflow/cast-error behavior (adt.rs:29-34: int4pl must
  * error on overflow). Only the few places where Spark and PG semantics
  * differ get a wrapper.
  */
object PgFunctions {

  /** int4pl / int8pl / float8pl … (adt.rs:108-118): native `+` under ANSI
    * errors on int overflow exactly like the reference. */
  def pgAdd(a: Column, b: Column): Column = a + b
  def pgSub(a: Column, b: Column): Column = a - b // int4mi, adt.rs:178-188
  def pgMul(a: Column, b: Column): Column = a * b // int4mul, adt.rs:202-212

  /** int4div (adt.rs:190-200): PG integer division truncates toward zero.
    * Spark's `/` promotes integers to double, so use integral `div`. */
  def pgDiv(a: Column, b: Column): Column = call_function("div", a, b)

  /** PG `%`: sign follows dividend — same as Spark/Java `%`. */
  def pgMod(a: Column, b: Column): Column = a % b

  /** Unary `@` abs / `-` negate (initdb/main.rs:496-497,536-544). */
  def pgAbs(c: Column): Column = abs(c)
  def pgNeg(c: Column): Column = negate(c)

  /** Bitwise & | # ~ << >> over int2/4/8 (initdb/main.rs:619-636). */
  def pgBitAnd(a: Column, b: Column): Column = a.bitwiseAND(b)
  def pgBitOr(a: Column, b: Column): Column = a.bitwiseOR(b)
  def pgBitXor(a: Column, b: Column): Column = a.bitwiseXOR(b)
  def pgBitNot(c: Column): Column = bitwise_not(c)
  def pgShiftLeft(c: Column, n: Column): Column = call_function("shiftleft", c, n)
  def pgShiftRight(c: Column, n: Column): Column = call_function("shiftright", c, n)

  /** |/ sqrt, ||/ cbrt, ^ pow, ! factorial (initdb/main.rs:550-551,586,
    * 481-482; procs dsqrt/dcbrt/dpow initdb:762-764). */
  def pgSqrt(c: Column): Column = sqrt(c)
  def pgCbrt(c: Column): Column = call_function("cbrt", c)
  def pgPow(a: Column, b: Column): Column = pow(a, b)
  def pgFactorial(c: Column): Column = factorial(c)

  /** || concat, ~~ LIKE, !~~ NOT LIKE (initdb/main.rs:648-650). */
  def pgConcat(cs: Column*): Column = concat(cs: _*)
  def pgLike(c: Column, pattern: String): Column = c.like(pattern)
  def pgNotLike(c: Column, pattern: String): Column = !c.like(pattern)

  /** typinput procs (int4in adt.rs:148-176 etc.): text -> typed, erroring
    * on malformed input under ANSI — exactly PG's behavior. */
  def pgIn(c: Column, t: DataType): Column = c.cast(t)

  /** typoutput procs (int4out adt.rs:120-146, boolout): typed -> text.
    * PG renders bool as t/f — Spark's cast gives true/false, so boolout
    * is the one real wrapper here. */
  def pgOut(c: Column): Column = c.cast(StringType)
  def pgBoolOut(c: Column): Column = when(c, lit("t")).otherwise(lit("f"))
}
