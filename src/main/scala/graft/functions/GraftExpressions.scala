package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, JavaCode, TrueLiteral}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Graft's native Catalyst expressions — the analogue of KuiBaDB's fmgr
  * function surface (reference src/utils/fmgr.rs:36-63, src/utils/adt.rs):
  * batch-in/batch-out columnar kernels. On Spark the "batch" dimension is
  * supplied by whole-stage codegen / the vectorized reader, so each kernel
  * is a scalar Expression; the hot one (cosine) implements doGenCode so it
  * stays inside the codegen'd loop (no boxing per row).
  *
  * All hashes are deterministic (FNV-1a 64 + splitmix64-derived
  * coefficients) so results are reproducible across runs and cluster
  * sizes — a hard requirement for dedup at 100 TB (re-runs must agree).
  */
object GraftHash {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  /** FNV-1a 64-bit over raw bytes. */
  def fnv64(bytes: Array[Byte]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** splitmix64 — used to derive per-permutation minhash coefficients. */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  val MaxHashes = 256
  /** Multiplicative/additive coefficients for minhash permutations i:
    * h_i(x) = fnv64(x) * A(i) + B(i)  (wrapping 64-bit, compared unsigned).
    */
  lazy val A: Array[Long] = Array.tabulate(MaxHashes)(i => splitmix64(2L * i) | 1L)
  lazy val B: Array[Long] = Array.tabulate(MaxHashes)(i => splitmix64(2L * i + 1))

  /** One-pass tokenizer kernel — the single implementation behind
    * Tokens' interpreted eval AND its generated code (called as a
    * static from codegen'd Java, like fnv64 above). Byte-level scan:
    * after UTF8String.toLowerCase (the same kernel `lower()` uses, so
    * case folding can never diverge from the HOF formulation), every
    * byte of a multi-byte UTF-8 sequence is >= 0x80 — i.e. negative
    * here, never in [a-z0-9] — so alnum runs are pure-ASCII slices and
    * no String materializes per row. */
  def tokenize(v: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val bytes = v.toLowerCase.getBytes
    val n = bytes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    var start = -1
    while (i < n) {
      val b = bytes(i)
      val alnum = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
      if (alnum) { if (start < 0) start = i }
      else if (start >= 0) {
        out += org.apache.spark.unsafe.types.UTF8String
          .fromBytes(bytes, start, i - start)
        start = -1
      }
      i += 1
    }
    if (start >= 0)
      out += org.apache.spark.unsafe.types.UTF8String
        .fromBytes(bytes, start, n - start)
    new GenericArrayData(out.toArray)
  }

  /** Row-local token-count kernel behind TokenCounts (r19): sort the
    * array's UTF8String refs (binary order — UTF8String.compareTo, the
    * same total order array_sort uses) and run-length encode to
    * (token, tf) structs. The output MULTISET is exactly what
    * `groupBy(doc_id, token).count()` produces for the doc — counting
    * is order-independent — so exploding this kernel is
    * value-identical to the corpus-wide tf aggregation while removing
    * its exchange entirely: token counts are doc-local knowledge the
    * optimizer cannot see (guide §8), and at 100 TB the tf build's
    * shuffle is corpus-sized. Cost is O(L log L) per doc on ref sorts
    * (no byte copies; L = doc length in tokens). */
  def tokenCounts(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
    java.util.Arrays.sort(toks,
      (a: org.apache.spark.unsafe.types.UTF8String,
       b: org.apache.spark.unsafe.types.UTF8String) => a.compareTo(b))
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var s = 0
    while (s < n) {
      var e = s + 1
      while (e < n && toks(e) == toks(s)) e += 1
      out += org.apache.spark.sql.catalyst.InternalRow(toks(s), (e - s).toLong)
      s = e
    }
    new GenericArrayData(out.toArray)
  }
}

/** graft_token_counts(array<string>) -> array<struct<token, tf:bigint>>:
  * row-local run-length token counts (see [[GraftHash.tokenCounts]]).
  * doGenCode keeps it inside whole-stage codegen like [[Tokens]] — it
  * replaces a corpus-wide exchange in every tf-building text query, so
  * it sits on the same hot scan path. */
case class TokenCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("token", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false)
  override def nullSafeEval(v: Any): Any =
    GraftHash.tokenCounts(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHash.tokenCounts($c)")
  override protected def withNewChildInternal(c: Expression): TokenCounts =
    copy(child = c)
  override def prettyName: String = "graft_token_counts"
}

/** fnv64(str) -> long. Deterministic 64-bit content hash (for shingle
  * hashing / fingerprints). */
case class Fnv64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    GraftHash.fnv64(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHash.fnv64($c.getBytes())")
  override protected def withNewChildInternal(c: Expression): Fnv64 = copy(child = c)
  override def prettyName: String = "graft_fnv64"
}

/** graft_tokens(text) -> array<string>: lowercase alphanumeric word
  * tokens — semantically identical to
  * `filter(split(lower(text), "[^a-z0-9]+"), t => t <> "")` but a single
  * native pass per row. The HOF formulation is evaluated interpreted,
  * per element, with no subexpression elimination (the tokenize step
  * dominated the dedup pipelines); this is the `Datums`-style batch
  * kernel the reference would write (src/utils/adt.rs one-pass loops).
  * doGenCode keeps the hottest text kernel inside whole-stage codegen
  * (a CodegenFallback here broke the codegen span of EVERY text-family
  * scan — the r8 flag); interpreted eval and generated code share the
  * one static kernel, GraftHash.tokenize.
  */
case class Tokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    GraftHash.tokenize(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHash.tokenize($c)")
  override protected def withNewChildInternal(c: Expression): Tokens = copy(child = c)
  override def prettyName: String = "graft_tokens"
}

/** graft_shingles(tok, k) -> array<string>: k-word shingles joined by
  * single spaces; fewer than k tokens -> empty array. Matches the
  * `transform(sequence(...), i -> concat_ws(" ", tok[i..i+k-1]))`
  * formulation but in one native pass (the HOF version re-enters the
  * interpreter k+2 times per shingle). */
case class Shingles(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i <= n - k) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        if (!arr.isNullAt(i + j)) sb.append(arr.getUTF8String(i + j).toString)
        j += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Shingles = copy(child = c)
  override def prettyName: String = "graft_shingles"
}

/** minhash signature: array<string> tokens -> array<long> of length n.
  * One pass over the tokens, n permutations (SURVEY §7.2 step 6; public
  * MinHash scheme, Broder 1997). Empty/all-null input -> all-0xFF
  * signature (unsigned max), which never collides with real buckets.
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  require(numHashes > 0 && numHashes <= GraftHash.MaxHashes)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val sig = Array.fill(numHashes)(-1L) // unsigned max
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = GraftHash.fnv64(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < numHashes) {
          val hj = h * GraftHash.A(j) + GraftHash.B(j)
          if (java.lang.Long.compareUnsigned(hj, sig(j)) < 0) sig(j) = hj
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  override def prettyName: String = "graft_minhash"
}

/** graft_bands(sig, bands) -> array<long>: one deterministic hash per
  * equal-width band of a minhash signature (LSH banding). Native
  * single-pass replacement for transform(sequence(...),
  * b -> hash(slice(sig, ...))) — interpreted, with a slice allocation
  * per band. Band index is folded into the hash so identical slices in
  * different bands never collide into one bucket key.
  * CONTRACT: bands must divide the signature length — enforced HERE (not
  * only at the Scala entry points) because graft_bands(sig, b) is
  * SQL-callable: a non-dividing bands would silently ignore the
  * signature tail, and bands > length would hash only the per-band seed
  * (constant whole-corpus buckets). */
case class BandHashes(child: Expression, bands: Int)
    extends UnaryExpression with CodegenFallback {
  require(bands >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val sig = v.asInstanceOf[ArrayData]
    val n = sig.numElements()
    if (n < bands || n % bands != 0)
      throw new IllegalArgumentException(
        s"graft_bands: bands ($bands) must divide the signature length ($n)")
    val rows = n / bands
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var h = GraftHash.splitmix64(b.toLong)
      var i = b * rows
      val end = math.min(n, i + rows)
      while (i < end) {
        h = GraftHash.splitmix64(h ^ sig.getLong(i))
        i += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): BandHashes = copy(child = c)
  override def prettyName: String = "graft_bands"
}

/** graft_sig_match(a, b) -> int: number of positions where two long
  * arrays agree (minhash signature agreement — the LSH est-jaccard
  * numerator). One native loop; the zip_with+aggregate HOF formulation
  * is interpreted per element and dominated candidate-pair scoring. */
case class SigMatchCount(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var c = 0; var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigMatchCount =
    copy(left = l, right = r)
  override def prettyName: String = "graft_sig_match"
}

/** simhash64: array<string> tokens -> 64-bit simhash (Charikar 2002).
  * Near-dup distance = bit_count(a ^ b) (builtin, no custom expr needed).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val acc = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = GraftHash.fnv64(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  override def prettyName: String = "graft_simhash"
}

/** graft_max_shingle_count(tokens, k) -> int: occurrence count of the
  * most frequent k-word shingle within ONE document's token array.
  * The core of Gopher-style repetition quality signals (top n-gram
  * fraction): a per-row one-pass kernel, so the whole repetition score
  * is a shuffle-free scan+project at any corpus size — the oracle's
  * explode + two-level groupBy formulation shuffles every n-gram.
  * Counts exact shingle STRINGS (not hashes): a hash collision would
  * merge two shingles' counts and diverge from the oracle.
  * Empty/too-short input -> 0. */
case class MaxShingleCount(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"k ($k) must be >= 1")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < k) 0
    else {
      val toks = new Array[String](n)
      var i = 0
      while (i < n) {
        toks(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
        i += 1
      }
      val counts = new java.util.HashMap[String, Int]((n - k + 1) * 2)
      var max = 0
      i = 0
      while (i <= n - k) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
        val c = counts.merge(sb.toString, 1, Integer.sum)
        if (c > max) max = c
        i += 1
      }
      max
    }
  }
  override protected def withNewChildInternal(c: Expression): MaxShingleCount =
    copy(child = c)
  override def prettyName: String = "graft_max_shingle_count"
}

/** Count-min-sketch frequency floor probe: true iff the sketch's
  * (over-)estimate of `child`'s count is >= threshold. CMS only ever
  * OVERestimates, so `false` definitively means "true count below
  * threshold" — the pruning direction heavy-hitter detection needs:
  * rows probing false are dropped without shuffling, rows probing true
  * are verified by an exact aggregation over the (tiny) candidate set.
  * Same build-probe lifecycle as BloomMightContain. Strings are probed
  * as java.lang.String to match DataFrameStatFunctions.countMinSketch's
  * add path. */
case class CmsAtLeast(child: Expression,
    cms: org.apache.spark.util.sketch.CountMinSketch, threshold: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any = {
    val est = v match {
      case s: org.apache.spark.unsafe.types.UTF8String =>
        cms.estimateCount(s.toString)
      case l: Long => cms.estimateCount(l)
      case i: Int => cms.estimateCount(i)
      case other => cms.estimateCount(other)
    }
    est >= threshold
  }
  override protected def withNewChildInternal(c: Expression): CmsAtLeast =
    copy(child = c)
  override def prettyName: String = "graft_cms_at_least"
}

/** graft_interleave_bits(b1, b2, ...) -> long: bit-interleaves N
  * non-negative int bucket values into one Z-order (Morton) key. Bit i
  * of child c lands at position i*N + c, so sorting by the result
  * clusters rows that are close in EVERY dimension — the multi-column
  * data-skipping layout (each output file then has narrow min/max
  * ranges on all interleaved columns, and parquet stats prune scans
  * filtered on any of them). Each child contributes floor(63/N) bits;
  * higher bits are ignored (callers bucket into that range). Null
  * buckets sort first (treated as 0). */
case class InterleaveBits(children: Seq[Expression])
    extends Expression with CodegenFallback {
  require(children.nonEmpty && children.size <= 8,
    s"interleave_bits takes 1..8 columns, got ${children.size}")
  private val bitsPerCol = 63 / children.size
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  // integral-only contract (buckets): a string/decimal argument must be
  // an ANALYSIS error, not an executor-time ClassCastException from the
  // Number cast below (Spark's Decimal is not a java.lang.Number)
  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = children.zipWithIndex.collect {
      case (c, i) if !Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(c.dataType) => s"arg $i: ${c.dataType.simpleString}"
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires integral bucket arguments, got ${bad.mkString(", ")}")
  }
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    var out = 0L
    var c = 0
    val n = children.size
    while (c < n) {
      val v = children(c).eval(input)
      val bucket = if (v == null) 0L
        else v.asInstanceOf[Number].longValue() & ((1L << bitsPerCol) - 1)
      var b = 0
      while (b < bitsPerCol) {
        out |= ((bucket >>> b) & 1L) << (b * n + c)
        b += 1
      }
      c += 1
    }
    out
  }
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): InterleaveBits = copy(children = cs)
  override def prettyName: String = "graft_interleave_bits"
}

/** Bloom-filter membership probe against a driver-built
  * org.apache.spark.util.sketch.BloomFilter (Serializable — ships in the
  * task closure like a broadcast small-join side). `false` is definitive
  * (no false negatives), `true` means "verify exactly" — the standard
  * cheap pre-filter that keeps the expensive membership join's input
  * small at 100 TB. Probes the UTF-8 bytes of a string / raw binary /
  * long, matching BloomFilter.put semantics on each type. */
case class BloomMightContain(child: Expression,
    bloom: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any = v match {
    case s: org.apache.spark.unsafe.types.UTF8String =>
      bloom.mightContainBinary(s.getBytes)
    case b: Array[Byte] => bloom.mightContainBinary(b)
    case l: Long => bloom.mightContainLong(l)
    case i: Int => bloom.mightContainLong(i.toLong)
    case other => throw new IllegalArgumentException(
      s"graft_bloom_contains: unsupported input ${other.getClass}")
  }
  override protected def withNewChildInternal(c: Expression): BloomMightContain =
    copy(child = c)
  override def prettyName: String = "graft_bloom_contains"
}

/** Generic numeric-array element access for the vector kernels: any
  * numeric element type works (SQL `array(1.0, 0.0)` literals are
  * DECIMAL arrays!); float/double get the codegen fast path. */
object VectorKernels {
  def conv(et: DataType): (ArrayData, Int) => Double = et match {
    case FloatType => (a, i) => a.getFloat(i).toDouble
    case DoubleType => (a, i) => a.getDouble(i)
    case LongType => (a, i) => a.getLong(i).toDouble
    case IntegerType => (a, i) => a.getInt(i).toDouble
    case ShortType => (a, i) => a.getShort(i).toDouble
    case ByteType => (a, i) => a.getByte(i).toDouble
    case d: DecimalType => (a, i) => a.getDecimal(i, d.precision, d.scale).toDouble
    case other => throw new IllegalArgumentException(s"non-numeric vector element: $other")
  }

  def dot(a: ArrayData, b: ArrayData, etA: DataType, etB: DataType): Double = {
    val ga = conv(etA); val gb = conv(etB)
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += ga(a, i) * gb(b, i); i += 1 }
    dot
  }

  def cosine(a: ArrayData, b: ArrayData, etA: DataType, etB: DataType): Double = {
    val ga = conv(etA); val gb = conv(etB)
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = ga(a, i); val y = gb(b, i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb))
  }
}

/** Base for dense-vector kernels over numeric arrays. Math is performed
  * in double with strict sequential accumulation so the result is
  * bit-deterministic and matches an oracle computing the same formula
  * (element order fixed, no reassociation).
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  /** both element types eligible for the inline codegen loop */
  protected def fastPath: Boolean = Seq(left, right).forall { e =>
    elemType(e) == FloatType || elemType(e) == DoubleType
  }

  protected def getterJava(arr: String, i: String, et: DataType): String =
    if (et == FloatType) s"(double)$arr.getFloat($i)" else s"$arr.getDouble($i)"
}

/** graft_dot(a, b) -> double: sequential dot product. */
case class ArrayDot(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      elemType(left), elemType(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      if (!fastPath) {
        val etA = ctx.addReferenceObj("etA", elemType(left))
        val etB = ctx.addReferenceObj("etB", elemType(right))
        s"${ev.value} = graft.functions.VectorKernels.dot($a, $b, $etA, $etB);"
      } else {
        val i = ctx.freshName("i"); val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $dot += ${getterJava(a, i, elemType(left))} * ${getterJava(b, i, elemType(right))};
           |}
           |${ev.value} = $dot;
         """.stripMargin
      }
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayDot =
    copy(left = l, right = r)
  override def prettyName: String = "graft_dot"
}

/** graft_cosine(a, b) -> double: dot/(sqrt(na)*sqrt(nb)), one fused pass.
  * Zero-norm input -> 0.0. Codegen'd: stays inside WholeStageCodegen, no
  * per-row allocation — this is the ANN hot loop (SURVEY §7.2 step 6).
  */
case class CosineSim(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.cosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      elemType(left), elemType(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      if (!fastPath) {
        val etA = ctx.addReferenceObj("etA", elemType(left))
        val etB = ctx.addReferenceObj("etB", elemType(right))
        s"${ev.value} = graft.functions.VectorKernels.cosine($a, $b, $etA, $etB);"
      } else {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        val x = ctx.freshName("x"); val y = ctx.freshName("y")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $x = ${getterJava(a, i, elemType(left))};
           |  double $y = ${getterJava(b, i, elemType(right))};
           |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
           |}
           |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
           |  : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         """.stripMargin
      }
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "graft_cosine"
}

/** One-pass nearest-centroid selection for IVF coarse quantization. */
object NearestCellsKernel {
  /** Indices of the `n` centroids nearest to `v` by cosine, best first
    * (ties broken by lower index). One call per row; |centroids| is a
    * fixed parameter (k-means-style coarse codebook), NOT a function of
    * corpus size — this is what keeps IVF assignment linear at 100 TB
    * (no row explosion, no per-row shuffle, no window).
    *
    * `round6` ranks by the 6dp-rounded cosine (Spark Round semantics:
    * BigDecimal.valueOf + HALF_UP — the exact value `round(cos, 6)`
    * yields) instead of the raw double: the arm-parity contract for
    * operators whose SMALL-k arm is the oracle-expressible literal
    * argmax over round(cos, 6) (d10's assignByCosine) — without it the
    * two arms rank by different precision and assignments can shift
    * discontinuously when a derived k crosses the arm switch.
    * IVF/k-means keep round6 = false (their oracles restate the
    * UNROUNDED kernel compare).
    */
  /** Per-centroid sqrt(sum c^2), accumulated in the same index order as
    * the legacy per-row loop so sim arithmetic stays bit-identical.
    * Built once per [[NearestCells]] expression (driver), shipped with
    * the plan — the per-(row, centroid) norm recompute was a third of
    * the assignment kernel's work at k = 800. */
  def sqrtNorms(cents: Array[Array[Double]]): Array[Double] =
    cents.map { c =>
      var nc = 0.0; var t = 0
      while (t < c.length) { nc += c(t) * c(t); t += 1 }
      java.lang.Math.sqrt(nc)
    }

  /** round6 ranking gap below which raw-sim order is not provably the
    * rounded-sim order: HALF_UP moves a value by at most 5e-7, so two
    * sims more than 1e-6 apart can never swap or tie after rounding;
    * 1.1e-6 adds ulp headroom. */
  private final val Round6Margin = 1.1e-6

  def topN(v: ArrayData, et: DataType,
      cents: Array[Array[Double]], sqrtNc: Array[Double], n: Int,
      round6: Boolean): ArrayData = {
    val get = VectorKernels.conv(et)
    val len = v.numElements()
    // query norm once
    var nv = 0.0
    var i = 0
    while (i < len) { val x = get(v, i); nv += x * x; i += 1 }
    val sqrtNv = java.lang.Math.sqrt(nv)
    val keep = math.min(n, cents.length)
    val bestIdx = new Array[Int](keep)
    val bestSim = new Array[Double](keep)
    var size = 0
    // round6 close-call tracking: if any ranking decision anywhere near
    // the kept list was within Round6Margin, raw order is not provably
    // the rounded order and the row reruns on the exact legacy loop.
    var closeCall = false
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val sim = if (len != c.length) {
        // ragged row/centroid dims: legacy partial-overlap semantics
        val m = math.min(len, c.length)
        var dot = 0.0; var nc = 0.0
        var t = 0
        while (t < m) { val x = get(v, t); dot += x * c(t); nc += c(t) * c(t); t += 1 }
        if (nv == 0.0 || nc == 0.0) 0.0
        else dot / (java.lang.Math.sqrt(nv) * java.lang.Math.sqrt(nc))
      } else {
        var dot = 0.0
        var t = 0
        while (t < len) { dot += get(v, t) * c(t); t += 1 }
        if (nv == 0.0 || sqrtNc(j) == 0.0) 0.0
        else dot / (sqrtNv * sqrtNc(j))
      }
      // insertion into the (tiny, best-first) kept list, raw compare.
      // Every ranking comparison that lands inside the margin flags a
      // close call: the displaced bottom, each element shifted below
      // the insertion, the kept neighbor above it, and the drop
      // decision — together with the final adjacent scan this covers
      // every pair whose raw order could differ from rounded order.
      if (size < keep || sim > bestSim(size - 1)) {
        var p = math.min(size, keep - 1)
        if (round6 && size == keep &&
            sim - bestSim(size - 1) < Round6Margin) closeCall = true
        while (p > 0 && bestSim(p - 1) < sim) {
          if (round6 && sim - bestSim(p - 1) < Round6Margin) closeCall = true
          bestIdx(p) = bestIdx(p - 1); bestSim(p) = bestSim(p - 1); p -= 1
        }
        if (round6 && p > 0 && sim > bestSim(p - 1) - Round6Margin)
          closeCall = true
        bestIdx(p) = j; bestSim(p) = sim
        if (size < keep) size += 1
      } else if (round6 && bestSim(size - 1) - sim < Round6Margin) {
        closeCall = true
      }
      j += 1
    }
    if (round6) {
      // adjacent kept sims within the margin can reorder under rounding
      // (equal rounded values tie-break by INDEX, raw compare by value)
      var p = 1
      while (p < size && !closeCall) {
        if (bestSim(p - 1) - bestSim(p) < Round6Margin) closeCall = true
        p += 1
      }
      if (closeCall) return topNExact(v, et, cents, n)
    }
    new GenericArrayData(bestIdx.take(size).map(x => x: Any))
  }

  /** The exact round6 ranking (rank by BigDecimal HALF_UP 6dp, ties to
    * lower index) — the legacy loop, now the slow path [[topN]] falls
    * back to when raw-sim gaps are inside [[Round6Margin]], and the
    * reference arm the kernel property spec checks the fast path
    * against. */
  def topNExact(v: ArrayData, et: DataType,
      cents: Array[Array[Double]], n: Int): ArrayData = {
    val get = VectorKernels.conv(et)
    val len = v.numElements()
    var nv = 0.0
    var i = 0
    while (i < len) { val x = get(v, i); nv += x * x; i += 1 }
    val keep = math.min(n, cents.length)
    val bestIdx = new Array[Int](keep)
    val bestSim = new Array[Double](keep)
    var size = 0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val m = math.min(len, c.length)
      var dot = 0.0; var nc = 0.0
      var t = 0
      while (t < m) { val x = get(v, t); dot += x * c(t); nc += c(t) * c(t); t += 1 }
      val simRaw = if (nv == 0.0 || nc == 0.0) 0.0
        else dot / (java.lang.Math.sqrt(nv) * java.lang.Math.sqrt(nc))
      val sim = java.math.BigDecimal.valueOf(simRaw)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      if (size < keep || sim > bestSim(size - 1)) {
        var p = math.min(size, keep - 1)
        while (p > 0 && bestSim(p - 1) < sim) {
          bestIdx(p) = bestIdx(p - 1); bestSim(p) = bestSim(p - 1); p -= 1
        }
        bestIdx(p) = j; bestSim(p) = sim
        if (size < keep) size += 1
      }
      j += 1
    }
    new GenericArrayData(bestIdx.take(size).map(x => x: Any))
  }

  /** Hierarchical nearest-centroid assignment (d10's N^1.5 scale path,
    * SCALING.md): route `v` to its top-`p` super-centroids ([[topN]]
    * with round6 = true — the exact tie semantics ride along), then
    * argmax round(cos, 6) over the routed groups' member centroids with
    * ties to the lower GLOBAL cid. FLOPs per row: |supers| + p x
    * avg-group ~ (1 + p) sqrt(k) instead of k. The routing table
    * ([[graft.operators.Cluster.superRoute]]) ships with the plan like
    * the centroids themselves — no join, no row explosion. */
  def hierAssign(v: ArrayData, et: DataType,
      cents: Array[Array[Double]], sqrtNc: Array[Double],
      supers: Array[Array[Double]], sqrtNs: Array[Double],
      members: Array[Array[Int]], p: Int): Int = {
    val routed = topN(v, et, supers, sqrtNs, p, round6 = true)
    val nr = routed.numElements()
    var total = 0
    var i = 0
    while (i < nr) { total += members(routed.getInt(i)).length; i += 1 }
    // the caller routes only non-empty groups (Cluster.semanticDedup
    // compacts the superRoute table), so a routed vector always has
    // candidates; fail loudly rather than emit cid = -1 as a cluster
    require(total > 0,
      s"hierAssign: all $nr routed super groups empty — caller must " +
        "compact empty groups out of the routing table")
    val cand = new Array[Int](total)
    var o = 0
    i = 0
    while (i < nr) {
      val m = members(routed.getInt(i))
      System.arraycopy(m, 0, cand, o, m.length)
      o += m.length
      i += 1
    }
    // ascending global cids: first-max-wins == lowest-cid tie break
    java.util.Arrays.sort(cand)
    bestOfRound6(v, et, cents, sqrtNc, cand)
  }

  /** argmax round(cos, 6) over the `cand` cids (ascending), ties to the
    * lower cid — the [[topN]] margin discipline restricted to a
    * candidate subset: raw-sim fast path; any ranking decision inside
    * [[Round6Margin]] reruns the scan on exact BigDecimal rounding. */
  def bestOfRound6(v: ArrayData, et: DataType,
      cents: Array[Array[Double]], sqrtNc: Array[Double],
      cand: Array[Int]): Int = {
    val get = VectorKernels.conv(et)
    val len = v.numElements()
    var nv = 0.0
    var i = 0
    while (i < len) { val x = get(v, i); nv += x * x; i += 1 }
    val sqrtNv = java.lang.Math.sqrt(nv)
    def simOf(ci: Int, exact: Boolean): Double = {
      val c = cents(ci)
      val raw = if (len != c.length) {
        val m = math.min(len, c.length)
        var dot = 0.0; var nc = 0.0
        var t = 0
        while (t < m) { val x = get(v, t); dot += x * c(t); nc += c(t) * c(t); t += 1 }
        if (nv == 0.0 || nc == 0.0) 0.0
        else dot / (java.lang.Math.sqrt(nv) * java.lang.Math.sqrt(nc))
      } else {
        var dot = 0.0
        var t = 0
        while (t < len) { dot += get(v, t) * c(t); t += 1 }
        if (nv == 0.0 || sqrtNc(ci) == 0.0) 0.0
        else dot / (sqrtNv * sqrtNc(ci))
      }
      if (exact)
        java.math.BigDecimal.valueOf(raw)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      else raw
    }
    var bestIdx = -1
    var bestSim = Double.NegativeInfinity
    var closeCall = false
    var j = 0
    while (j < cand.length) {
      val sim = simOf(cand(j), exact = false)
      if (bestIdx < 0) { bestIdx = cand(j); bestSim = sim }
      else if (sim > bestSim) {
        if (sim - bestSim < Round6Margin) closeCall = true
        bestIdx = cand(j); bestSim = sim
      } else if (bestSim - sim < Round6Margin) closeCall = true
      j += 1
    }
    if (closeCall) {
      // exact rescan: rank by rounded sim, strict > keeps the first
      // (= lowest cid, cand is ascending)
      bestIdx = -1; bestSim = Double.NegativeInfinity
      j = 0
      while (j < cand.length) {
        val sim = simOf(cand(j), exact = true)
        if (bestIdx < 0 || sim > bestSim) { bestIdx = cand(j); bestSim = sim }
        j += 1
      }
    }
    bestIdx
  }
}

/** One-pass multi-table LSH bucket codes. */
object LshBucketsKernel {
  /** Bucket code of `v` under every table's hyperplane set: table t's
    * code sets bit j when dot(v, planes[t*perTable + j]) > 0 — the
    * EXACT per-plane semantics of the literal `graft_dot(v, h) > 0`
    * form (same left-to-right IEEE accumulation over min-length), so
    * swapping the unrolled-literal plan for this kernel changes no
    * bucket anywhere. One call per row; the plane matrix rides the
    * plan as a referenced object (the [[NearestCells]] lifecycle) —
    * at tables x planes beyond a handful, the literal form's
    * generated code grows past what Janino compiles cheaply (s14's 48
    * embedded 64-double arrays), while this stays O(1) plan size. */
  def buckets(v: ArrayData, et: DataType, planes: Array[Array[Double]],
      tables: Int, perTable: Int): ArrayData = {
    val get = VectorKernels.conv(et)
    val len = v.numElements()
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      var code = 0
      var j = 0
      while (j < perTable) {
        val p = planes(t * perTable + j)
        val n = math.min(len, p.length)
        var d = 0.0
        var i = 0
        while (i < n) { d += get(v, i) * p(i); i += 1 }
        if (d > 0.0) code |= (1 << j)
        j += 1
      }
      out(t) = code
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** graft_lsh_buckets(vec) -> array<int>: all `tables` bucket codes in
  * one native pass (see [[LshBucketsKernel.buckets]]). */
case class LshBuckets(child: Expression, planes: Array[Array[Double]],
    tables: Int, perTable: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def nullSafeEval(v: Any): Any =
    LshBucketsKernel.buckets(v.asInstanceOf[ArrayData], elemType, planes,
      tables, perTable)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val pl = ctx.addReferenceObj("planes", planes, "double[][]")
      val et = ctx.addReferenceObj("et", elemType, classOf[DataType].getName)
      s"${ev.value} = graft.functions.LshBucketsKernel.buckets($v, $et, $pl, $tables, $perTable);"
    })
  override protected def withNewChildInternal(c: Expression): LshBuckets =
    copy(child = c)
  override def prettyName: String = "graft_lsh_buckets"
}

/** graft_nearest_cells(vec) -> array<int>: indices of the `n` nearest
  * centroids (cosine, best first) from a driver-built codebook. The
  * codebook is captured in the expression (like [[BloomMightContain]]'s
  * sketch) and ships once per task via the plan, not per row. Corpus
  * assignment uses n=1; query probing uses n=nprobe.
  */
case class NearestCells(child: Expression,
    centroids: Array[Array[Double]], n: Int, round6: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  // centroid norms once per expression (driver), shipped with the plan
  @transient private lazy val sqrtNc: Array[Double] =
    NearestCellsKernel.sqrtNorms(centroids)
  override def nullSafeEval(v: Any): Any =
    NearestCellsKernel.topN(v.asInstanceOf[ArrayData], elemType, centroids,
      sqrtNc, n, round6)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cents = ctx.addReferenceObj("cents", centroids, "double[][]")
      val norms = ctx.addReferenceObj("norms", sqrtNc, "double[]")
      val et = ctx.addReferenceObj("et", elemType,
        classOf[DataType].getName)
      s"${ev.value} = graft.functions.NearestCellsKernel.topN($v, $et, $cents, $norms, $n, $round6);"
    })
  override protected def withNewChildInternal(c: Expression): NearestCells =
    copy(child = c)
  override def prettyName: String = "graft_nearest_cells"
}

/** graft_hier_nearest_cell(vec) -> int: hierarchical nearest-centroid
  * assignment (see [[NearestCellsKernel.hierAssign]]) — route to the
  * top-`p` super-centroids, then round6 argmax over the routed groups'
  * members with ties to the lower global cid. The centroid matrix,
  * super matrix, and membership table are captured in the expression
  * (the [[NearestCells]] lifecycle — shipped once per task via the
  * plan, never per row), so assignment stays one codegen'd scan at
  * (1 + p) sqrt(k) FLOPs per row instead of k. */
case class HierNearestCell(child: Expression,
    centroids: Array[Array[Double]], supers: Array[Array[Double]],
    members: Array[Array[Int]], p: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val sqrtNc: Array[Double] =
    NearestCellsKernel.sqrtNorms(centroids)
  @transient private lazy val sqrtNs: Array[Double] =
    NearestCellsKernel.sqrtNorms(supers)
  override def nullSafeEval(v: Any): Any =
    NearestCellsKernel.hierAssign(v.asInstanceOf[ArrayData], elemType,
      centroids, sqrtNc, supers, sqrtNs, members, p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cents = ctx.addReferenceObj("cents", centroids, "double[][]")
      val norms = ctx.addReferenceObj("norms", sqrtNc, "double[]")
      val sup = ctx.addReferenceObj("supers", supers, "double[][]")
      val snorms = ctx.addReferenceObj("snorms", sqrtNs, "double[]")
      val mem = ctx.addReferenceObj("members", members, "int[][]")
      val et = ctx.addReferenceObj("et", elemType,
        classOf[DataType].getName)
      s"${ev.value} = graft.functions.NearestCellsKernel.hierAssign(" +
        s"$v, $et, $cents, $norms, $sup, $snorms, $mem, $p);"
    })
  override protected def withNewChildInternal(c: Expression): HierNearestCell =
    copy(child = c)
  override def prettyName: String = "graft_hier_nearest_cell"
}

/** Product-quantization kernels (the IVF-PQ search path, s04): per-subspace
  * codebooks built driver-side from a deterministic corpus sample and
  * captured in the expressions (the [[NearestCells]] lifecycle — shipped
  * once per task via the plan, never per row). Quantizer is the same
  * cosine-nearest family as the coarse assignment. */
object PqKernels {
  /** Corpus-side encode: code_j = nearest codeword of subvector j. One
    * pass per row; output is m small ints — the compressed representation
    * candidate generation carries INSTEAD of the full vector (8 codes vs
    * 64 floats is the 100 TB shuffle/scan saving). */
  def encode(v: ArrayData, et: DataType,
      books: Array[Array[Array[Double]]]): ArrayData = {
    val get = VectorKernels.conv(et)
    val m = books.length
    val out = new Array[Int](m)
    var j = 0
    var off = 0
    while (j < m) {
      val book = books(j)
      val subDim = if (book.isEmpty) 0 else book(0).length
      var nv = 0.0
      var t = 0
      while (t < subDim) { val x = get(v, off + t); nv += x * x; t += 1 }
      var best = 0
      var bestSim = Double.NegativeInfinity
      var c = 0
      while (c < book.length) {
        val cw = book(c)
        var dot = 0.0; var nc = 0.0
        var u = 0
        while (u < subDim) {
          val x = get(v, off + u); dot += x * cw(u); nc += cw(u) * cw(u); u += 1
        }
        val sim = if (nv == 0.0 || nc == 0.0) 0.0
          else dot / (java.lang.Math.sqrt(nv) * java.lang.Math.sqrt(nc))
        if (sim > bestSim) { bestSim = sim; best = c }
        c += 1
      }
      out(j) = best
      off += subDim
      j += 1
    }
    new GenericArrayData(out.map(x => x: Any))
  }

  /** Query-side ADC table, flattened m x cbSize:
    * table[j*cbSize + c] = dot(q_sub_j, books[j][c]). Computed ONCE per
    * query row, so scoring a candidate costs m array lookups instead of a
    * dim-wide dot product. */
  def adcTable(q: ArrayData, et: DataType,
      books: Array[Array[Array[Double]]]): ArrayData = {
    val get = VectorKernels.conv(et)
    val m = books.length
    val cb = if (m == 0) 0 else books(0).length
    val out = new Array[Double](m * cb)
    var j = 0
    var off = 0
    while (j < m) {
      val book = books(j)
      val subDim = if (book.isEmpty) 0 else book(0).length
      var c = 0
      while (c < book.length) {
        val cw = book(c)
        var dot = 0.0
        var u = 0
        while (u < subDim) { dot += get(q, off + u) * cw(u); u += 1 }
        out(j * cb + c) = dot
        c += 1
      }
      off += subDim
      j += 1
    }
    new GenericArrayData(out.map(x => x: Any))
  }

  /** Candidate ADC score: sum_j table[j*cbSize + codes[j]] — the
    * asymmetric-distance inner-product estimate. */
  def adcSum(codes: ArrayData, table: ArrayData): Double = {
    val m = codes.numElements()
    if (m == 0) return 0.0
    val per = table.numElements() / m
    var s = 0.0
    var j = 0
    while (j < m) { s += table.getDouble(j * per + codes.getInt(j)); j += 1 }
    s
  }
}

/** Spark-Round-exact 6dp rounding without the per-value BigDecimal.
  * Spark's Round(double, 6) evaluates
  * BigDecimal.valueOf(d).setScale(6, HALF_UP).doubleValue() —
  * BigDecimal.valueOf is a Double.toString + parse, a string-format
  * allocation per value. On the ANN candidate streams (round(cos, 6)
  * per candidate) that was the dominant per-row cost at 15M candidates
  * per query. The kernel rounds in double space and falls back to the
  * exact BigDecimal form only inside a guard band around the half-way
  * boundary (and for non-finite / large-magnitude inputs), where
  * double-space nearest and decimal-string HALF_UP could disagree:
  * for |d| <= 1e3 the absolute error between d*1e6 and the decimal
  * value BigDecimal.valueOf sees is < 1e-6 ulps-scaled, so any value
  * whose fractional part is further than 1e-4 from 0.5 rounds
  * identically in both spaces. Property-pinned against Spark round
  * on crafted halves, near-halves, negatives, and random magnitudes. */
object Round6Kernel {
  def round6(d: Double): Double = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return d
    if (d == 0.0) return 0.0 // BigDecimal has no signed zero: -0.0 -> +0.0
    val ad = if (d < 0) -d else d
    if (ad > 1e3) return exact(d)
    val y = d * 1e6
    val f = java.lang.Math.floor(y)
    val frac = y - f
    if (frac > 0.4999 && frac < 0.5001) return exact(d)
    val r = if (frac > 0.5) f + 1.0 else f
    r / 1e6
  }
  /** Spark Round's own arithmetic — the fallback and test reference. */
  def exact(d: Double): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** graft_round6(x) -> double: Spark round(x, 6) semantics through
  * [[Round6Kernel]] (fast double-space path + exact boundary
  * fallback). */
case class Round6(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    Round6Kernel.round6(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.Round6Kernel.round6($v);")
  override protected def withNewChildInternal(c: Expression): Round6 =
    copy(child = c)
  override def prettyName: String = "graft_round6"
}

/** Proven fast path for `cast(x AS DECIMAL(38,10))` on a double.
  *
  * Spark's cast parses `Double.toString(x)` as a BigDecimal and rounds
  * it HALF_UP to 10 places: a string build, a parse and a setScale per
  * row. [[unscaled]] returns the same unscaled value from double
  * arithmetic alone whenever it can prove the two agree, and
  * [[NotProven]] otherwise. It proves agreement when |x| < 2^17 and
  * x lies within 0.25 units of 1e-10 of the grid point r * 1e-10,
  * r = rint(x * 1e10):
  *  - p = x * 1e10 rounded and e = fma(x, 1e10, -p) give x * 1e10 =
  *    p + e exactly (1e10 is a double; e can only be inexact on
  *    underflow, far below the 0.25 margin). p - r is exact, so
  *    (p - r) + e rounds x * 1e10 - r once, and rounding is monotonic:
  *    a computed |d| < 0.25 means the true distance is < 0.25 units.
  *  - The cast's string parses back to x, so it lies within half an
  *    ulp of x; below 2^17 that is at most 2^-37 < 0.073 units.
  *  - The string is therefore < 0.25 + 0.073 < 0.5 units from
  *    r * 1e-10 and rounds to it (the margin holds even for a full ulp,
  *    0.146 units). |r| < 2^17 * 1e10 < 1e18, so r fits the long.
  * NaN, +-Inf, |x| >= 2^17 and values near a half-point fail the test.
  * [[ExactDec10]] emits NULL for them and [[graft.Engine.exactDec]]
  * falls back to the Cast itself, so values and ANSI errors are the
  * cast's by construction. Property-pinned against Spark's Cast in
  * KernelPropertySpec. */
object ExactDec10Kernel {
  final val NotProven = Long.MinValue
  private final val Limit = 131072.0 // 2^17

  def unscaled(x: Double): Long = {
    if (!(java.lang.Math.abs(x) < Limit)) return NotProven // also NaN
    val p = x * 1e10
    val e = java.lang.Math.fma(x, 1e10, -p)
    val r = java.lang.Math.rint(p)
    if (java.lang.Math.abs((p - r) + e) < 0.25) r.toLong else NotProven
  }
}

/** graft_exact_dec10(x) -> DECIMAL(38,10): the exact
  * `cast(x AS DECIMAL(38,10))` when [[ExactDec10Kernel]] proves it, NULL
  * otherwise (and always NULL for a non-double input). Only meaningful
  * under `coalesce(ExactDec10(x), cast(x AS DECIMAL(38,10)))` —
  * [[graft.Engine.exactDec]]. The result is a long-backed Decimal. */
case class ExactDec10(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DecimalType(38, 10)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = child.dataType match {
    case DoubleType =>
      val u = ExactDec10Kernel.unscaled(v.asInstanceOf[Double])
      if (u == ExactDec10Kernel.NotProven) null else Decimal.createUnsafe(u, 38, 10)
    case _ => null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (child.dataType != DoubleType)
      ExprCode(TrueLiteral, JavaCode.defaultLiteral(dataType))
    else {
      val u = ctx.freshName("unscaled")
      nullSafeCodeGen(ctx, ev, v =>
        s"""long $u = graft.functions.ExactDec10Kernel.unscaled($v);
           |if ($u == ${ExactDec10Kernel.NotProven}L) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = org.apache.spark.sql.types.Decimal.createUnsafe($u, 38, 10);
           |}""".stripMargin)
    }
  override protected def withNewChildInternal(c: Expression): ExactDec10 =
    copy(child = c)
  override def prettyName: String = "graft_exact_dec10"
}

/** graft_pq_encode(vec) -> array<int>: per-subspace codeword ids. */
/** graft_bpe_encode(text) -> array<string>: tokenize under an ENTIRE
  * learned BPE merge table in one native expression. Semantics are
  * EXACTLY the composition of `Bpe.applyMerge` folds in rank order —
  * each merge is one greedy leftmost non-overlapping left-to-right
  * pass — property-pinned against the fold form in BpeSpec. The fold
  * composition builds one nested aggregate-HOF layer PER merge, so at
  * a real vocabulary (32k merges) the expression tree and its codegen
  * explode; here the table is a single plan-literal reference and the
  * passes run in a tight loop. A symbol-presence set skips merges whose
  * sides cannot occur (typical cost O(len x applicable merges), not
  * O(len x 32k)). */
case class BpeEncode(child: Expression, merges: Array[(String, String)])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    // Java split("") (limit 0, trailing empties dropped) matches what
    // Spark's split(col, "") yields — limit -1 would add a trailing ""
    var syms: Array[String] = s.split("")
    val present = new java.util.HashSet[String]()
    var i = 0
    while (i < syms.length) { present.add(syms(i)); i += 1 }
    var mi = 0
    while (mi < merges.length && syms.length >= 2) {
      val l = merges(mi)._1
      val r = merges(mi)._2
      // merged-away symbols stay in `present` (false positives only
      // cost a scan; a false NEGATIVE would skip a real merge)
      if (present.contains(l) && present.contains(r)) {
        val out = new Array[String](syms.length)
        var rd = 0
        var w = 0
        var glued = false
        while (rd < syms.length) {
          if (rd + 1 < syms.length && syms(rd) == l && syms(rd + 1) == r) {
            out(w) = l + r; rd += 2; glued = true
          } else { out(w) = syms(rd); rd += 1 }
          w += 1
        }
        if (glued) {
          syms = java.util.Arrays.copyOf(out, w)
          present.add(l + r)
        }
      }
      mi += 1
    }
    new GenericArrayData(syms.map(x =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x): Any))
  }
  override protected def withNewChildInternal(c: Expression): BpeEncode =
    copy(child = c)
  override def prettyName: String = "graft_bpe_encode"
}

case class PqEncode(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def nullSafeEval(v: Any): Any =
    PqKernels.encode(v.asInstanceOf[ArrayData], elemType, books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val b = ctx.addReferenceObj("books", books, "double[][][]")
      val et = ctx.addReferenceObj("et", elemType, classOf[DataType].getName)
      s"${ev.value} = graft.functions.PqKernels.encode($v, $et, $b);"
    })
  override protected def withNewChildInternal(c: Expression): PqEncode =
    copy(child = c)
  override def prettyName: String = "graft_pq_encode"
}

/** graft_pq_adc_table(qvec) -> array<double>: flattened per-query lookup
  * table of subspace inner products. */
case class PqAdcTable(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def nullSafeEval(v: Any): Any =
    PqKernels.adcTable(v.asInstanceOf[ArrayData], elemType, books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val b = ctx.addReferenceObj("books", books, "double[][][]")
      val et = ctx.addReferenceObj("et", elemType, classOf[DataType].getName)
      s"${ev.value} = graft.functions.PqKernels.adcTable($v, $et, $b);"
    })
  override protected def withNewChildInternal(c: Expression): PqAdcTable =
    copy(child = c)
  override def prettyName: String = "graft_pq_adc_table"
}

/** graft_pq_adc_sum(codes, table) -> double: the per-candidate ADC score;
  * the hot inner loop of PQ search (m lookups, codegen'd). */
case class PqAdcSum(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(codes: Any, table: Any): Any =
    PqKernels.adcSum(codes.asInstanceOf[ArrayData], table.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t) =>
      s"${ev.value} = graft.functions.PqKernels.adcSum($c, $t);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqAdcSum = copy(left = l, right = r)
  override def prettyName: String = "graft_pq_adc_sum"
}

/** Bounded top-k heap of (nid, sim) pairs over abstract slot storage.
  * Keeps the k best by (sim desc, nid asc); the root of the binary heap
  * is the WORST kept element so an incoming better pair evicts in
  * O(log k). Two layouts share these operations: [[TopKHeap]] (arrays,
  * the in-kernel heaps of [[BucketTopKKernel]]) and [[RowTopKHeap]]
  * (the fixed-width aggregation buffer of [[TopKPairsAgg]]). */
abstract class PairHeap(val k: Int, val distinct: Boolean) {
  def size: Int
  protected def setSize(n: Int): Unit
  def nid(i: Int): Long
  def sim(i: Int): Double
  protected def set(i: Int, n: Long, s: Double): Unit

  private def contains(n: Long): Boolean = {
    var i = 0
    val sz = size
    while (i < sz) { if (nid(i) == n) return true; i += 1 }
    false
  }

  // heap order: parent no better than children (root = worst kept)
  private def worseThan(si: Double, ni: Long, sj: Double, nj: Long): Boolean =
    si < sj || (si == sj && ni > nj)

  private def swap(i: Int, j: Int): Unit = {
    val tn = nid(i); val ts = sim(i)
    set(i, nid(j), sim(j)); set(j, tn, ts)
  }

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0 && worseThan(sim(i), nid(i), sim((i - 1) / 2), nid((i - 1) / 2))) {
      swap(i, (i - 1) / 2); i = (i - 1) / 2
    }
  }

  private def siftDown(): Unit = {
    val sz = size
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var w = i // worst of the triple
      if (l < sz && worseThan(sim(l), nid(l), sim(w), nid(w))) w = l
      if (r < sz && worseThan(sim(r), nid(r), sim(w), nid(w))) w = r
      if (w == i) done = true else { swap(i, w); i = w }
    }
  }

  def insert(n: Long, s: Double): Unit = {
    // distinct mode: a duplicate nid is ALWAYS an identical (nid, sim)
    // pair in this engine (sim is a deterministic function of the pair),
    // so skipping it is exact — this is what lets LSH candidate streams
    // feed the heap WITHOUT a prior dropDuplicates shuffle
    if (distinct && contains(n)) return
    val sz = size
    if (sz < k) {
      set(sz, n, s); setSize(sz + 1); siftUp(sz)
    } else if (k > 0 && worseThan(sim(0), nid(0), s, n)) {
      set(0, n, s); siftDown()
    }
  }

  def absorb(o: PairHeap): Unit = {
    var i = 0
    val sz = o.size
    while (i < sz) { insert(o.nid(i), o.sim(i)); i += 1 }
  }

  /** Kept pairs best-first as array<struct<nid,sim>>. */
  def toArrayData: GenericArrayData = {
    val order = (0 until size).sortBy(i => (-sim(i), nid(i)))
    new GenericArrayData(order.map(i =>
      new GenericInternalRow(Array[Any](nid(i), sim(i)))).toArray[Any])
  }
}

/** [[PairHeap]] over two primitive arrays. */
final class TopKHeap(k: Int, distinct: Boolean = false) extends PairHeap(k, distinct) {
  private val nids = new Array[Long](math.max(k, 1))
  private val sims = new Array[Double](math.max(k, 1))
  private var n = 0
  def size: Int = n
  protected def setSize(sz: Int): Unit = n = sz
  def nid(i: Int): Long = nids(i)
  def sim(i: Int): Double = sims(i)
  protected def set(i: Int, nd: Long, s: Double): Unit = { nids(i) = nd; sims(i) = s }
}

/** [[PairHeap]] laid out in a row from ordinal `base`: the size, then k
  * nid slots, then k sim slots — every slot fixed-width, so the row can
  * live in HashAggregateExec's UnsafeRow map. [[at]] re-points the view
  * at another row without allocating (one view per aggregate instance,
  * and an aggregate instance is used by one task). */
final class RowTopKHeap(k: Int, distinct: Boolean) extends PairHeap(k, distinct) {
  private var row: InternalRow = _
  private var base = 0
  def at(r: InternalRow, b: Int): this.type = { row = r; base = b; this }
  def size: Int = row.getInt(base)
  protected def setSize(n: Int): Unit = row.setInt(base, n)
  def nid(i: Int): Long = row.getLong(base + 1 + i)
  def sim(i: Int): Double = row.getDouble(base + 1 + k + i)
  protected def set(i: Int, n: Long, s: Double): Unit = {
    row.setLong(base + 1 + i, n); row.setDouble(base + 1 + k + i, s)
  }
}

/** graft_topk_pairs(nid, sim, k): per-group exact top-k by (sim desc,
  * nid asc) as a partial-aggregating bounded heap — per-partition heaps
  * of size k merge into a final size-k heap per group. This is Spark's
  * own TakeOrderedAndProject shape applied per group: at 100 TB a
  * query's N candidates reduce to (#partitions x k) before the shuffle,
  * where a window row_number() <= k would sort all N in ONE task.
  *
  * The buffer is 2k + 1 fixed-width slots ([[RowTopKHeap]]), so Spark
  * plans the heap in HashAggregateExec, as it does HyperLogLogPlusPlus:
  * no group-count fallback (ObjectHashAggregateExec's 128-group sort
  * threshold does not apply), and a sort-based spill only under memory
  * pressure. A group's state is O(k) whatever the group count.
  */
case class TopKPairsAgg(nid: Expression, sim: Expression, k: Int,
    distinct: Boolean = false,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends aggregate.ImperativeAggregate {
  override def children: Seq[Expression] = Seq(nid, sim)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("nid", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false))), containsNull = false)

  private def slots: Int = math.max(k, 0)
  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    AttributeReference("size", IntegerType, nullable = false)() +:
      ((0 until slots).map(i => AttributeReference(s"nid$i", LongType)()) ++
        (0 until slots).map(i => AttributeReference(s"sim$i", DoubleType)()))
  override lazy val aggBufferSchema: StructType =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.fromAttributes(aggBufferAttributes)
  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())

  @transient private lazy val heap = new RowTopKHeap(slots, distinct)
  @transient private lazy val other = new RowTopKHeap(slots, distinct)

  override def initialize(buffer: InternalRow): Unit =
    buffer.setInt(mutableAggBufferOffset, 0)

  // update runs INTERPRETED per candidate row (ImperativeAggregate is
  // outside whole-stage codegen), and Expression.eval boxes every
  // Long/Double — at 15M candidates per query the allocation churn
  // measured ~5x the codegen'd scan that produced the stream. After
  // optimization both children are plain bound references (the narrow
  // (qid, nid, sim) projection feeds the aggregate), so read the
  // primitives directly; any other shape keeps the general eval path.
  @transient private[functions] lazy val primitiveOrds: Array[Int] = (nid, sim) match {
    case (nr: BoundReference, sr: BoundReference)
        if nr.dataType == LongType && sr.dataType == DoubleType =>
      Array(nr.ordinal, sr.ordinal)
    case _ => null
  }
  override def update(buffer: InternalRow, input: InternalRow): Unit = {
    val ords = primitiveOrds
    if (ords != null) {
      if (!input.isNullAt(ords(0)) && !input.isNullAt(ords(1)))
        heap.at(buffer, mutableAggBufferOffset)
          .insert(input.getLong(ords(0)), input.getDouble(ords(1)))
    } else {
      val n = nid.eval(input)
      val s = sim.eval(input)
      if (n != null && s != null)
        heap.at(buffer, mutableAggBufferOffset)
          .insert(n.asInstanceOf[Long], s.asInstanceOf[Double])
    }
  }
  override def merge(buffer: InternalRow, input: InternalRow): Unit =
    heap.at(buffer, mutableAggBufferOffset)
      .absorb(other.at(input, inputAggBufferOffset))
  override def eval(buffer: InternalRow): Any =
    heap.at(buffer, mutableAggBufferOffset).toArrayData

  override def withNewMutableAggBufferOffset(o: Int): TopKPairsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKPairsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): TopKPairsAgg =
    copy(nid = cs(0), sim = cs(1))
  override def prettyName: String = "graft_topk_pairs"
}

/** Per-member in-bucket top-k for the LSH candidate-graph family
  * (s05/s10's scale path, SCALING.md decade-3). One call per capped
  * bucket: converts the members' embeddings to primitive double[] ONCE
  * (the generic per-pair cosine re-read both ArrayData operands and both
  * norms per pair — 3x the FLOPs and a virtual call per element),
  * precomputes each member's sqrt-norm (bit-identical to the fused
  * cosine's accumulation: each norm is an independent sequential
  * addition chain), then runs the m^2/2 pair loop with SYMMETRIC heap
  * updates — each member keeps its k best in-bucket neighbors under the
  * [[TopKHeap]] total order (sim desc, nid asc).
  *
  * Exactness vs the flat all-pairs emission: per-group top-k under a
  * strict total order DISTRIBUTES over candidate-set union — a
  * candidate in the global distinct top-k has < k better-ranked
  * distinct rivals overall, hence < k in every bucket it shares with
  * the query, so every bucket that contains it emits it; conversely a
  * candidate cut in every bucket had >= k better rivals in each, all
  * of which are global rivals. The downstream distinct heap therefore
  * sees every global-top-k candidate and nothing it would rank
  * differently (cross-bucket repeats are identical (nid, sim) rows).
  * Pinned against the flat emission by BucketTopKSpec. What this buys
  * at scale: the heap/aggregate stage consumes m x k rows per bucket
  * instead of m^2/2 pairs x 2 directions — at sf100 (density ~122,
  * k = 5) ~25x less row traffic through the per-qid hash aggregate,
  * which the decade-3 stage split measured as the family's dominant
  * cost (SCALING.md). */
object BucketTopKKernel {
  def eval(members: ArrayData, idType: DataType, vecType: DataType,
      k: Int): GenericArrayData = {
    val m = members.numElements()
    val get = VectorKernels.conv(vecType)
    val ids = new Array[Long](m)
    val vecs = new Array[Array[Double]](m)
    val norms = new Array[Double](m)
    var sameLen = true
    var i = 0
    while (i < m) {
      val row = members.getStruct(i, 2)
      ids(i) = idType match {
        case LongType => row.getLong(0)
        case IntegerType => row.getInt(0).toLong
        case ShortType => row.getShort(0).toLong
        case other =>
          throw new IllegalArgumentException(s"non-integral vec_id: $other")
      }
      val a = row.getArray(1)
      val len = a.numElements()
      val v = new Array[Double](len)
      var na = 0.0
      var t = 0
      while (t < len) { val x = get(a, t); v(t) = x; na += x * x; t += 1 }
      vecs(i) = v
      norms(i) = java.lang.Math.sqrt(na)
      if (len != vecs(0).length) sameLen = false
      i += 1
    }
    val heaps = new Array[TopKHeap](m)
    i = 0
    while (i < m) { heaps(i) = new TopKHeap(k); i += 1 }
    i = 0
    while (i < m) {
      val va = vecs(i)
      var j = i + 1
      while (j < m) {
        val raw = if (sameLen) {
          val vb = vecs(j)
          var dot = 0.0
          var t = 0
          while (t < va.length) { dot += va(t) * vb(t); t += 1 }
          if (norms(i) == 0.0 || norms(j) == 0.0) 0.0
          else dot / (norms(i) * norms(j))
        } else cosTrunc(va, vecs(j))
        val sim = Round6Kernel.round6(raw)
        heaps(i).insert(ids(j), sim)
        heaps(j).insert(ids(i), sim)
        j += 1
      }
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any](m * math.min(k, m))
    i = 0
    while (i < m) {
      val kept = heaps(i).toArrayData
      var j = 0
      while (j < kept.numElements()) {
        val p = kept.getStruct(j, 2)
        out += new GenericInternalRow(
          Array[Any](ids(i), p.getLong(0), p.getDouble(1)))
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Unequal-length fallback: the fused min-length accumulation
    * [[VectorKernels.cosine]] runs, on the pre-converted doubles. */
  private def cosTrunc(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var t = 0
    while (t < n) {
      dot += a(t) * b(t); na += a(t) * a(t); nb += b(t) * b(t); t += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb))
  }
}

/** graft_bucket_topk(members, k) -> array<struct<qid,nid,sim>>: each
  * bucket member's k best in-bucket neighbors by (round6-cosine desc,
  * nid asc) — see [[BucketTopKKernel]]. */
case class BucketTopK(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("nid", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false))), containsNull = false)
  @transient private lazy val memberType = child.dataType
    .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  @transient private lazy val idType = memberType.fields(0).dataType
  @transient private lazy val vecType = memberType.fields(1).dataType
    .asInstanceOf[ArrayType].elementType
  override def nullSafeEval(m: Any): Any =
    BucketTopKKernel.eval(m.asInstanceOf[ArrayData], idType, vecType, k)
  override protected def withNewChildInternal(c: Expression): BucketTopK =
    copy(child = c)
  override def prettyName: String = "graft_bucket_topk"
}

/** Greedy MMR selection over ONE query's candidate set, entirely
  * row-local (r18). The DataFrame-loop form of this (k−1 rounds of
  * anti-join + join + two groupBys + a lineage cut, each a tiny
  * multi-exchange job) paid ~18 shuffles of frames that are bounded at
  * kCand rows per query — pure fixed overhead, and the part of s13
  * that regressed 2.1x when shuffles moved to the wide decade-robust
  * initial partition count. Here the whole greedy loop runs inside one
  * expression over the collected per-query candidate array: ONE
  * shuffle (the collect_list groupBy) replaces the loop entirely, and
  * work per query stays O(kCand·k²·dim), independent of corpus size.
  *
  * Semantics are EXACTLY the loop's, so the committed s13 oracles are
  * unchanged (MmrKernelSpec pins row identity against the loop form):
  * pick r=1 by max (simq_m, −nid), num = 7·simq_m; each later rank
  * picks max (num, −nid) with num = 7·simq_m − 3·mr, where mr is the
  * max over picked of round(round6(cosine(nv, sv))·1e6) as long —
  * the exact Round/cast chain the loop evaluated in-plan. All scoring
  * is argmax/max over integers, so the result is independent of the
  * collect_list arrival order. */
object MmrSelectKernel {
  private def score(a: Array[Double], b: Array[Double]): Long = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var t = 0
    while (t < n) {
      val x = a(t); val y = b(t)
      dot += x * y; na += x * x; nb += y * y; t += 1
    }
    val cos = if (na == 0.0 || nb == 0.0) 0.0
      else dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb))
    // round(sim6 * 1e6, 0) then CAST AS BIGINT, as the loop's plan did:
    // Spark Round(double) is BigDecimal HALF_UP; the cast of the exact
    // integer double is value-preserving
    java.math.BigDecimal.valueOf(Round6Kernel.round6(cos) * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }

  def eval(members: ArrayData, vecType: DataType, k: Int): GenericArrayData = {
    val m = members.numElements()
    val get = VectorKernels.conv(vecType)
    val ids = new Array[Long](m)
    val simq = new Array[Long](m)
    val vecs = new Array[Array[Double]](m)
    var i = 0
    while (i < m) {
      val row = members.getStruct(i, 3)
      ids(i) = row.getLong(0)
      simq(i) = row.getLong(1)
      val a = row.getArray(2)
      val v = new Array[Double](a.numElements())
      var t = 0
      while (t < v.length) { v(t) = get(a, t); t += 1 }
      vecs(i) = v
      i += 1
    }
    val picked = new Array[Boolean](m)
    // mr(i) = max over picked s of score(i, s); max is order-independent,
    // so maintaining it incrementally per pick equals the loop's
    // per-round max over ALL picked
    val mr = new Array[Long](m)
    java.util.Arrays.fill(mr, Long.MinValue)
    val out = new scala.collection.mutable.ArrayBuffer[Any](math.min(k, m))
    var r = 1
    while (r <= k && r <= m) {
      var best = -1
      var bestNum = Long.MinValue
      i = 0
      while (i < m) {
        if (!picked(i)) {
          val num = if (r == 1) 7L * simq(i) else 7L * simq(i) - 3L * mr(i)
          // max(struct(num, -nid)): larger num wins, ties -> smaller nid
          if (best < 0 || num > bestNum || (num == bestNum && ids(i) < ids(best))) {
            best = i; bestNum = num
          }
        }
        i += 1
      }
      out += new GenericInternalRow(Array[Any](r, ids(best), bestNum))
      picked(best) = true
      i = 0
      while (i < m) {
        if (!picked(i)) {
          val s = score(vecs(i), vecs(best))
          if (s > mr(i)) mr(i) = s
        }
        i += 1
      }
      r += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** graft_mmr_select(members, k) -> array<struct<rank,nid,num>>: greedy
  * MMR over one query's candidates — see [[MmrSelectKernel]]. */
case class MmrSelect(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("nid", LongType, nullable = false),
    StructField("num", LongType, nullable = false))), containsNull = false)
  @transient private lazy val vecType = child.dataType
    .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    .fields(2).dataType.asInstanceOf[ArrayType].elementType
  override def nullSafeEval(m: Any): Any =
    MmrSelectKernel.eval(m.asInstanceOf[ArrayData], vecType, k)
  override protected def withNewChildInternal(c: Expression): MmrSelect =
    copy(child = c)
  override def prettyName: String = "graft_mmr_select"
}

/** Registry — the fmgr analogue (reference src/utils/fmgr.rs:44-53 wires 6
  * functions by oid; we wire ours by name into every session's
  * FunctionRegistry through [[sqlFunctions]], so both the Column API
  * (call_function) and plain SQL can use them).
  */
object GraftFunctions {
  private def lit2int(e: Expression, default: Int): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => default
  }

  /** The reference's declared mixed-width arithmetic proc matrix
    * (reference src/bin/initdb/main.rs:528-584, proc rows 691-894):
    * int{2,4,8} x {pl,mi,mul,div} including every mixed-width pairing
    * (int24pl = int2+int4 -> int4, int48mi = int4-int8 -> int8, ...) and
    * float{4,8} x {pl,mi,mul,div} with float48/float84 promotions.
    * Each row: (proname, leftTypeOid, rightTypeOid, resultTypeOid).
    * Semantics are ANSI-strict PG: integer ops and narrowing casts
    * ERROR on overflow (including shifts that PG's C code would wrap —
    * wrapping silently corrupts at scale, so the strict behavior is
    * deliberate and documented in ARCHITECTURE.md); int division
    * truncates toward zero; mixed widths promote to the wider side;
    * float edge cases follow IEEE (Inf/NaN) rather than PG's range
    * errors.
    */
  val arithProcs: Seq[(String, Int, Int, Int)] = {
    val ints = Seq("2" -> 21, "4" -> 23, "8" -> 20) // digit -> type oid
    val floats = Seq("4" -> 700, "8" -> 701)
    def wider(a: Int, b: Int): Int = // by typlen: int2 < int4 < int8
      Seq(a, b).maxBy(Seq(21, 23, 20, 700, 701).indexOf)
    val ops = Seq("pl", "mi", "mul", "div")
    val intRows = for {
      (dl, ol) <- ints; (dr, or) <- ints; op <- ops
    } yield {
      val name = if (dl == dr) s"int$dl$op" else s"int$dl$dr$op"
      (name, ol, or, wider(ol, or))
    }
    val floatRows = for {
      (dl, ol) <- floats; (dr, or) <- floats; op <- ops
    } yield {
      val name = if (dl == dr) s"float$dl$op" else s"float$dl$dr$op"
      (name, ol, or, wider(ol, or))
    }
    intRows ++ floatRows
  }

  private val oidToType: Map[Int, DataType] = Map(
    21 -> ShortType, 23 -> IntegerType, 20 -> LongType,
    700 -> FloatType, 701 -> DoubleType)

  /** Comparison proc matrix (initdb/main.rs:465-480,552-563): every
    * numeric pairing x {eq,ne,lt,gt,le,ge} -> bool (oid 16), plus
    * booleq/bytea comparisons. */
  val cmpProcs: Seq[(String, Int, Int, Int)] = {
    val ints = Seq("2" -> 21, "4" -> 23, "8" -> 20)
    val floats = Seq("4" -> 700, "8" -> 701)
    val ops = Seq("eq", "ne", "lt", "gt", "le", "ge")
    val intRows = for { (dl, ol) <- ints; (dr, or) <- ints; op <- ops }
      yield (if (dl == dr) s"int$dl$op" else s"int$dl$dr$op", ol, or, 16)
    val floatRows = for { (dl, ol) <- floats; (dr, or) <- floats; op <- ops }
      yield (if (dl == dr) s"float$dl$op" else s"float$dl$dr$op", ol, or, 16)
    val boolBytea = ops.map(op => (s"bool$op", 16, 16, 16)) ++
      ops.map(op => (s"bytea$op", 17, 17, 16))
    intRows ++ floatRows ++ boolBytea
  }

  /** Unary procs (initdb:496-497,536-544,564,585): um (negate) and abs
    * per numeric type. (name, argOid, resultOid) */
  val unaryProcs: Seq[(String, Int, Int)] =
    Seq("2" -> 21, "4" -> 23, "8" -> 20).flatMap { case (d, o) =>
      Seq((s"int${d}um", o, o), (s"int${d}abs", o, o))
    } ++ Seq(
      ("float4um", 700, 700), ("float4abs", 700, 700),
      ("float8um", 701, 701), ("float8abs", 701, 701))

  /** Bitwise procs (initdb:619-636): and/or/xor/not/shl/shr for each int
    * width; shift amount is int4 per PG. */
  val bitProcs: Seq[(String, Int, Int, Int)] =
    Seq("2" -> 21, "4" -> 23, "8" -> 20).flatMap { case (d, o) =>
      Seq((s"int${d}and", o, o, o), (s"int${d}or", o, o, o),
        (s"int${d}xor", o, o, o), (s"int${d}not", o, 0, o),
        (s"int${d}shl", o, 23, o), (s"int${d}shr", o, 23, o))
    }

  /** Named math/string procs (initdb:762-764,890-892): dsqrt/dcbrt/dpow
    * (the |/ ||/ ^ operators) and byteacat (||). */
  val namedProcs: Seq[(String, Int, Int, Int)] = Seq(
    ("dsqrt", 701, 0, 701), ("dcbrt", 701, 0, 701),
    ("dpow", 701, 701, 701), ("byteacat", 17, 17, 17))

  /** Same-width modulo procs (initdb proc rows int2mod/int4mod/int8mod;
    * '%' operator rows 439/529/530). PG semantics: truncating remainder
    * with the sign of the dividend — identical to Spark's Remainder. */
  val modProcs: Seq[(String, Int, Int, Int)] = Seq(
    ("int2mod", 21, 21, 21), ("int4mod", 23, 23, 23), ("int8mod", 20, 20, 20))

  /** Unary plus (identity) procs (initdb rows 1910-1914; prefix '+'
    * operator rows 1916-1920). (name, argOid, resultOid) */
  val upProcs: Seq[(String, Int, Int)] = Seq(
    ("int2up", 21, 21), ("int4up", 23, 23), ("int8up", 20, 20),
    ("float4up", 700, 700), ("float8up", 701, 701))

  /** Type text-I/O + typmod + misc procs completing the reference's
    * 203-proc bootstrap envelope (initdb/main.rs:691-894): typinput/
    * typoutput per bootstrapped type, varchar typmod in/out, factorial
    * (numeric_fac, result oid 1700 matching the reference row even
    * though numeric is not itself bootstrapped), bytea LIKE.
    * (name, nargs, resultOid) */
  val ioProcs: Seq[(String, Int, Int)] = Seq(
    ("boolin", 1, 16), ("boolout", 1, 1043),
    ("byteain", 1, 17), ("byteaout", 1, 1043),
    ("int2in", 1, 21), ("int2out", 1, 1043),
    ("int4in", 1, 23), ("int4out", 1, 1043),
    ("int8in", 1, 20), ("int8out", 1, 1043),
    ("float4in", 1, 700), ("float4out", 1, 1043),
    ("float8in", 1, 701), ("float8out", 1, 1043),
    ("varcharin", 3, 1043), ("varcharout", 1, 1043),
    ("varchartypmodin", 1, 23), ("varchartypmodout", 1, 1043),
    ("numeric_fac", 1, 1700),
    ("bytealike", 2, 16), ("byteanlike", 2, 16))

  /** The operator symbol each proc family implements (kb_operator.oprname
    * -> oprcode mapping, reference initdb/main.rs:464-650). */
  val opSymbol: Map[String, String] = Map(
    "pl" -> "+", "mi" -> "-", "mul" -> "*", "div" -> "/", "mod" -> "%",
    "eq" -> "=", "ne" -> "<>", "lt" -> "<", "gt" -> ">",
    "le" -> "<=", "ge" -> ">=",
    "and" -> "&", "or" -> "|", "xor" -> "#", "shl" -> "<<", "shr" -> ">>")

  private def arithExpr(name: String, result: DataType,
      es: Seq[Expression]): Expression = {
    val op = name.replaceAll("^(int|float)[0-9]+", "")
    val l = Cast(es(0), result)
    val r = Cast(es(1), result)
    (op, result) match {
      case ("pl", _) => Add(l, r)
      case ("mi", _) => Subtract(l, r)
      case ("mul", _) => Multiply(l, r)
      // Spark's Divide is double/decimal-only (the analyzer would coerce
      // anyway); cast back so float4div yields float4 per the catalog
      case ("div", FloatType | DoubleType) => Cast(Divide(l, r), result)
      case ("div", _) => Cast(IntegralDivide(l, r), result) // PG: truncating
      case _ => throw new IllegalArgumentException(name)
    }
  }

  private def fn(name: String, usage: String = "")(builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in"),
      builder)

  /** The SQL function surface, one (name, info, builder) per function —
    * the shape `SparkSessionExtensions.injectFunction` takes.
    * `GraftExtensions` injects the list into every session that
    * `Engine.session` builds and, deployed as `spark.sql.extensions`,
    * into every session of a cluster application. */
  val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("graft_fnv64", "graft_fnv64(str) - deterministic FNV-1a 64-bit hash")(
      es => Fnv64(es.head)),
    fn("graft_tokens", "graft_tokens(text) - lower-cased word tokens")(es => Tokens(es.head)),
    fn("graft_token_counts")(es => TokenCounts(es.head)),
    fn("graft_shingles")(es => Shingles(es.head, if (es.size > 1) lit2int(es(1), 3) else 3)),
    fn("graft_minhash", "graft_minhash(tokens, n) - minhash signature")(
      es => MinHashSig(es.head, if (es.size > 1) lit2int(es(1), 64) else 64)),
    fn("graft_simhash", "graft_simhash(tokens) - 64-bit simhash")(es => SimHash64(es.head)),
    fn("graft_sig_match")(es => SigMatchCount(es(0), es(1))),
    fn("graft_bands")(es => BandHashes(es.head, if (es.size > 1) lit2int(es(1), 16) else 16)),
    fn("graft_dot", "graft_dot(a, b) - dense vector dot product")(
      es => ArrayDot(es(0), es(1))),
    fn("graft_cosine", "graft_cosine(a, b) - cosine similarity")(
      es => CosineSim(es(0), es(1))),
    fn("graft_max_shingle_count")(
      es => MaxShingleCount(es.head, if (es.size > 1) lit2int(es(1), 1) else 1)),
    fn("graft_interleave_bits")(es => InterleaveBits(es)),
    fn("dsqrt")(es => Sqrt(Cast(es.head, DoubleType))),
    fn("dcbrt")(es => Cbrt(Cast(es.head, DoubleType))),
    fn("dpow")(es => Pow(Cast(es(0), DoubleType), Cast(es(1), DoubleType))),
    fn("byteacat")(es => Concat(Seq(Cast(es(0), BinaryType), Cast(es(1), BinaryType)))),
    fn("boolout")(es => If(Cast(es.head, BooleanType), Literal("t"), Literal("f"))),
    fn("byteain") { es =>
      val s = Cast(es.head, StringType)
      If(StartsWith(s, Literal("\\x")),
        Unhex(Substring(s, Literal(3), Literal(Int.MaxValue))),
        Cast(s, BinaryType)) // PG escape-format fallback: raw utf8 bytes
    },
    fn("byteaout")(es => Concat(Seq(Literal("\\x"), Lower(Hex(Cast(es.head, BinaryType)))))),
    fn("varchartypmodin")( // '(n)' -> n + VARHDRSZ
      es => Add(Cast(es.head, IntegerType), Literal(4))),
    fn("varchartypmodout")( // typmod -> '(n)'
      es => Concat(Seq(Literal("("),
        Cast(Subtract(Cast(es.head, IntegerType), Literal(4)), StringType),
        Literal(")")))),
    fn("numeric_fac")(es => Factorial(Cast(es.head, IntegerType))),
    fn("bytealike")(es => Like(Cast(es(0), StringType), Cast(es(1), StringType), '\\')),
    fn("byteanlike")(
      es => Not(Like(Cast(es(0), StringType), Cast(es(1), StringType), '\\')))
  ) ++
    // The reference's declared arithmetic proc matrix by catalog name
    // (int4pl/int24mul/float48div/..., initdb/main.rs:691-894) — the 6
    // procs its fmgr actually wires (src/utils/fmgr.rs:44-53) plus the
    // full declared envelope, all SQL-callable with PG semantics (ANSI
    // overflow errors, truncating integer division):
    arithProcs.map { case (name, _, _, resOid) =>
      val result = oidToType(resOid)
      fn(name)(es => arithExpr(name, result, es))
    } ++
    cmpProcs.map { case (name, _, _, _) =>
      val op = name.replaceAll("^(int|float|bool|bytea)[0-9]*", "")
      val wide = if (name.startsWith("bytea") || name.startsWith("bool")) None
        else Some(oidToType(widerOid(name)))
      fn(name) { es =>
        val (l, r) = wide match {
          case Some(t) => (Cast(es(0), t), Cast(es(1), t))
          case None => (es(0), es(1))
        }
        op match {
          case "eq" => EqualTo(l, r)
          case "ne" => Not(EqualTo(l, r))
          case "lt" => LessThan(l, r)
          case "gt" => GreaterThan(l, r)
          case "le" => LessThanOrEqual(l, r)
          case "ge" => GreaterThanOrEqual(l, r)
        }
      }
    } ++
    unaryProcs.map { case (name, argOid, _) =>
      val t = oidToType(argOid)
      fn(name) { es =>
        val a = Cast(es.head, t)
        if (name.endsWith("um")) UnaryMinus(a) else Abs(a)
      }
    } ++
    bitProcs.map { case (name, lOid, _, _) =>
      val t = oidToType(lOid)
      fn(name) { es =>
        val a = Cast(es.head, t)
        name.replaceAll("^int[0-9]", "") match {
          case "and" => BitwiseAnd(a, Cast(es(1), t))
          case "or" => BitwiseOr(a, Cast(es(1), t))
          case "xor" => BitwiseXor(a, Cast(es(1), t))
          case "not" => BitwiseNot(a)
          // Spark shifts require an int/long base; widen, shift, narrow
          case "shl" => Cast(ShiftLeft(
            Cast(a, if (t == LongType) LongType else IntegerType),
            Cast(es(1), IntegerType)), t)
          case "shr" => Cast(ShiftRight(
            Cast(a, if (t == LongType) LongType else IntegerType),
            Cast(es(1), IntegerType)), t)
        }
      }
    } ++
    // % — PG mod truncates with the dividend's sign, same as Remainder
    modProcs.map { case (name, lOid, _, _) =>
      val t = oidToType(lOid)
      fn(name)(es => Cast(Remainder(Cast(es(0), t), Cast(es(1), t)), t))
    } ++
    // unary + — identity at the declared type
    upProcs.map { case (name, argOid, _) =>
      val t = oidToType(argOid)
      fn(name)(es => Cast(es.head, t))
    } ++
    // typinput/typoutput surface: text form <-> value, PG conventions
    // (bool t/f, bytea \x hex, varchar typmod = n + 4 header bytes)
    Seq(("int2in", ShortType), ("int4in", IntegerType), ("int8in", LongType),
      ("float4in", FloatType), ("float8in", DoubleType),
      ("boolin", BooleanType), ("varcharin", StringType)).map { case (name, t) =>
      fn(name)(es => Cast(es.head, t))
    } ++
    Seq(("int2out", ShortType), ("int4out", IntegerType), ("int8out", LongType),
      ("float4out", FloatType), ("float8out", DoubleType),
      ("varcharout", StringType)).map { case (name, t) =>
      fn(name)(es => Cast(Cast(es.head, t), StringType))
    }

  /** Wider of the two operand types encoded in a mixed-width proc name
    * (int24lt -> int4; float48ge -> float8; same-width -> that width). */
  private def widerOid(name: String): Int = {
    val m = "^(int|float)([0-9])([0-9])?".r.findFirstMatchIn(name).get
    val fam = m.group(1)
    val dl = m.group(2)
    val dr = Option(m.group(3)).getOrElse(dl)
    val d = Seq(dl, dr).maxBy(Seq("2", "4", "8").indexOf) // 2 < 4 < 8
    (fam, d) match {
      case ("int", "2") => 21
      case ("int", "4") => 23
      case ("int", "8") => 20
      case ("float", "4") => 700
      case _ => 701
    }
  }

  // Column-API wrappers
  def fnv64(c: Column): Column = call_function("graft_fnv64", c)
  def tokensNative(c: Column): Column = call_function("graft_tokens", c)
  def tokenCountsNative(c: Column): Column =
    call_function("graft_token_counts", c)
  def shinglesNative(c: Column, k: Int): Column =
    call_function("graft_shingles", c, org.apache.spark.sql.functions.lit(k))
  def minhash(c: Column, n: Int): Column =
    call_function("graft_minhash", c, org.apache.spark.sql.functions.lit(n))
  def simhash(c: Column): Column = call_function("graft_simhash", c)
  def sigMatch(a: Column, b: Column): Column = call_function("graft_sig_match", a, b)
  def bandHashes(sig: Column, bands: Int): Column =
    call_function("graft_bands", sig, org.apache.spark.sql.functions.lit(bands))
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)
  def maxShingleCount(tok: Column, k: Int): Column =
    call_function("graft_max_shingle_count", tok,
      org.apache.spark.sql.functions.lit(k))
  def interleaveBits(buckets: Column*): Column =
    call_function("graft_interleave_bits", buckets: _*)

  /** Column probing `c` against a driver-built bloom filter. The Column
    * captures its own expression instance directly (GraftShim.column) —
    * no shared registry name, so two live blooms can never probe each
    * other's sketch. */
  /** All `tables` LSH bucket codes of `v` in one native pass —
    * bit-identical to the per-plane `dot(v, h) > 0` literal form. */
  def lshBuckets(v: Column, planes: Array[Array[Double]], tables: Int,
      perTable: Int): Column = {
    val shim = org.apache.spark.sql.GraftShim
    shim.column(LshBuckets(shim.expression(v), planes, tables, perTable))
  }

  /** Indices (best first) of the `n` nearest codebook centroids to `v`.
    * `round6` ranks by round(cos, 6) — see [[NearestCellsKernel.topN]]'s
    * arm-parity contract. */
  def nearestCells(v: Column, centroids: Array[Array[Double]], n: Int,
      round6: Boolean = false): Column = {
    val shim = org.apache.spark.sql.GraftShim
    shim.column(NearestCells(shim.expression(v), centroids, n, round6))
  }

  /** Hierarchical round6 assignment: nearest global centroid restricted
    * to the top-`p`-routed super-centroid groups — see
    * [[NearestCellsKernel.hierAssign]]. */
  def hierNearestCell(v: Column, centroids: Array[Array[Double]],
      supers: Array[Array[Double]], members: Array[Array[Int]],
      p: Int): Column = {
    val shim = org.apache.spark.sql.GraftShim
    shim.column(HierNearestCell(shim.expression(v), centroids, supers,
      members, p))
  }

  /** BPE tokenization under a learned merge table — the whole table in
    * one native pass (see [[BpeEncode]]); semantics equal the per-merge
    * fold composition. */
  def bpeEncode(c: Column, merges: Seq[(String, String)]): Column = {
    val shim = org.apache.spark.sql.GraftShim
    shim.column(BpeEncode(shim.expression(c), merges.toArray))
  }

  /** PQ codeword ids of `v` under driver-built per-subspace codebooks. */
  def pqEncode(v: Column, books: Array[Array[Array[Double]]]): Column = {
    val shim = org.apache.spark.sql.GraftShim
    shim.column(PqEncode(shim.expression(v), books))
  }

  /** Spark round(x, 6) semantics without the per-value BigDecimal —
    * see [[Round6Kernel]]. The hot-path form of the sim6 emission. */
  def round6(c: Column): Column = {
    val shim = org.apache.spark.sql.GraftShim
    shim.column(Round6(shim.expression(c)))
  }

  /** Flattened per-query ADC lookup table for `q` (computed once/row). */
  def pqAdcTable(q: Column, books: Array[Array[Array[Double]]]): Column = {
    val shim = org.apache.spark.sql.GraftShim
    shim.column(PqAdcTable(shim.expression(q), books))
  }

  /** ADC inner-product estimate: m table lookups per candidate. */
  def pqAdcSum(codes: Column, table: Column): Column = {
    val shim = org.apache.spark.sql.GraftShim
    shim.column(PqAdcSum(shim.expression(codes), shim.expression(table)))
  }

  /** Per-group exact top-k of (nid, sim) pairs by (sim desc, nid asc) as
    * array<struct<nid,sim>> — bounded-heap partial aggregation, never a
    * single-task window sort. */
  def topKPairs(nid: Column, sim: Column, k: Int): Column = {
    val shim = org.apache.spark.sql.GraftShim
    shim.column(TopKPairsAgg(shim.expression(nid), shim.expression(sim), k)
      .toAggregateExpression())
  }

  /** Per-member in-bucket top-k (array<struct<qid,nid,sim>>) under the
    * heap's (sim desc, nid asc) order — see [[BucketTopKKernel]]. */
  def bucketTopK(members: Column, k: Int): Column = {
    val shim = org.apache.spark.sql.GraftShim
    shim.column(BucketTopK(shim.expression(members), k))
  }

  /** Row-local greedy MMR selection (array<struct<rank,nid,num>>) over
    * one query's collected candidates — see [[MmrSelectKernel]]. */
  def mmrSelect(members: Column, k: Int): Column = {
    val shim = org.apache.spark.sql.GraftShim
    shim.column(MmrSelect(shim.expression(members), k))
  }

  /** [[topKPairs]] with in-heap dedup by nid — for candidate streams
    * whose duplicates are exact (nid, sim) repeats (multi-table LSH):
    * saves the dropDuplicates shuffle of the full candidate set. */
  def topKPairsDistinct(nid: Column, sim: Column, k: Int): Column = {
    val shim = org.apache.spark.sql.GraftShim
    shim.column(TopKPairsAgg(shim.expression(nid), shim.expression(sim), k,
      distinct = true).toAggregateExpression())
  }

  def bloomContains(spark: SparkSession, c: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter): Column = {
    val shim = org.apache.spark.sql.GraftShim
    shim.column(BloomMightContain(shim.expression(c), bloom))
  }

  /** Column testing `c`'s count-min estimate against a floor — same
    * direct-capture lifecycle as [[bloomContains]]. */
  def cmsAtLeast(spark: SparkSession, c: Column,
      cms: org.apache.spark.util.sketch.CountMinSketch, threshold: Long): Column = {
    val shim = org.apache.spark.sql.GraftShim
    shim.column(CmsAtLeast(shim.expression(c), cms, threshold))
  }
}
