package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** One timed operation as the client saw it. */
final case class Op(kind: String, start: Long, end: Long, ok: Boolean,
    rows: Long, opId: Long = 0L, readNs: Long = 0L, copyNs: Long = 0L) {
  def ms: Double = (end - start) / 1e6
  def traced: Boolean = opId != 0L
}

/** Order-independent result fingerprints: `<rows>:<sum of 64-bit row
  * hashes>`, over a canonical text rendering of every value, so two runs
  * agree exactly when they return the same multiset of rows. */
object Fingerprint {
  def render(v: Any): String = v match {
    case null => "\\N"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("\\x", "", "")
    case d: Double => if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float => if (f == 0.0f) "0.0" else java.lang.Float.toString(f)
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  def of(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += hash64(render(r)))
    f"${rows.length}:$sum%016x"
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return Double.NaN
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.length)

  /** Peak resident memory of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Total collection time of every garbage collector, in ms. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

/** A metric as printed: value and unit. */
final case class Metric(name: String, value: Double, unit: String)

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def metrics(ms: Seq[Metric]): String = ms.map { m =>
    s"${str(m.name)}: {${str("value")}: ${Stats.num(m.value)}, ${str("unit")}: ${str(m.unit)}}"
  }.mkString("{", ", ", "}")
}
