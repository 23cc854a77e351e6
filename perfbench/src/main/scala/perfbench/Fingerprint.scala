package perfbench

import java.math.{MathContext, RoundingMode}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive, rounding-tolerant digest of a query result: the
  * row count plus the sum of a 64-bit hash of each row's canonical text.
  * Floating-point values are rounded to 6 significant digits first, so a
  * change of summation order inside an aggregate does not read as a
  * wrong answer; row order never matters (the sum is a multiset digest).
  */
object Fingerprint {
  final case class Digest(rows: Long, sum: Long) {
    def json: String = s"""{"rows":$rows,"fp":"${java.lang.Long.toHexString(sum)}"}"""
  }

  private val Digits = new MathContext(6, RoundingMode.HALF_EVEN)

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: Array[Byte] => MurmurHash3.bytesHash(b).toHexString + ":" + b.length
    // the JVM's default zone must not leak into the digest
    case t: java.sql.Timestamp => t.toInstant.toString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Digits).stripTrailingZeros.toString

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0xbe4c).toLong & 0xffffffffL)

  def of(df: DataFrame): Digest = {
    val rows = df.collect()
    Digest(rows.length, rows.iterator.map(r => hash64(render(r))).sum)
  }

  /** Multiset digest of raw payloads (sink round trips). */
  def ofPayloads(payloads: Iterator[Array[Byte]]): Digest = {
    var n = 0L
    var sum = 0L
    payloads.foreach { p =>
      n += 1
      sum += (MurmurHash3.bytesHash(p, 0x5eed).toLong << 32) |
        (MurmurHash3.bytesHash(p, 0xbe4c).toLong & 0xffffffffL)
    }
    Digest(n, sum)
  }
}
