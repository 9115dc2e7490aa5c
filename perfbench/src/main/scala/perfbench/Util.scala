package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (the "inclusive" definition: p=0 is the
    * minimum, p=100 the maximum). Empty input is 0.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile $p out of [0, 100]")
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.length - 1) * p / 100
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

object Digest {
  /** Order-independent digest of a DataFrame's rows: row count, a sum of
    * row hashes folded below 2^31 (no overflow up to 2^32 rows) and their
    * XOR. Equal multisets of rows give equal digests on any partitioning.
    */
  def of(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(col): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))),
        bit_xor(col("h")))
      .head()
    val n = r.getLong(0)
    val s = if (r.isNullAt(1)) 0L else r.getLong(1)
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    f"$n%d:$s%016x:$x%016x"
  }

  /** The same shape of digest over (a, b) pairs held on the driver. */
  def ofPairs(xs: Iterable[(Long, Long)]): String = {
    var n = 0L
    var s = 0L
    var x = 0L
    xs.foreach { case (a, b) =>
      val h = mix64(mix64(a) ^ b)
      n += 1
      s += h
      x ^= h
    }
    f"$n%d:$s%016x:$x%016x"
  }

  /** splitmix64 finalizer. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Minimal JSON writer for the result and span files (strings, numbers,
  * booleans, maps and lists).
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"not JSON: $other")
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
