package perfbench

/** Summary statistics shared by every workload. */
object Stats {

  /** Percentile levels a tail may be reported at, lowest first. */
  val Ladder: Seq[Double] = Seq(0.50, 0.75, 0.90, 0.95, 0.99, 0.999)

  /** Samples that lie strictly beyond the `p` quantile of `n` samples
    * under the nearest-rank rule used by [[percentile]].
    */
  def beyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p * n).toInt)

  /** The highest ladder percentile that leaves at least `minBeyond`
    * samples beyond it; None when even the median does not.
    */
  def tailLevel(n: Int, minBeyond: Int = 10): Option[Double] =
    Ladder.filter(p => beyond(n, p) >= minBeyond).lastOption

  /** Nearest-rank percentile of unsorted samples; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  /** Median as the mean of the two middle values at even sizes. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** Order-independent 64-bit hash of a multiset of canonical row
    * strings: the wrapping sum of one 64-bit hash per row.
    */
  def multisetHash(rows: Iterator[String]): Long =
    rows.foldLeft(0L)((acc, r) => acc + hash64(r))

  def hash64(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** Canonical text of one Spark row: doubles rounded to 10 significant
    * digits (aggregation order may move the last bits), nested values
    * rendered recursively, nulls as a fixed token.
    */
  def canonical(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d)
        .round(new java.math.MathContext(10)).stripTrailingZeros.toPlainString
    case f: Float => canonical(f.toDouble)
    case r: org.apache.spark.sql.Row =>
      (0 until r.length).map(i => canonical(r.get(i))).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }
        .sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }
}
