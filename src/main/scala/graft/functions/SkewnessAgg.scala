package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Mergeable raw-moments buffer. */
case class MomentsBuf(n: Long, s1: Double, s2: Double, s3: Double)

/** Typed third-moment skewness `Aggregator` — the custom-UDAF surface row of
  * SURVEY §2.9 (the reference has a commented-out `.skew` at
  * `HTGPIPROPHEDEX/__init__.py:895`; Spark ships `skewness` built-in, this
  * demonstrates the engine's user-defined aggregate path with a merge-able
  * moments buffer, the same shape you'd use for any sketch).
  *
  * Population skewness g1 = m3 / m2^1.5 (same definition as Spark's
  * `skewness`). The (n, Σ, Σ², Σ³) raw-moment buffer is associative and
  * commutative, so partial aggregation combines map-side like any built-in.
  *
  * NOTE (conditioning): raw moments catastrophically cancel when
  * |mean| ≫ stddev (e.g. epoch-second columns with second-scale spread —
  * m2 = Σx²/n − mean² is then rounding noise and the result is NaN or
  * garbage). That is the price of the ORACLE contract: the q41 DuckDB
  * oracle replays this exact raw-moment finish over decimal-exact sums,
  * and a shifted/central-moment accumulation (what Spark's built-in does,
  * and what you should use for large-offset data) rounds differently and
  * breaks bit parity. Keep inputs mean-centered-ish (cents, ratios,
  * deltas) or subtract a constant anchor before aggregating.
  */
object SkewnessAgg extends Aggregator[Double, MomentsBuf, Double] {
  type Buf = MomentsBuf
  val Buf = MomentsBuf

  override def zero: Buf = Buf(0L, 0.0, 0.0, 0.0)
  override def reduce(b: Buf, x: Double): Buf =
    Buf(b.n + 1, b.s1 + x, b.s2 + x * x, b.s3 + x * x * x)
  override def merge(a: Buf, b: Buf): Buf =
    Buf(a.n + b.n, a.s1 + b.s1, a.s2 + b.s2, a.s3 + b.s3)
  override def finish(b: Buf): Double = {
    if (b.n == 0) return Double.NaN
    val n = b.n.toDouble
    val mean = b.s1 / n
    val m2 = b.s2 / n - mean * mean
    val m3 = b.s3 / n - 3 * mean * b.s2 / n + 2 * mean * mean * mean
    if (m2 <= 0) Double.NaN else m3 / math.pow(m2, 1.5)
  }
  override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble

  /** Untyped Column form for DataFrame `agg`. */
  def column(c: Column): Column = udaf(SkewnessAgg).apply(c)
}
