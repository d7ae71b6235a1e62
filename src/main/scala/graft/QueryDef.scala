package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One verifiable operator query: a Spark pipeline plus (when SQL-expressible)
  * an equivalent DuckDB oracle run by the driver on the same parquet tables.
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame)

/** Cross-engine parity doctrine (Spark vs the DuckDB oracle, hash-compared):
  *
  *  1. Never rely on order-dependent float accumulation. `SUM(double)` differs
  *     in the last ulp between engines (partition order vs vector order), and
  *     a hash compare has no tolerance. All sums/averages over doubles go
  *     through an exact decimal cast: [[Parity.dsum]] / [[Parity.davg]].
  *     The input data carries 2-decimal values, so `DECIMAL(30,6)` is lossless.
  *  2. Derived float math (ratios, stddev, corr, z-scores) is computed from
  *     those exact sums with the SAME IEEE expression tree on both sides —
  *     identical inputs + identical op graph = bit-identical doubles. No
  *     builtin `stddev/avg/corr` aggregates anywhere near the compare.
  *  3. Order-sensitive picks use `min_by`/`max_by` (DuckDB `arg_min/arg_max`)
  *     on a unique ordering key — never bare `first/last` after a shuffle
  *     (SURVEY §4 "order-sensitive aggregates").
  *  4. Every `LIMIT`/top-k carries a full deterministic tiebreak.
  */
object Parity {
  /** Exact sum of a k-decimal double column, returned as double.
    *
    * Scale choice matters for bit-parity: DuckDB converts DECIMAL→DOUBLE as
    * `(double)int128 / 10^scale` (two roundings once the scaled integer
    * exceeds 2^53), while Spark's Decimal→double is correctly rounded in one
    * step. Keep `|sum| * 10^scale < 2^53` and both conversions are exact →
    * identical doubles. Input data carries 2-decimal values (products: 4),
    * so scale 4 is lossless for anything derived from raw×raw products and
    * scale 6 leaves headroom for small-magnitude columns.
    */
  def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(30, scale))).cast("double")
  /** Whole-unit long quantization (the a7/a21 pattern, measurably 2-4×
    * faster than the decimal path): a 2-decimal double becomes its exact
    * integer count of hundredths and every aggregate over it is a
    * primitive codegen'd LONG hash-agg. `floor(x*100+0.5)` is the same
    * correctly-rounded IEEE tree on both engines; de-scale ONCE after the
    * sum (`CAST(SUM(q) AS DOUBLE) / 100.0` — DuckDB's hugeint→double cast
    * is correctly rounded like Spark's long cast, so the doubles match
    * bitwise). Headroom: |Σx|·100 must stay < 2^63 — callers document the
    * per-group bound. Squares of quantized values (q*q = 10^4·x², exact
    * for 2-decimal x) serve the variance/HHI family the same way. */
  def lq(c: Column): Column = q(c, 100.0)
  /** Round-half-up long quantization to a `1/scale` grid,
    * `floor(c·scale + 0.5)`: the trainer rows' output grids (1e6, 1e7,
    * 1e9). The oracle spells the same tree as
    * `CAST(floor(x * 1e9 + 0.5e0) AS BIGINT)`. */
  def q(c: Column, scale: Double): Column =
    floor(c * scale + 0.5).cast("long")
  /** Oracle-side text for [[lq]]. */
  def oLq(x: String): String =
    s"CAST(floor($x * 100.0 + 0.5) AS BIGINT)"
  /** Long-path mean: one long sum, divide by non-null count, de-scale. */
  def lavg(c: Column): Column =
    sum(lq(c)).cast("double") / count(c) / 100.0
  def oLavg(x: String): String =
    s"CAST(SUM(${oLq(x)}) AS DOUBLE) / COUNT($x) / 100.0"
  /** Long-path sample stddev: both moment sums are exact longs (q² =
    * 10^4·x², exact for 2-decimal x), de-scaled into the same IEEE tree
    * as [[oLstd]]. */
  def lstd(c: Column): Column = {
    val s1 = sum(lq(c)).cast("double") / 100.0
    val s2 = sum(lq(c) * lq(c)).cast("double") / 10000.0
    val n = count(c).cast("double")
    sqrt((s2 - s1 * s1 / n) / (n - lit(1.0)))
  }
  def oLstd(x: String): String = {
    val q = oLq(x)
    s"SQRT((CAST(SUM($q * $q) AS DOUBLE) / 10000.0 - " +
    s"(CAST(SUM($q) AS DOUBLE) / 100.0) * (CAST(SUM($q) AS DOUBLE) / 100.0)" +
    s" / CAST(COUNT($x) AS DOUBLE)) / (CAST(COUNT($x) AS DOUBLE) - 1.0))"
  }
  /** 3×3 determinant by first-row cofactor expansion,
    * `a1·(b2·c3 − b3·c2) − a2·(b1·c3 − b3·c1) + a3·(b1·c2 − b2·c1)`.
    * [[det3]] (Column) and [[oDet3]] (oracle SQL text) are the one
    * operation order both engines replay in every Cramer solve of the
    * trainer rows, so the determinants round identically. */
  def det3(a1: Column, a2: Column, a3: Column,
           b1: Column, b2: Column, b3: Column,
           c1: Column, c2: Column, c3: Column): Column =
    a1 * (b2 * c3 - b3 * c2) -
    a2 * (b1 * c3 - b3 * c1) +
    a3 * (b1 * c2 - b2 * c1)
  def oDet3(a1: String, a2: String, a3: String,
            b1: String, b2: String, b3: String,
            c1: String, c2: String, c3: String): String =
    s"($a1 * ($b2 * $c3 - $b3 * $c2) - " +
    s"$a2 * ($b1 * $c3 - $b3 * $c1) + " +
    s"$a3 * ($b1 * $c2 - $b2 * $c1))"
  /** Oracle-side text for [[dsum]]. */
  def oSum(x: String, scale: Int = 6): String =
    s"CAST(SUM(CAST($x AS DECIMAL(30,$scale))) AS DOUBLE)"
  /** Exact-sum-based average (identical IEEE division both sides). */
  def davg(c: Column, scale: Int = 6): Column = dsum(c, scale) / count(c)
  def oAvg(x: String, scale: Int = 6): String = s"${oSum(x, scale)} / COUNT($x)"
  /** Sample stddev from exact sums: sqrt((s2 - s1*s1/n)/(n-1)).
    * Same expression shape as [[oStd]] so doubles match bitwise. */
  def dstd(c: Column, scale: Int = 4): Column = {
    val s1 = dsum(c, scale); val s2 = dsum(c * c, scale)
    val n = count(c).cast("double")
    sqrt((s2 - s1 * s1 / n) / (n - lit(1.0)))
  }
  def oStd(x: String, scale: Int = 4): String = {
    val s1 = oSum(x, scale); val s2 = oSum(s"$x * $x", scale)
    s"SQRT(($s2 - $s1 * $s1 / CAST(COUNT($x) AS DOUBLE)) / (CAST(COUNT($x) AS DOUBLE) - 1.0))"
  }
}
