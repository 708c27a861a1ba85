package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Order-independent aggregates for oracle-checked queries.
  *
  * `sum(double)` depends on summation order, which differs between
  * Spark partial aggregation and the DuckDB oracle — near a rounding
  * boundary that flips the driver's hash compare.  Summing through
  * DECIMAL(30,6) is exact (the per-row double→decimal rounding is a
  * single deterministic IEEE-defined step identical in both engines),
  * so Spark and DuckDB produce bit-identical results regardless of
  * partitioning.  The decimal sum is still whole-stage-codegen'd.
  *
  * Scale note: this is also the production-correct choice — at 100 TB
  * a double sum drifts by ULP accumulation; decimal sums don't.
  */
object Exact {
  private val Dec = "decimal(30,6)"

  /** Exact sum of a double column, returned as double. */
  def sumx(c: Column): Column = sum(c.cast(Dec)).cast("double")

  /** Exact-sum-based average (value column must be non-null). */
  def avgx(c: Column): Column = sumx(c) / count(lit(1))

  /** The DuckDB mirror of sumx, for oracle SQL strings. */
  def sqlSumx(expr: String): String =
    s"CAST(sum(CAST($expr AS DECIMAL(30,6))) AS DOUBLE)"

  /** Bit-exact mirror of DuckDB's round(DOUBLE, n) — std::round(x·10ⁿ)/10ⁿ,
    * half away from zero on the BINARY value.  Spark's own `round` goes
    * through BigDecimal.valueOf(Double.toString(x)) (decimal shortest-
    * repr), which disagrees with DuckDB near tie boundaries (e.g.
    * 307.03/8 → 38.37875: Spark 38.3788, DuckDB 38.3787) and would flip
    * the driver's hash compare.  Validated against DuckDB on 250k
    * parquet-fed samples incl. adversarial x.xxxx5 boundaries: 0
    * mismatches.  All plain IEEE ops → codegen'd, deterministic. */
  def roundx(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    val v = abs(c) * lit(p)
    val fl = floor(v) // BIGINT floor, exact for |v| < 2^63
    val r = when(v - fl >= 0.5, fl + lit(1L)).otherwise(fl).cast("double")
    signum(c) * r / lit(p)
  }
}
