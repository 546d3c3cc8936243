package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Helpers that make double/date outputs bit-identical between Spark and
  * any IEEE-754 SQL engine (the DuckDB oracle, Trino, ...).
  *
  * `round()` is NOT portable: Spark rounds HALF_UP on the decimal
  * expansion of the double (BigDecimal), DuckDB rounds via the C
  * library — with cent-denominated data, exact decimal halves are
  * common (sum_of_cents / n) and the two disagree. The floor form below
  * is a fixed sequence of IEEE ops, so every engine computes the same
  * bits. Semantics: round-half-toward-+∞ at `d` decimals.
  */
object CrossEngine {
  def roundHalfUp(c: Column, d: Int): Column = {
    val p = math.pow(10, d)
    floor(c * p + 0.5) / p
  }

  def rnd2(c: Column): Column = roundHalfUp(c, 2)
  def rnd4(c: Column): Column = roundHalfUp(c, 4)
  def rnd6(c: Column): Column = roundHalfUp(c, 6)

  /** Dates as ISO strings: a date comes back as `datetime.date`,
    * `Timestamp`, or `date32` depending on which engine/reader produced
    * it — strings hash identically everywhere. */
  def dateStr(c: Column): Column = date_format(c, "yyyy-MM-dd")

  // ── fixed-point aggregation ────────────────────────────────────────
  // Summing doubles is order-dependent: Spark's partial aggregation and
  // another engine's sequential sum differ in the last ulp, and with
  // cent-denominated data the true value often sits exactly on a
  // decimal half — so even floor-form rounding flips. The only
  // order-independent form: scale each row to integer units (the row
  // value is identical bits in every engine, so the scaled long is
  // too), sum longs exactly, round once at the end. Exact while the
  // unit sum < 2^53 — at larger scale pair this with pre-aggregation or
  // accept ulp noise. Each Spark-side builder has an oracle-SQL twin
  // generated from the same spec so the two can never drift.

  private def p10(d: Int): Double = math.pow(10, d)
  private def p10L(d: Int): Long  = math.pow(10, d).toLong

  /** Exact long units for a ≤d-decimal double column. */
  def units(c: Column, d: Int): Column = floor(c * p10(d) + 0.5)

  /** Order-independent sum of a ≤d-decimal column, rounded to outD ≤ d. */
  def exactSum(c: Column, d: Int, outD: Int): Column =
    floor(sum(units(c, d)) / p10(d - outD) + 0.5) / p10(outD)

  def exactSumSql(e: String, d: Int, outD: Int): String =
    s"floor(CAST(sum(CAST(floor(($e) * ${p10L(d)} + 0.5) AS BIGINT)) AS BIGINT)" +
      s" / ${p10L(d - outD)} + 0.5) / ${p10L(outD)}"

  /** Order-independent avg of a ≤d-decimal column, rounded to outD ≥ d.
    * Divides by count(c) (non-null count = SQL AVG semantics). */
  def exactAvg(c: Column, d: Int, outD: Int): Column =
    floor(sum(units(c, d)) * p10(outD - d) / count(c) + 0.5) / p10(outD)

  def exactAvgSql(e: String, d: Int, outD: Int): String =
    s"floor(CAST(sum(CAST(floor(($e) * ${p10L(d)} + 0.5) AS BIGINT)) AS BIGINT)" +
      s" * ${p10L(outD - d)} / count($e) + 0.5) / ${p10L(outD)}"
}
