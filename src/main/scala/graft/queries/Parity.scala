package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared oracle-parity helpers — the ONE home of the decimal-exact
  * aggregation rule (VERDICT r1: keep a single copy so the scale logic
  * can't drift).
  *
  * Why decimal: distributed sums over doubles are non-deterministic across
  * partitionings (float addition isn't associative), so a double `sum`
  * can't hash-match a single-threaded DuckDB oracle. The synthetic money
  * columns are clean 2-decimal values; products of two (three) of them
  * carry exactly 4 (6) decimal digits. Casting such a double to a decimal
  * of its exact scale never lands on a rounding midpoint, so Spark's
  * shortest-repr rounding and DuckDB's exact-binary rounding agree
  * bit-for-bit. Casting to a *narrower* scale hits .xx5 midpoints where
  * they disagree.
  *
  * At 100 TB this costs nothing extra: `cast(decimal)` inside `sum` is a
  * codegen'd Catalyst expression evaluated in the partial-aggregate stage;
  * the shuffle carries one decimal per group per column, same as a double.
  */
object Parity {

  /** Exact decimal sum of a double column, surfaced as double.
    *
    * The decimal→double hop goes THROUGH A STRING on purpose: DuckDB's
    * direct decimal→double cast double-rounds once the unscaled value
    * exceeds 2^53 (hugeint→double, then ÷10^s — measured 1 ULP off
    * Spark's correctly-rounded BigDecimal.doubleValue on every sf0.1
    * orders sum-of-squares group), while string→double parsing is
    * correctly rounded in BOTH engines (fast_float / Double.parseDouble).
    * Below 2^53 the two paths agree exactly, so this changes nothing at
    * small scale and keeps the hash gate stable at any scale. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(28,$scale)")).cast("string").cast("double")

  /** Exact decimal avg: exact sum / exact count, then one double divide
    * (deterministic: both engines divide the same two exact numbers). */
  def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(c)

  /** SQL mirror of [[dsum]] for DuckDB oracle text (string-routed like
    * [[dsum]] — see the conversion note there). */
  def dsumSql(e: String, scale: Int = 2): String =
    s"CAST(CAST(SUM(CAST($e AS DECIMAL(28,$scale))) AS STRING) AS DOUBLE)"
}
