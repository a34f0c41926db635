package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One engine capability exposed through the harness contract: a Spark
  * query plus (when SQL-expressible) an equivalent DuckDB oracle. Column
  * names MUST match between the two — the driver sorts columns by name and
  * hashes values.
  */
final case class NamedQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object NamedQuery {

  /** Deterministic double aggregation: IEEE double products are
    * bit-identical across engines, but SUM order is not — so quantize each
    * addend to DECIMAL(23,6) (exact: fixture monetary values have ≤2
    * decimals, so 3-factor products have ≤6) and sum exactly. The sum is
    * cast STRAIGHT to double — no decimal rescale first (Spark rounds
    * half-up on rescale, DuckDB truncates) — which is a single correct
    * rounding in both engines while the unscaled value fits in 2^53, i.e.
    * |sum| < 9e9. Holds at verify scale (sf0.01); at real 100 TB scale the
    * output would stay DECIMAL end-to-end. SQL twin: [[sqlDecSum]].
    */
  def decSum(c: Column): Column = decSumAt(c, 23, 6)

  /** [[decSum]] at a caller-chosen precision/scale — for addends whose
    * exactness scale isn't the monetary 6 (e.g. p36's unit-interval quality
    * scores at scale 9). Same single-rounding contract: keep the SUM's
    * unscaled value below 2^53.
    */
  def decSumAt(c: Column, precision: Int, scale: Int): Column =
    sum(c.cast(DecimalType(precision, scale))).cast("double")

  /** DuckDB twin of [[decSum]]. */
  def sqlDecSum(e: String): String = sqlDecSumAt(e, 23, 6)

  /** DuckDB twin of [[decSumAt]]. */
  def sqlDecSumAt(e: String, precision: Int, scale: Int): String =
    s"CAST(SUM(CAST($e AS DECIMAL($precision,$scale))) AS DOUBLE)"

  /** Order-insensitive double average: exact decimal sum / exact count,
    * one double division at the end.
    */
  def decAvg(c: Column): Column = decSum(c) / count(lit(1))

  def sqlDecAvg(e: String): String = s"${sqlDecSum(e)} / COUNT(*)"

  /** [[decSum]] WITHOUT the final double cast — the "at real scale the
    * output stays DECIMAL end-to-end" variant, bit-exact at ANY magnitude
    * (no 2^53 envelope): the 10× fixture check caught decSum's documented
    * boundary on q03's sum_charge (group sums ~2.8e10 > 9e9 ⇒ the
    * decimal→double cast's rounding diverged by 1 ulp between engines).
    * Result type pinned to DECIMAL(33,6) on both sides (Spark's sum of
    * DECIMAL(23,6) is DECIMAL(33,6); DuckDB's is DECIMAL(38,6), so the
    * oracle casts down — lossless, the value's integral part is < 1e27).
    */
  def decSumDec(c: Column): Column =
    sum(c.cast(DecimalType(23, 6))).cast(DecimalType(33, 6))

  def sqlDecSumDec(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(23,6))) AS DECIMAL(33,6))"

  /** [[decSumDec]] rendered as a plain scale-6 STRING — the gate-facing
    * form. Exact at any magnitude (it is the decimal's own digits), and
    * representation-stable across engines: a DECIMAL(33,6) renders
    * identically in Spark (java BigDecimal plain form — scale 6 can never
    * trigger scientific notation) and DuckDB (`::VARCHAR`), digit for
    * digit with all six fractional places. Motivation: round 7 proved the
    * driver's hasher canonicalizes DECIMAL columns differently between its
    * Spark-parquet and DuckDB paths even when values are bit-identical, so
    * DECIMAL must never appear in a gate-facing output schema (enforced by
    * OutputTypeLintSpec); STRING has seven rounds of driver-hash evidence.
    */
  def decSumStr(c: Column): Column = decSumDec(c).cast("string")

  def sqlDecSumStr(e: String): String =
    s"CAST(${sqlDecSumDec(e)} AS VARCHAR)"

  /** The exact decimal sum's UNSCALED value (sum × 10^6) as BIGINT — the
    * building block for ratios and constant divisions past [[decSum]]'s
    * envelope. The r9 headroom audit (tools/audit_decsum.py, table in
    * SCALING.md) measured group sums up to 1.8e11 at the 10× fixture —
    * 20× past decSum's |sum| < 9e9 exactness boundary, the exact class
    * that made q03 hash-fail. A BIGINT carries the unscaled sum exactly
    * while |sum| < ~9.2e12 (2^63 unscaled) — 1000× more headroom — and a
    * BIGINT→DOUBLE conversion is a single correctly-rounded hardware op
    * in every engine, unlike a decimal→double cast (DuckDB double-rounds
    * past 2^53 — demonstrated, not just theorized: DecimalEnvelopeSpec +
    * tools/red_team_decsum.py replay a committed fixture summing to
    * (2^53+1)/10^6 where the two engines land 1 ulp apart). The guard
    * raises loudly with the calling entry point's name. The raw-SQL twin
    * [[sqlDecSumUnscaled]] has no explicit guard on the Spark side of a
    * shared string, but past 2^63 BOTH engines fail loudly anyway — Spark
    * runs ANSI by default since 4.0 so the overflowing decimal→BIGINT
    * cast throws, and DuckDB raises a conversion error (both pinned on
    * the over-2^63 fixture group) — and the audit flags entries long
    * before the envelope.
    */
  def decSumUnscaled(c: Column): Column = unscaledGuarded(c, "decSumUnscaled")

  /** The guard is parameterized on the public entry point's name so an
    * overflow at an avg call site (q26's _uqty/_uprice/_udisc) reports
    * "decAvgUnscaled: …", not the alias target — the message exists to
    * locate the failing aggregate.
    */
  private def unscaledGuarded(c: Column, ctx: String): Column = {
    val u = (sum(c.cast(DecimalType(23, 6))) * lit(1000000)).cast(DecimalType(38, 0))
    when(u > lit(Long.MaxValue) || u < lit(Long.MinValue),
      raise_error(lit(s"$ctx: unscaled sum exceeds BIGINT " +
        "(group sum past the documented ~9.2e12 envelope)")).cast("long"))
      .otherwise(u.cast("long"))
  }

  def sqlDecSumUnscaled(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(23,6))) * 1000000 AS BIGINT)"

  /** Deterministic ratio of two decimal sums at ANY magnitude inside the
    * unscaled BIGINT envelope: num/den = unscaled_num/unscaled_den (the
    * 10^6 scales cancel), each BIGINT→DOUBLE conversion rounds once and
    * identically cross-engine, then ONE division and one multiply. The
    * replacement for `decSum(a)/decSum(b)` ratios whose internal sums
    * clear 9e9 (q34/q76/q78's promo- and market-share shapes at the 10×
    * audit: sums 3.6e9–9.5e9, within 3× of the cast boundary).
    */
  def decRatio(num: Column, den: Column, mult: Double = 1.0): Column =
    lit(mult) * (decSumUnscaled(num).cast("double") /
      decSumUnscaled(den).cast("double"))

  /** DuckDB twin of [[decRatio]] — identical operation order (ratio first,
    * multiplier last) so the IEEE roundings line up.
    */
  def sqlDecRatio(num: String, den: String, mult: String = "1.0"): String =
    s"$mult * (CAST(${sqlDecSumUnscaled(num)} AS DOUBLE) / " +
      s"CAST(${sqlDecSumUnscaled(den)} AS DOUBLE))"

  /** Decimal sum divided by an integer constant (TPC-H Q17's `/ 7.0`
    * yearly average), computed past the decSum envelope: unscaled BIGINT →
    * one exact-constant division (k × 10^6 is exactly representable).
    */
  def sqlDecSumDivConst(e: String, k: Long): String =
    s"CAST(${sqlDecSumUnscaled(e)} AS DOUBLE) / $k" + "000000.0"

  /** Scale-proof average: the exact decimal sum's UNSCALED value (sum ×
    * 10^6, integral, < 2^63) floor-divided by the count in INTEGER
    * arithmetic — truncating division of non-negative longs is
    * rule-identical in Spark (`div`) and DuckDB (`//`), unlike a decimal
    * quotient cast (Spark rounds HALF_UP, DuckDB half-even) or a double
    * division of a >2^53 sum (decSum's envelope). The re-scale to double
    * at the end is exact: the quotient is < 2^53 and one division by 10^6
    * rounds once, identically, in both engines. Semantics: the average
    * quantized toward zero at 6 decimals (documented; TPC-H prints 2).
    * Emit with [[decAvgUnscaled]] in the aggregation list and divide in
    * a post-select via [[avgFromUnscaled]] (integer div is not exposed on
    * Column, so the quotient is built by name).
    */
  def decAvgUnscaled(c: Column): Column = unscaledGuarded(c, "decAvgUnscaled")

  def avgFromUnscaled(uCol: String, cntCol: String): Column =
    expr(s"CAST($uCol div $cntCol AS DOUBLE) / 1000000.0")

  def sqlDecAvgScaleProof(e: String): String =
    s"CAST(CAST(SUM(CAST($e AS DECIMAL(23,6))) * 1000000 AS BIGINT) // COUNT(*) AS DOUBLE) / 1000000.0"
}
