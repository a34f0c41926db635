package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Red-team spec for the decimal→double cast class (verdict r9 item #1):
  * the r9 audit MEASURED distance to the 2^53 boundary; this spec (with
  * `tools/red_team_decsum.py`, the DuckDB half) DEMONSTRATES what happens
  * past it, on the committed adversarial fixture
  * `src/test/resources/decimal_redteam.json`.
  *
  * The fixture's `edge` group sums 200 scale-6 rows to exactly
  * (2^53+1)/10^6 — the first unscaled value a double mantissa cannot
  * carry. There the JVM rounds ONCE (`BigDecimal.doubleValue` falls back
  * to the correctly-rounded `Double.parseDouble` for |unscaled| ≥ 2^52)
  * while DuckDB converts int128→double FIRST and divides by 10^scale
  * SECOND — two roundings, 1 ulp apart on this mantissa. Both hex
  * constants are committed; the Python tool re-pins DuckDB's live, this
  * spec re-pins Spark's. Together they prove the OLD `decSum` route
  * hash-diverges (q03's r7 incident, now reproducible at will) and that
  * every magnitude-proof replacement stays exact on the same rows.
  *
  * The `over63` group sums past 2^63 unscaled, where [[NamedQuery
  * .decSumUnscaled]]'s guard must raise its own name and the raw shared-
  * SQL twin must also fail loudly (Spark 4 runs ANSI by default, so the
  * overflowing decimal→BIGINT cast throws rather than NULLing; DuckDB
  * raises too — red_team_decsum.py pins that side).
  */
class DecimalEnvelopeSpec extends SparkTestBase {

  private lazy val fix = new ObjectMapper()
    .readTree(getClass.getResourceAsStream("/decimal_redteam.json"))

  private def rowsDf(group: String): DataFrame = {
    import spark.implicits._
    fix.get(group).get("rows").elements().asScala.map(_.asText()).toSeq
      .toDF("v")
  }

  private def hex(group: String, field: String): Double =
    java.lang.Double.parseDouble(fix.get(group).get(field).asText())

  test("edge: the retired decSum route lands on the single-rounded value, " +
      "1 ulp from DuckDB's — the divergence is real, not theoretical") {
    val got = rowsDf("edge").agg(NamedQuery.decSum(col("v")).as("s"))
      .head().getDouble(0)
    val jvm = hex("edge", "expect_spark_hex")
    val duck = hex("edge", "expect_duck_hex")
    assert(java.lang.Double.doubleToLongBits(got) ==
      java.lang.Double.doubleToLongBits(jvm),
      s"Spark moved off the committed single-rounding: ${got}")
    assert(got != duck, "Spark equals DuckDB here — the divergence this " +
      "fixture demonstrates is gone; re-derive the fixture")
    assert(math.abs(java.lang.Double.doubleToLongBits(got) -
      java.lang.Double.doubleToLongBits(duck)) == 1L, "expected 1 ulp apart")
  }

  test("edge: decSumStr and decSumUnscaled are exact on the same rows") {
    val df = rowsDf("edge")
    val s = df.agg(NamedQuery.decSumStr(col("v")).as("s")).head().getString(0)
    assert(s == fix.get("edge").get("expect_str").asText())
    val u = df.agg(NamedQuery.decSumUnscaled(col("v")).as("u"))
      .head().getLong(0)
    assert(u == fix.get("edge").get("target_unscaled").asLong())
    // a ratio of two identical past-2^53 sums: exactly 1.0 via the
    // unscaled route (each BIGINT→double rounds once, identically)
    val r = df.agg(NamedQuery.decRatio(col("v"), col("v")).as("r"))
      .head().getDouble(0)
    assert(r == 1.0)
  }

  test("over63: the guarded Column route raises its own name") {
    val ex = intercept[Throwable] {
      rowsDf("over63").agg(NamedQuery.decSumUnscaled(col("v")).as("u"))
        .head()
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("decSumUnscaled: unscaled sum exceeds BIGINT"),
      s"wrong failure: $msgs")
  }

  test("over63: the raw shared-SQL twin fails loudly too (ANSI cast), " +
      "never a silent NULL-vs-raise divergence against DuckDB") {
    val ex = intercept[Throwable] {
      rowsDf("over63")
        .selectExpr(NamedQuery.sqlDecSumUnscaled("v") + " AS u")
        .head()
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.toUpperCase.contains("OVERFLOW") ||
      msgs.toUpperCase.contains("CANNOT BE CAST") ||
      msgs.toUpperCase.contains("CAST_"), s"expected a loud cast failure, " +
      s"got: $msgs")
  }

  test("over63: decSumStr stays exact past 2^63") {
    val s = rowsDf("over63").agg(NamedQuery.decSumStr(col("v")).as("s"))
      .head().getString(0)
    assert(s == fix.get("over63").get("expect_str").asText())
  }
}
