package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DecimalType

/** Column-level helpers for the engine's pipeline operators. Everything here
  * is built either on codegen'd builtins or on native Catalyst expressions —
  * no Scala UDFs in hot paths.
  */
object GraftFunctions {

  /** See [[PolyHash]]. */
  def poly_hash(c: Column): Column =
    Bridge.column(PolyHash(Bridge.expression(c.cast("string"))))

  /** See [[NormalizeAlnum]]: `trim(regexp_replace(lower(s), "[^a-z0-9]+",
    * " "))` as one native char loop.
    */
  def normalize_alnum(c: Column): Column =
    Bridge.column(NormalizeAlnum(Bridge.expression(c.cast("string"))))

  /** See [[BloomContains]]: probe a [[BloomAgg]]-built filter. */
  def bloomContains(filter: Column, key: Column): Column =
    Bridge.column(BloomContains(Bridge.expression(filter), Bridge.expression(key.cast("long"))))

  /** See [[AvroDecode]]: decode Avro binary with writer/reader schema
    * resolution; reader defaults to the writer (full decode) and is pruned
    * automatically by [[graft.plans.PruneAvroDecode]] when only a subset of
    * fields is referenced.
    */
  def from_avro(c: Column, writerSchemaJson: String): Column =
    from_avro(c, writerSchemaJson, writerSchemaJson)

  def from_avro(c: Column, writerSchemaJson: String, readerSchemaJson: String): Column =
    Bridge.column(AvroDecode(Bridge.expression(c), writerSchemaJson, readerSchemaJson))

  /** See [[AvroEncode]]: struct column → Avro binary under `schemaJson`. */
  def to_avro(c: Column, schemaJson: String): Column =
    Bridge.column(AvroEncode(Bridge.expression(c), schemaJson))

  /** Universal-hash family over already-hashed longs:
    * `h_i(x) = (a_i * x + b_i) mod p` with p = PolyHash.Mod. Inputs are
    * < 2^30 and a_i < p < 2^30, so the product fits a long exactly.
    */
  def affineHash(x: Column, a: Long, b: Long): Column =
    (lit(a) * x + lit(b)) % lit(PolyHash.Mod)

  def sqlAffineHash(x: String, a: Long, b: Long): String =
    s"($a * $x + $b) % ${PolyHash.Mod}"

  /** Whitespace tokens of a text column, empties removed. The DuckDB twin is
    * [[sqlTokens]]; both preserve order and keep duplicates.
    */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  def sqlTokens(text: String): String =
    s"list_filter(string_split($text, ' '), t -> t <> '')"

  /** Exact dot product of two double arrays: each pairwise product (a single
    * IEEE-rounded operation, bit-identical everywhere) is quantized to
    * DECIMAL(38,12) and summed exactly, so the result is independent of
    * addition order AND of engine. Products of binary doubles are dyadic
    * rationals — never exact odd multiples of 5e-13 — so round-to-nearest
    * at the quantization is unambiguous cross-engine. The DuckDB twin is
    * [[sqlDotDecimal]].
    */
  // DECIMAL(30,12): addition yields (31,12) — still under Spark's 38-digit
  // cap, so scale 12 is preserved; the re-cast to (30,12) is exact (values
  // are << 10^18). DECIMAL(38,12) would NOT work: (38,12)+(38,12) → (38,11),
  // silently rounding the 12th digit.
  private val Dec = DecimalType(30, 12)

  def dotDecimal(a: Column, b: Column): Column =
    Bridge.column(DotDecimal(Bridge.expression(a), Bridge.expression(b)))

  /** Fast inexact double dot — prefilter only, never decides a result
    * (see [[DotDouble]]).
    */
  def dotDouble(a: Column, b: Column): Column =
    Bridge.column(DotDouble(Bridge.expression(a), Bridge.expression(b)))

  /** `dotDecimal(a, b) > 0` decided at double speed with a certified exact
    * fallback (see [[DotPositive]]) — bit-identical, ~100× cheaper.
    */
  def dotPositive(a: Column, b: Column): Column =
    Bridge.column(DotPositive(Bridge.expression(a), Bridge.expression(b)))

  /** Two nearest seed centroids `[best, second]` by exact-decimal cosine
    * (see [[NearestSeeds]]).
    */
  def nearestSeeds(seeds: Column, embedding: Column, norm: Column): Column =
    Bridge.column(NearestSeeds(
      Bridge.expression(seeds), Bridge.expression(embedding), Bridge.expression(norm)))

  /** Reference implementation of [[dotDecimal]] as a builtin lambda fold —
    * kept for the property test pinning the native expression's semantics.
    */
  def dotDecimalFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x * y).cast(Dec)),
      lit(0).cast(Dec),
      (acc, x) => (acc + x).cast(Dec))

  /** DuckDB computes the same sum via positionally-zipped unnest; DECIMAL
    * addition is associative+commutative, so unnest order is irrelevant.
    */
  def sqlDotDecimal(a: String, b: String): String =
    s"(SELECT sum(CAST(x * y AS DECIMAL(38,12))) FROM (SELECT unnest($a) AS x, unnest($b) AS y))"

  /** Cosine similarity from decimal-exact dot products, one double division
    * and two correctly-rounded sqrts at the end — bit-identical cross-engine.
    */
  def cosine(a: Column, b: Column): Column =
    dotDecimal(a, b).cast("double") /
      (sqrt(dotDecimal(a, a).cast("double")) * sqrt(dotDecimal(b, b).cast("double")))
}
