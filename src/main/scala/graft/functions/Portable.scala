package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Expression helpers whose semantics are reproducible bit-for-bit in
  * DuckDB, so every operator built on them can ship a hash-checkable
  * SQL oracle. md5 is the one hash both engines share; decimal
  * aggregation makes float sums order-independent and therefore
  * engine-independent.
  */
object Portable {

  /** 60-bit seeded hash: first 15 hex chars of md5("seed:x") as a long.
    * DuckDB mirror: `('0x' || substr(md5(seed || ':' || x), 1, 15))::BIGINT`.
    *
    * Spark side is [[Md5Long60]] (r12), built straight into the Column:
    * bit-identical to the classic `conv(substring(md5(…),1,15),16,10)`
    * chain (pinned by the property spec and every md5-dependent
    * oracle) but reads the 60 bits straight off the digest — 2.9× per
    * call on 10M rows (OPTIMIZATION_r12.md, Wave 13; the chain pays
    * three UTF8String materializations plus conv's arbitrary-base
    * parse, and md5-dense operators make up to 13 calls per row). It
    * needs no session and no registration. */
  def md5Long(seed: Column, c: Column): Column =
    VectorFunctions.md5Long60(concat(seed.cast("string"), lit(":"), c))

  def md5Long(seed: Int, c: Column): Column = md5Long(lit(seed), c)

  /** SQL-string mirror of [[md5Long]] for oracle generation. */
  def md5LongSql(seedSql: String, xSql: String): String =
    s"(('0x' || substr(md5(($seedSql) || ':' || ($xSql)), 1, 15))::BIGINT)"

  /** Exact decimal view of a double column: aggregation over it is
    * order-independent, so Spark and DuckDB sums agree exactly. */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Exact floor division of NON-NEGATIVE decimals, staying in decimal
    * end to end. Spark's `div` operator returns BIGINT and silently
    * wraps past 2^63 (found via q_changepoint: a 9.4e18 quotient came
    * back negative while DuckDB's HUGEINT `//` stayed exact) — this
    * mirror subtracts the exact decimal remainder first, so the final
    * division is exact at any quotient up to 10^32 (scale-6 headroom
    * of decimal(38,6)). DuckDB mirror: plain `//` on HUGEINT. */
  def decDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("decimal(38,0)")

  /** sum as exact decimal, surfaced as double (both engines compute the
    * identical decimal then perform the identical nearest-double cast). */
  def sumd(c: Column): Column = sum(dec(c)).cast("double")

  /** Canonicalize IEEE negative zero to +0.0 (x + 0.0 maps -0.0 to
    * 0.0 and is the identity elsewhere). Rounded float aggregates
    * whose true value is a tiny negative residue can land on -0.0 in
    * one engine and +0.0 in the other — same value, different bits,
    * different hash. Wrap every rounded float output in this (and its
    * SQL mirror `+ 0.0`) so the driver's hash compare sees one repr. */
  def pz(c: Column): Column = c + lit(0.0)

  /** Whitespace word tokens of lowercased text; DuckDB mirror:
    * `string_split_regex(lower(x), '\s+')`. */
  def tokens(c: Column): Column = split(lower(c), "\\s+")

  /** Distinct word n-gram shingles (space-joined n-token windows).
    * Guarded: Spark's `sequence(1, 0)` counts DOWN, so short docs must
    * short-circuit to an empty array. DuckDB's generate_series(1,0) is
    * already empty. */
  def wordShingles(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(toks) - lit(n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + lit(k))): _*))
    array_distinct(when(size(toks) >= n, grams).otherwise(array().cast("array<string>")))
  }

  /** SQL mirror of [[wordShingles]] over a token-list expression. */
  def wordShinglesSql(toksSql: String, n: Int): String =
    s"list_distinct(${wordGramsSql(toksSql, n)})"

  /** Non-distinct n-gram mirror (every occurrence, in order) — pairs
    * with the `graft_grams` expression for operators needing true
    * per-gram counts. */
  def wordGramsSql(toksSql: String, n: Int): String = {
    val parts = (0 until n).map(k => s"($toksSql)[i + $k]").mkString(" || ' ' || ")
    s"list_transform(generate_series(1, len($toksSql) - ${n - 1}), i -> $parts)"
  }
}
