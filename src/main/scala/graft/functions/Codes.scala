package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic cross-engine hash arithmetic (SURVEY §4).
  *
  * MinHash / SimHash / LSH must produce byte-identical results in Spark and
  * in the DuckDB oracle, so hash families are plain integer arithmetic over
  * a polynomial character code — never engine-internal hash functions.
  * Every helper emits BOTH the Spark Column and the equivalent DuckDB SQL
  * string from the same constants so the two sides cannot drift.
  *
  * Code: poly(s) = Σ_{i=1..32} ascii(rpad(s,32,'_')[i]) * (31^(i-1) mod P),
  * then x = ((poly % P) * 64 + length(s) % 64) % P — the length term
  * separates strings sharing a 32-char prefix. Weights are pre-reduced
  * mod P so each term stays < 2^39 and the 32-term sum < 2^44 (no Long
  * overflow). Hash family: h_i(x) = (a_i*x+b_i) % P with P = 2^31 - 1;
  * x < P and a_i < 2^31 keep a_i*x within Long range.
  *
  * For full-document identity (exact dedup) [[foldCode]] left-folds
  * (acc*mult + codepoint) % p over EVERY character — a fixed-width
  * fingerprint of unbounded text, so the dedup shuffle key is 8 bytes
  * instead of the document body; two independent (mult, p) pairs guard
  * against collisions.
  */
object Codes {
  val P = 2147483647L // 2^31 - 1

  /** Overflow-guarded integer share: x·1,000,000 DIV y for BYTE-SCALE
    * operands. The exact product crosses 2^63 once x exceeds
    * Long.MaxValue/1e6 ≈ 9.2e12 (≈ 9 TB of bytes — a real 100 TB input,
    * caught live by the scaling probe on q_sample_estimate), so past that
    * bound BOTH legs reduce by 2^20 before the division. The CASE tests
    * abs(x) (same branch in both engines, never the product; symmetric so
    * a pathological negative magnitude cannot reach the overflowing exact
    * leg either), the reduced ratio differs by under 1 ppm wherever the
    * branch can trigger, and greatest(…,1) keeps a sub-2^20 denominator
    * defined. Share/utilization columns over byte or cent quantities must
    * use this instead of a bare `x * 1000000 DIV y`.
    *
    * CONTRACT: the numerator must be non-negative for cross-engine oracle
    * agreement — for negative inexact quotients Spark's DIV truncates
    * toward zero while DuckDB's // floors, so the two engines disagree by
    * 1 regardless of overflow guards. Every current call site is
    * non-negative by construction (ctEcStorageOverhead's
    * physical−logical has total_units ≥ data_units, so physical ≥ logical
    * row-by-row); a future signed call site must clamp first.
    */
  val PpmSafeMax: Long = Long.MaxValue / 1000000L // 9223372036854

  def sharePpmExpr(x: String, y: String): String =
    s"CASE WHEN abs($x) <= ${PpmSafeMax}L THEN ($x) * 1000000 DIV ($y) " +
      s"ELSE (($x) DIV 1048576) * 1000000 " +
      s"DIV greatest((($y) DIV 1048576), 1L) END"

  def sharePpmSql(x: String, y: String): String =
    s"CASE WHEN abs($x) <= $PpmSafeMax THEN ($x) * 1000000 // ($y) " +
      s"ELSE (($x) // 1048576) * 1000000 " +
      s"// greatest((($y) // 1048576), 1) END"
  val P2 = 2147483629L // independent prime for the collision-guard hash

  /** Size of the MinHash family (SURVEY §2.D; 64 per VERDICT r2 #4). */
  val NumHashes = 64

  /** Hash-family coefficients from a fixed quadratic/LCG formula — plain
    * Scala values interpolated as literals into the oracle SQL, so both
    * engines share them by construction.
    */
  val A: IndexedSeq[Long] = (0 until NumHashes).map { i =>
    val a = (69069L * (i + 1) * (i + 1) + 40503L * (i + 1) + 12923L) % P
    if (a == 0L) 1L else a
  }
  val B: IndexedSeq[Long] =
    (0 until NumHashes).map(i => (2654435761L * (i + 1) + 104729L) % P)

  private val CodeLen = 32
  private val pow31m: Array[Long] =
    Iterator.iterate(1L)(x => x * 31L % P).take(CodeLen).toArray

  /** Polynomial char code of the first 32 chars (underscore-padded),
    * weights pre-reduced mod P.
    */
  def polyCode(c: Column): Column =
    (1 to CodeLen)
      .map(i => ascii(substring(rpad(c, CodeLen, "_"), i, 1)) * lit(pow31m(i - 1)))
      .reduce(_ + _)

  def polyCodeSql(e: String): String =
    (1 to CodeLen).map(i =>
      s"CAST(ascii(substring(rpad($e, $CodeLen, '_'), $i, 1)) AS BIGINT) * ${pow31m(i - 1)}")
      .mkString("(", " + ", ")")

  /** String code in [0, P). */
  def strCode(c: Column): Column =
    ((polyCode(c) % P) * 64L + length(c) % 64L) % P

  def strCodeSql(e: String): String =
    s"((${polyCodeSql(e)} % $P * 64 + length($e) % 64) % $P)"

  /** Same value as [[strCode]] via the compiled [[StrCodeExpr]] kernel —
    * one static call in generated code instead of 32 inline terms. Use in
    * wide projections (many code columns in one select) where the inline
    * form would overflow the generated method size.
    */
  def strCodeFast(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      StrCodeExpr(org.apache.spark.sql.GraftBridge.expression(c)))

  /** i-th hash of a code column. */
  def hash(i: Int, x: Column): Column = (lit(A(i)) * x + B(i)) % P

  def hashSql(i: Int, xe: String): String = s"((${A(i)} * $xe + ${B(i)}) % $P)"

  /** Exact full-string fingerprint: left fold (acc*mult + codepoint) % p
    * over every character. acc < p < 2^31 and mult ≤ 131 keep the step
    * within Long range. Empty strings map to 0 on both engines. Evaluated
    * by the compiled [[FoldCodeExpr]] kernel (the declarative
    * aggregate-over-characters form runs interpreted, ~µs per character).
    */
  def foldCode(c: Column, mult: Long, p: Long): Column =
    org.apache.spark.sql.GraftBridge.column(
      FoldCodeExpr(org.apache.spark.sql.GraftBridge.expression(c), mult, p))

  def foldCodeSql(e: String, mult: Long, p: Long): String =
    s"(CASE WHEN length($e) = 0 THEN 0 ELSE list_reduce(" +
      s"list_prepend(CAST(0 AS BIGINT), list_transform(string_split($e, ''), " +
      s"ch -> CAST(ascii(ch) AS BIGINT))), (acc, x) -> (acc * $mult + x) % $p) END)"

  /** String codes of every element of a string array — evaluated by the
    * compiled [[StrCodesExpr]] kernel (one tight JVM loop per element
    * instead of 32 interpreted per-position terms; the SQL twin below is
    * the semantic definition both engines share).
    */
  def strCodes(arr: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      StrCodesExpr(org.apache.spark.sql.GraftBridge.expression(arr)))

  def strCodesSql(arrE: String): String =
    s"list_transform($arrE, s -> ${strCodeSql("s")})"

  /** All 64 minhash minima of a shingle-code array in one compiled
    * traversal ([[MinHash64Expr]]) — replaces the explode → 64×min
    * aggregate (a docs-sized exchange per LSH consumer) and the 64
    * interpreted `array_min(transform(...))` passes of the streaming
    * path. Caller filters empty arrays first (the oracle's
    * `WHERE len(scs) > 0`).
    */
  def minHash64(scs: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      MinHash64Expr(org.apache.spark.sql.GraftBridge.expression(scs)))

  /** Distinct sliding-window minima (winnowing fingerprints, window w) of
    * a long-code array in one compiled O(n) monotonic-deque pass
    * ([[WinnowMinsExpr]]) — the declarative
    * `transform(sequence, j -> array_min(slice(psc, j, w)))` form
    * re-slices the array per window in the interpreted evaluator. The
    * oracle twin is the list-comprehension over `psc[j:j+w-1]` windows.
    */
  def winnowMins(psc: Column, w: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      WinnowMinsExpr(org.apache.spark.sql.GraftBridge.expression(psc), w))

  /** Distinct word-3-gram codes straight from the token-code array in one
    * compiled pass ([[Shingle3SetExpr]]) — value-identical to
    * [[shingleCodes3]].
    */
  def shingle3SetFast(tcs: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      Shingle3SetExpr(org.apache.spark.sql.GraftBridge.expression(tcs)))

  /** Winnowed 3-gram fingerprints straight from the token-code array in
    * one compiled pass ([[WinnowShingles3Expr]]) — shingle stream +
    * [[winnowMins]] fused so no interpreted lambda sits between kernels
    * for the optimizer to inline quadratically.
    */
  def winnowShingles3(tcs: Column, w: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      WinnowShingles3Expr(org.apache.spark.sql.GraftBridge.expression(tcs), w))

  /** 16-bit simhash of a token-hash array in one compiled traversal
    * ([[SimHash16Expr]]) — replaces 16 interpreted
    * `aggregate(transform(...))` passes, one per bit.
    */
  def simHash16(hs: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      SimHash16Expr(org.apache.spark.sql.GraftBridge.expression(hs)))

  /** Word-3gram shingle codes from per-token codes: three token codes
    * folded with multiplier 8191 mod P, distinct. Equivalent to hashing the
    * shingle string but ~30× cheaper: token codes are computed once and
    * each shingle is two multiply-adds (tc < P = 2^31, ×8191 < 2^44 — no
    * overflow). Empty array below 3 tokens (Spark's sequence(1, n) runs
    * DESCENDING when n < 1, hence the guard).
    */
  def shingleCodes3(tokCodes: Column): Column =
    when(size(tokCodes) >= 3,
      array_distinct(transform(
        sequence(lit(1), size(tokCodes) - 2),
        i => ((element_at(tokCodes, i) * 8191L + element_at(tokCodes, i + 1)) % P
          * 8191L + element_at(tokCodes, i + 2)) % P)))
      .otherwise(array().cast("array<long>"))

  def shingleCodes3Sql(tcE: String): String =
    s"list_distinct([ (($tcE[i] * 8191 + $tcE[i+1]) % $P * 8191 + $tcE[i+2]) % $P " +
      s"for i in range(1, greatest(len($tcE) - 1, 1)) ])"

  /** Whitespace tokens of lower-cased trimmed text (no empties). */
  def tokens(text: Column): Column =
    filter(split(trim(lower(text)), " +"), t => length(t) > 0)

  def tokensSql(e: String): String =
    s"list_filter(string_split_regex(trim(lower($e)), ' +'), t -> length(t) > 0)"

  /** A document's token count, BIGINT. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("bigint")

  def tokenCountSql(e: String): String = s"CAST(len(${tokensSql(e)}) AS BIGINT)"

  /** Distinct word 3-gram shingles (empty array if < 3 tokens; the guard
    * matters because Spark's sequence(1, n) runs DESCENDING when n < 1).
    */
  def shingles3(toks: Column): Column =
    when(size(toks) >= 3,
      array_distinct(transform(
        sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2)))))
      .otherwise(array().cast("array<string>"))

  def shingles3Sql(tse: String): String =
    s"list_distinct([ $tse[i] || ' ' || $tse[i+1] || ' ' || $tse[i+2] " +
      s"for i in range(1, greatest(len($tse) - 1, 1)) ])"

  /** All pairs (ids[i], ids[j]), i < j, from a (sorted) id array — emits
    * the candidate pairs inside an LSH bucket without a self-join, so the
    * signature aggregation is computed exactly once (VERDICT r2 #4).
    * Output: array<struct<doc_a, doc_b>>.
    */
  def pairs(ids: Column): Column =
    flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        b => struct(a.as("doc_a"), b.as("doc_b")))))
}
