package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the training-data pipeline operators (tokenization,
  * shingling, quality features). All pure built-in expressions — they stay
  * inside whole-stage codegen and are replayable in the DuckDB oracle.
  */
object TextFns {

  /** The shared stopword lexicon (quality scoring, Gopher-style gating).
    * Tiny by design: the signal is "has function words at all", not
    * linguistic coverage. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and")

  /** Whitespace-collapsed, lower-cased canonical form — the normalization
    * step of document fingerprinting.
    */
  def normalized(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Whitespace tokenization. `split` on `\s+` after trim, matching the
    * oracle's `string_split_regex(trim(s), '\s+')`.
    */
  def tokens(c: Column): Column = split(lower(trim(c)), "\\s+")

  /** BPE-ish sub-word tokenization: letter runs, digit runs, and single
    * punctuation marks each count as one token (the usual pre-tokenizer
    * regex shape). Oracle: `regexp_extract_all(s, pattern)`.
    */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokens(c: Column): Column = regexp_extract_all(c, lit(bpeTokenPattern), lit(0))

  /** Word n-gram shingles over [[tokens]]: `size-n+1` overlapping `n`-token
    * strings joined by a single space. Empty array when the document has
    * fewer than `n` tokens (guards Spark's descending-`sequence` pitfall).
    */
  def shingles(c: Column, n: Int): Column = shinglesOfTokens(tokens(c), n)

  /** [[shingles]] over an ALREADY-TOKENIZED array column — for pipelines
    * that materialize the token array once and derive several relations
    * from it (tokenizing is the dominant projection cost on long texts).
    */
  def shinglesOfTokens(t: Column, n: Int): Column =
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Exact-dedup document fingerprint: md5 of the normalized text.
    * Identical in DuckDB: `md5(normalized)`.
    */
  def fingerprint(c: Column): Column = md5(normalized(c))

  /** Prefix fingerprint: md5 over the first `len` normalized chars — the
    * cheap "near-exact" dedup key (catches docs differing only in a tail).
    */
  def prefixFingerprint(c: Column, len: Int): Column =
    md5(substring(normalized(c), 1, len))

  /** LUHN checksum sum over a digit string (the card/IMEI check every
    * PII scanner runs to cut regex false positives — a 16-digit regex
    * hit that fails Luhn is a random number, not a card). From the
    * RIGHTMOST digit: every second digit doubles, 9-folds (2d − 9 when
    * 2d > 9), all sum. Valid numbers have sum % 10 == 0. Pure builtin
    * higher-order expressions over the digit array; [[luhnSumSql]] is
    * the DuckDB twin built from the same per-index arithmetic.
    */
  def luhnValid(digits: Column): Column = luhnSum(digits) % 10 === 0

  /** The Luhn sum itself (doubled-and-folded digit total). */
  def luhnSum(digits: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(digits)), i => {
        // i-th digit FROM THE RIGHT
        val d = digits.substr(length(digits) - i + 1, lit(1)).cast("long")
        when(i % 2 === 0,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      }),
      lit(0L), (acc, v) => acc + v)

  /** The check digit that makes `base` (digits, check appended at the
    * end) Luhn-valid: (10 − S') % 10 where S' is the Luhn sum of the
    * base computed at its post-append parities — i.e. every second
    * digit from the right OF THE BASE doubles starting with the first.
    */
  def luhnCheckDigit(base: Column): Column = {
    val s = aggregate(
      transform(sequence(lit(1), length(base)), i => {
        val d = base.substr(length(base) - i + 1, lit(1)).cast("long")
        when(i % 2 === 1,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      }),
      lit(0L), (acc, v) => acc + v)
    (lit(10L) - s % 10) % 10
  }

  /** DuckDB replay of the Luhn sum over SQL digit-string expression `e`. */
  def luhnSumSql(e: String): String =
    s"""list_aggregate(list_transform(range(1, length($e) + 1),
       i -> CASE WHEN i % 2 = 0 THEN
         CASE WHEN 2 * CAST(substr($e, length($e) - i + 1, 1) AS BIGINT) > 9
           THEN 2 * CAST(substr($e, length($e) - i + 1, 1) AS BIGINT) - 9
           ELSE 2 * CAST(substr($e, length($e) - i + 1, 1) AS BIGINT) END
         ELSE CAST(substr($e, length($e) - i + 1, 1) AS BIGINT) END), 'sum')"""

  /** DuckDB replay of [[luhnCheckDigit]]. */
  def luhnCheckDigitSql(e: String): String =
    s"""((10 - list_aggregate(list_transform(range(1, length($e) + 1),
       i -> CASE WHEN i % 2 = 1 THEN
         CASE WHEN 2 * CAST(substr($e, length($e) - i + 1, 1) AS BIGINT) > 9
           THEN 2 * CAST(substr($e, length($e) - i + 1, 1) AS BIGINT) - 9
           ELSE 2 * CAST(substr($e, length($e) - i + 1, 1) AS BIGINT) END
         ELSE CAST(substr($e, length($e) - i + 1, 1) AS BIGINT) END), 'sum')
       % 10) % 10)"""
}
