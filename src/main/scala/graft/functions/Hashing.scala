package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash primitives shared by the dedup / similarity operators.
  *
  * Two tiers:
  *   - [[h60]] — a 60-bit, engine-independent hash (first 15 hex chars of
  *     md5, parsed base-16). Chosen because it is computable bit-identically
  *     in both Spark (`conv(substring(md5(c),1,15),16,10)`) and the DuckDB
  *     correctness oracle (`CAST('0x'||substr(md5(s),1,15) AS BIGINT)`), is
  *     always non-negative (so signed/unsigned orderings agree), and stays
  *     inside whole-stage codegen (all built-in expressions, no UDFs).
  *   - [[hFast]] — xxHash64, Spark's codegen'd native hash, for hot paths
  *     where the oracle does not need to replay the hash (e.g. LSH bucket
  *     ids whose downstream output is exact-verified anyway). ~10x cheaper
  *     than md5; use it at the 100 TB scale, keep h60 for oracle-checked
  *     signatures.
  */
object Hashing {

  /** 60-bit md5-prefix hash, cross-engine deterministic, non-negative. */
  def h60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Seeded variant: independent hash families for MinHash permutations /
    * hyperplane seeds, `h60(seed ~ ":" ~ value)`.
    */
  def h60(c: Column, seed: Int): Column =
    h60(concat(lit(s"$seed:"), c.cast("string")))

  /** DuckDB SQL text equivalent of [[h60]], for oracle construction. */
  def h60Sql(e: String): String =
    s"CAST('0x' || substr(md5(CAST($e AS VARCHAR)), 1, 15) AS BIGINT)"

  def h60Sql(e: String, seed: Int): String = h60Sql(s"'$seed:' || $e")

  /** Fast path: Spark-native xxHash64 (not oracle-replayable). */
  def hFast(c: Column, seed: Int): Column = xxhash64(lit(seed), c)

  /** Driver-side mirror of [[h60]] for deterministic constants (e.g. LSH
    * hyperplane coefficients) — same md5-prefix scheme, same values.
    */
  def h60Local(s: String): Long =
    h60OfMd5(java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** [[h60]] of an md5 digest: its first 15 hex digits are the top 60 bits
    * of the first 8 bytes read as a big-endian long. Shared by
    * [[h60Local]] and the `shingle_h60` kernel.
    */
  def h60OfMd5(digest: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    v >>> 4
  }
}
