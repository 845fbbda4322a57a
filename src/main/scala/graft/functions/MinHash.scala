package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The MinHash-LSH dedup pipeline as three native expressions, one per
  * stage: shingle-hash → signature → band buckets. The same values as
  * built-in columns need higher-order `transform` lambdas (one per
  * shingle array, one per signature slot), which Spark interprets outside
  * whole-stage codegen. Each expression is bit-identical to that composed
  * form (MinHashKernelsSpec keeps it as the reference), so postings,
  * signatures, candidates and confirmed pairs are those of that form.
  *
  * The pattern is [[ArrayIntersectCount]]'s: the generated code is one
  * static [[MinHashKernels]] call per row (no lambda interpretation, no
  * CodegenFallback), and the int parameter must be a positive integer
  * literal, checked at analysis.
  */
private[functions] object IntParam {
  def check(e: Expression, fn: String, name: String): TypeCheckResult =
    if (!e.foldable || e.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"$fn: $name must be an int literal, got ${e.sql} (${e.dataType.sql})")
    else e.eval() match {
      case i: Int if i >= 1 => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"$fn: $name must be >= 1, got $other")
    }
}

/** `shingle_h60(tokens, n)` — the DISTINCT space-joined `n`-token shingles
  * of `tokens` in first-occurrence order, each hashed as [[Hashing.h60]]
  * (top 60 bits of the md5). Equals
  * `transform(array_distinct(TextFns.shinglesOfTokens(tokens, n)), h60)`:
  * fewer than `n` tokens give an empty array, a null token is skipped
  * inside its shingle as `concat_ws` skips it, and a null array gives null.
  */
case class ShingleH60(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(StringType, _) => IntParam.check(right, prettyName, "n")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> tokens, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any =
    MinHashKernels.shingleH60(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.MinHashKernels.shingleH60($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleH60 =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "shingle_h60"
}

/** `minhash_sig(shs, k)` — a `k`-slot MinHash signature over a bigint
  * array: slot `i` is the minimum over `x` of `xxhash64(i, x)`, i.e.
  * `XXH64.hashLong(x, XXH64.hashInt(i, 42))`. Equals the `k` columns
  * `array_min(transform(shs, x -> xxhash64(i, x)))`: a null element hashes
  * as `hashInt(i, 42)` (xxhash64 skips a null child), an empty array gives
  * `k` nulls, and a null array gives null.
  */
case class MinHashSig(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(LongType, _) => IntParam.check(right, prettyName, "k")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(a: Any, b: Any): Any =
    MinHashKernels.minhashSig(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.MinHashKernels.minhashSig($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSig =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "minhash_sig"
}

/** `lsh_buckets(sig, bands)` — LSH banding of a signature into `bands`
  * `(band, bucket)` structs. Band `b` covers the `r = size(sig) / bands`
  * slots from `b * r`, and its bucket is
  * `xxhash64(b, concat_ws(",", slots as decimal strings))`: the UTF-8
  * bytes hashed by `hashUnsafeBytes` seeded with `hashInt(b, 42)`, null
  * slots skipped as `concat_ws` skips them. A null signature gives null;
  * a length that `bands` does not divide fails the row.
  */
case class LshBuckets(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(LongType, _) => IntParam.check(right, prettyName, "bands")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an array<bigint> signature, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bucket", LongType, nullable = false))), containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any =
    MinHashKernels.lshBuckets(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.MinHashKernels.lshBuckets($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshBuckets =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "lsh_buckets"
}

/** Static kernels for the three MinHash expressions (a standalone object,
  * so the generated Java calls `graft.functions.MinHashKernels.x` through
  * the compiler's static forwarders).
  */
object MinHashKernels {

  /** xxhash64's seed: a column list hashes as a chain starting from 42. */
  private val XxSeed = 42L

  private val md5 = ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private val noLongs = UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))

  def shingleH60(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    if (len < n) return noLongs
    val toks = Array.tabulate(len)(i =>
      if (tokens.isNullAt(i)) null else tokens.getUTF8String(i))
    val md = md5.get()
    val count = len - n + 1
    val seen = new java.util.HashSet[UTF8String](count * 2)
    val out = new Array[Long](count)
    var distinct = 0
    var s = 0
    while (s < count) {
      // concat_ws(" ", tokens[s, s + n)): non-null tokens, one space apart
      var bytes = -1
      var j = s
      while (j < s + n) {
        if (toks(j) != null) bytes += toks(j).numBytes() + 1
        j += 1
      }
      val buf = new Array[Byte](math.max(bytes, 0))
      var p = 0
      var first = true
      j = s
      while (j < s + n) {
        val t = toks(j)
        if (t != null) {
          if (!first) { buf(p) = ' '; p += 1 }
          t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + p)
          p += t.numBytes()
          first = false
        }
        j += 1
      }
      if (seen.add(UTF8String.fromBytes(buf))) {
        out(distinct) = Hashing.h60OfMd5(md.digest(buf))
        distinct += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, distinct))
  }

  def minhashSig(shs: ArrayData, k: Int): ArrayData = {
    val len = shs.numElements()
    if (len == 0) return new GenericArrayData(new Array[Any](k))
    val xs = new Array[Long](len)
    var m = 0
    var hasNull = false
    var j = 0
    while (j < len) {
      if (shs.isNullAt(j)) hasNull = true else { xs(m) = shs.getLong(j); m += 1 }
      j += 1
    }
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      val seed = XXH64.hashInt(i, XxSeed)
      var min = if (hasNull) seed else Long.MaxValue
      j = 0
      while (j < m) {
        val h = XXH64.hashLong(xs(j), seed)
        if (h < min) min = h
        j += 1
      }
      out(i) = min
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def lshBuckets(sig: ArrayData, bands: Int): ArrayData = {
    val k = sig.numElements()
    if (k % bands != 0) throw new IllegalArgumentException(
      s"lsh_buckets: signature length $k is not divisible by bands=$bands")
    val r = k / bands
    // a long is at most 20 decimal characters, plus one comma
    val buf = new Array[Byte](r * 21)
    val rows = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var p = 0
      var i = b * r
      while (i < (b + 1) * r) {
        if (!sig.isNullAt(i)) {
          if (p > 0) { buf(p) = ','; p += 1 }
          val digits = java.lang.Long.toString(sig.getLong(i))
          var c = 0
          while (c < digits.length) { buf(p) = digits.charAt(c).toByte; p += 1; c += 1 }
        }
        i += 1
      }
      val bucket = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, p,
        XXH64.hashInt(b, XxSeed))
      rows(b) = new GenericInternalRow(Array[Any](b, bucket))
      b += 1
    }
    new GenericArrayData(rows)
  }
}
