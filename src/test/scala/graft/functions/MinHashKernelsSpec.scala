package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Dedup

/** The three MinHash kernels (`shingle_h60`, `minhash_sig`, `lsh_buckets`)
  * against the composed column trees they replaced in [[Dedup]]. This spec
  * is the only place those trees remain: each kernel must give the same
  * values, bit for bit, under generated code and under interpretation.
  *
  * Inputs are the sf0.001 documents plus edge rows: null text, "", fewer
  * than `n` tokens, a repeated shingle, non-ASCII text, an empty array and
  * arrays with null elements. They are read back from parquet so the
  * projections run in Spark's operators, not folded on the driver.
  */
class MinHashKernelsSpec extends SparkSpec {

  private val K = 64

  // ---- the composed forms the kernels replaced ----

  private def composedShingles(text: Column, n: Int): Column =
    transform(array_distinct(TextFns.shingles(text, n)), s => Hashing.h60(s))

  private def composedSig(shs: Column, k: Int): Column =
    array((0 until k).map(i => array_min(transform(shs, x => Hashing.hFast(x, i)))): _*)

  private def composedBuckets(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    array((0 until bands).map { b =>
      val slots = (b * r until (b + 1) * r).map(i => sig.getItem(i))
      struct(lit(b).as("band"), Hashing.hFast(concat_ws(",", slots: _*), b).as("bucket"))
    }: _*)
  }

  // ---- inputs ----

  private val edgeTexts = Seq(
    -1L -> null,
    -2L -> "",
    -3L -> "two words",
    -4L -> "a b c a b c a b c a b",              // repeated shingles
    -5L -> "Größe café naïve 東京 タワー café naïve Größe café",
    -6L -> "  padded\tand\nmixed   whitespace here  ",
    -7L -> "one")

  /** (id, text): the sf0.001 documents plus [[edgeTexts]], via parquet. */
  private def texts(): DataFrame = {
    import spark.implicits._
    val dir = tempDir("graft-minhash-texts")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
      .unionByName(edgeTexts.toDF("id", "text"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def viaParquet(df: DataFrame, prefix: String): DataFrame = {
    val dir = tempDir(prefix)
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Kernel shingle arrays of the documents plus edge arrays (empty, a null
    * element, only a null, duplicates), as (id, shs). */
  private def shingleArrays(): DataFrame = {
    import spark.implicits._
    val edge = Seq[(Long, Seq[java.lang.Long])](
      -10L -> Seq(),
      -11L -> Seq(5L, null, 7L),
      -12L -> Seq(null),
      -13L -> Seq(3L, 3L, 3L),
      -14L -> Seq(Long.MinValue, Long.MaxValue, 0L, -1L)).toDF("id", "shs")
    viaParquet(Dedup.shingleArrays(texts(), "id", "text", 3).select("id", "shs")
      .unionByName(edge), "graft-minhash-shs")
  }

  /** Kernel signatures of [[shingleArrays]] plus edge signatures with null
    * slots, as (id, sig) of length [[K]]. */
  private def signatures(): DataFrame = {
    import spark.implicits._
    val nulls = Seq.fill[java.lang.Long](K)(null)
    val someNull = Seq.tabulate[java.lang.Long](K)(i =>
      if (i % 3 == 0) null else java.lang.Long.valueOf(i * 1000003L - 7))
    val extremes = Seq.tabulate[java.lang.Long](K)(i =>
      if (i % 2 == 0) Long.MinValue else Long.MaxValue)
    val edge = Seq(-20L -> nulls, -21L -> someNull, -22L -> extremes).toDF("id", "sig")
    viaParquet(Dedup.minhashSignaturesArr(shingleArrays(), K).unionByName(edge),
      "graft-minhash-sig")
  }

  /** Both directions of `exceptAll` are empty: the same rows, duplicates
    * counted. */
  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    val g = got.cache()
    val w = want.cache()
    try {
      assert(g.count() == w.count())
      val extra = g.exceptAll(w).collect()
      val missing = w.exceptAll(g).collect()
      assert(extra.isEmpty && missing.isEmpty,
        s"kernel-only rows: ${extra.take(3).mkString("; ")}; " +
          s"composed-only rows: ${missing.take(3).mkString("; ")}")
    } finally { g.unpersist(); w.unpersist() }
  }

  /** Run `body` with expression evaluation forced to generated code (with
    * whole-stage codegen and no fallback) or to the interpreter. */
  private def inMode[A](mode: String)(body: => A): A = {
    val settings = Map(
      "spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString,
      "spark.sql.codegen.fallback" -> "false")
    val prev = settings.keys.map(k => k -> spark.conf.getOption(k)).toMap
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {

    test(s"shingle_h60 equals the distinct h60 shingle array, and shingleSets " +
        s"the exploded postings [$mode]") {
      inMode(mode) {
        val t = texts()
        for (n <- Seq(1, 3, 5)) {
          val kernel = call_function("shingle_h60", TextFns.tokens(col("text")), lit(n))
          val rows = t.select(col("id"), col("text").isNull.as("null_text"),
              kernel.as("got"), composedShingles(col("text"), n).as("want"))
            .collect()
          assert(rows.length == 500 + edgeTexts.length)
          rows.foreach { r =>
            val want = r.getSeq[Long](3)
            if (r.getBoolean(1)) assert(r.isNullAt(2) && want.isEmpty, s"id ${r.getLong(0)}")
            else assert(r.getSeq[Long](2) == want, s"id ${r.getLong(0)}, n=$n")
          }
          assertSameRows(Dedup.shingleSets(t, "id", "text", n),
            t.select(col("id"), explode(composedShingles(col("text"), n)).as("sh")))
        }
        // the edge rows behave as the composed form says
        val byId = t.filter(col("id") < 0)
          .select(col("id"), call_function("shingle_h60", TextFns.tokens(col("text")), lit(3)))
          .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
        assert(byId(-1L).isEmpty)                    // null text: null
        assert(byId(-2L).contains(Nil) && byId(-3L).contains(Nil) && byId(-7L).contains(Nil))
        assert(byId(-4L).map(_.length).contains(3))  // "a b c", "b c a", "c a b"
        assert(byId(-4L).get.head == Hashing.h60Local("a b c"))
        assert(byId(-5L).get.head == Hashing.h60Local("größe café naïve"))
      }
    }

    test(s"minhash_sig equals k array_min(transform(xxhash64)) slots, nulls " +
        s"and empty arrays included [$mode]") {
      inMode(mode) {
        val shs = shingleArrays()
        val rows = shs.select(col("id"), call_function("minhash_sig", col("shs"), lit(K)),
            composedSig(col("shs"), K)).collect()
        assert(rows.length == shs.count() && rows.length > 500)
        rows.foreach(r => assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"id ${r.getLong(0)}"))
        val byId = rows.map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
        assert(byId(-10L) == Seq.fill(K)(null))      // empty array: k nulls
        // a null element hashes as hashInt(i, 42), the xxhash64 seed chain
        assert(byId(-12L) == (0 until K).map(i =>
          org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(i, 42L)))
        assertSameRows(Dedup.minhashSignaturesArr(shs, K),
          shs.select(col("id"), composedSig(col("shs"), K).as("sig")))
      }
    }

    test(s"lsh_buckets equals the banded xxhash64(concat_ws) structs, and " +
        s"lshCandidatePairs the composed candidate join [$mode]") {
      inMode(mode) {
        val sigs = signatures()
        for (bands <- Seq(1, 16, 64)) {
          val rows = sigs.select(col("id"), call_function("lsh_buckets", col("sig"), lit(bands)),
              composedBuckets(col("sig"), K, bands)).collect()
          assert(rows.length == sigs.count() && rows.length > 500)
          rows.foreach(r => assert(r.getSeq[Row](1) == r.getSeq[Row](2), s"id ${r.getLong(0)}"))
        }
        val oldBands = sigs.select(col("id"), inline(composedBuckets(col("sig"), K, 16)))
        val oldPairs = oldBands.as("a").join(oldBands.as("b"),
            col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
              col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
        assertSameRows(Dedup.lshCandidatePairs(sigs, K, 16), oldPairs)
      }
    }
  }

  test("the kernels run as generated code: no CodegenFallback, one static " +
      "call each in the whole-stage source") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    inMode("CODEGEN_ONLY") {
      val arr = Dedup.shingleArrays(texts(), "id", "text", 3)
      val df = arr
        .select(col("id"), call_function("minhash_sig", col("shs"), lit(K)).as("sig"))
        .select(col("id"), inline(call_function("lsh_buckets", col("sig"), lit(16))))
      assert(df.collect().length == arr.count() * 16)
      val exprs = df.queryExecution.optimizedPlan.collect { case p => p.expressions }
        .flatten.flatMap(_.collect { case e => e })
      assert(exprs.count(e => e.isInstanceOf[ShingleH60] || e.isInstanceOf[MinHashSig] ||
        e.isInstanceOf[LshBuckets]) >= 3)
      assert(!exprs.exists(_.isInstanceOf[CodegenFallback]))
      val code = org.apache.spark.sql.execution.debug.codegenString(
        df.queryExecution.executedPlan)
      Seq("shingleH60", "minhashSig", "lshBuckets").foreach(m =>
        assert(code.contains(s"graft.functions.MinHashKernels.$m("), m))
    }
  }

  test("all three kernels are callable from spark.sql and match the " +
      "DataFrame calls") {
    val sql = spark.sql(
      """SELECT shingle_h60(split('a b c a b c', ' '), 2) AS sh,
        |       minhash_sig(shingle_h60(split('a b c a b c', ' '), 2), 8) AS sig,
        |       lsh_buckets(minhash_sig(shingle_h60(split('a b c a b c', ' '), 2), 8), 4) AS bb
        |""".stripMargin).collect().head
    assert(sql.getSeq[Long](0) == Seq("a b", "b c", "c a").map(Hashing.h60Local))
    val df = spark.range(1).select(
        composedSig(composedShingles(lit("a b c a b c"), 2), 8).as("sig"))
      .select(col("sig"), composedBuckets(col("sig"), 8, 4)).collect().head
    assert(sql.getSeq[Any](1) == df.getSeq[Any](0))
    assert(sql.getSeq[Row](2) == df.getSeq[Row](1))
    // a null token is skipped inside its shingle, as concat_ws skips it
    val toks = "array('a', NULL, 'b', '', 'a')"
    val nullToks = spark.sql(s"SELECT shingle_h60($toks, 2)").collect().head.getSeq[Long](0)
    val composedNullToks = spark.range(1).select(transform(
        array_distinct(TextFns.shinglesOfTokens(expr(toks), 2)), s => Hashing.h60(s)))
      .collect().head.getSeq[Long](0)
    assert(nullToks == composedNullToks)
    assert(nullToks == Seq("a", "b", "b ", " a").map(Hashing.h60Local))
  }

  test("a non-literal or non-positive int parameter fails at analysis") {
    val nonLiteral = Seq(
      "shingle_h60(split('a b', ' '), CAST(id AS INT))",
      "minhash_sig(array(id), CAST(id AS INT))",
      "lsh_buckets(array(id), CAST(id + 1 AS INT))",
      "minhash_sig(array(id), 0)",
      "lsh_buckets(array(id), 2L)")
    nonLiteral.foreach { e =>
      val err = intercept[AnalysisException](spark.sql(s"SELECT $e FROM range(2)"))
      assert(err.getMessage.contains("DATATYPE_MISMATCH"), s"$e: ${err.getMessage}")
    }
    intercept[AnalysisException](spark.range(2).select(
      call_function("minhash_sig", array(col("id")), col("id").cast("int"))))
  }
}
