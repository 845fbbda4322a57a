package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Codegen-health gate (round-7 verdict items #1/#2).
  *
  * Spark recovers from a Janino compile failure by silently interpreting
  * the stage (`spark.sql.codegen.fallback=true` by default), so a plan
  * that breaches the 64 KB generated-method limit stays CORRECT while its
  * hot path quietly loses whole-stage codegen — exactly what happened to
  * the PQ family's codebook-argmin `Generate.doConsume` in round 7, and
  * invisible to a log grep for the wrong string. This spec turns the
  * property into a test: with `spark.sql.codegen.fallback=false`, any
  * generated code that fails to compile THROWS instead of degrading, so
  * executing the whole registry under that conf fails CI on the next
  * breach.
  *
  * Also pins [[graft.functions.PqAssign]]'s bit-exactness against the
  * pre-round-8 declarative argmin form (flat d2 array +
  * `array_position(array_min)` over codebook literals) — the native
  * expression must reproduce the replayable-oracle arithmetic exactly,
  * including the first-minimum tie-break and the min-length dot
  * convention.
  *
  * And pins the generated-code cache size set in [[GraftSession]]: a
  * repeating mix of queries whose classes outnumber Spark's default 100
  * entries must not recompile on its second pass.
  */
class CodegenSpec extends SparkSpec {

  /** Run `body` with whole-stage-codegen fallback disabled (compile
    * failures throw) and restore the previous setting after. */
  private def strictCodegen[A](body: => A): A = {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("pq_assign matches the declarative codebook-literal argmin " +
      "bit-for-bit (ties to the smaller code, min-length dots)") {
    import spark.implicits._
    val m = 4
    val ksub = 8
    val dim = 16
    val dsub = dim / m
    // Deterministic integer-grid vectors (the quantized contract) with
    // planted duplicates so argmin ties actually occur.
    val vecs = (0 until 64).map { i =>
      (i.toLong, Array.tabulate(dim)(p => ((i * 31 + p * 17) % 23 - 11).toDouble))
    }
    val books: IndexedSeq[IndexedSeq[Array[Double]]] =
      (0 until m).map { j =>
        (0 until ksub).map { c =>
          // centroids 6 and 7 identical -> any vector nearest to them is a
          // genuine tie that must resolve to code 6
          val cc = if (c == 7) 6 else c
          Array.tabulate(dsub)(p => ((cc * 13 + j * 7 + p * 5) % 19 - 9).toDouble)
        }
      }
    val df = vecs.toDF("id", "vec")
    val flat = new Array[Double](m * ksub * dsub)
    for (j <- 0 until m; c <- 0 until ksub; p <- 0 until dsub)
      flat((j * ksub + c) * dsub + p) = books(j)(c)(p)
    val native = df.select(col("id"),
        call_function("pq_assign", col("vec"), lit(m), lit(ksub), lit(dsub),
          lit(flat)).as("codes"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toIndexedSeq))
    // Declarative reference: the exact pre-round-8 column tree.
    def codeOf(j: Int): org.apache.spark.sql.Column = {
      val sub = slice(col("vec"), j * dsub + 1, dsub)
      val d2s = array(books(j).map { cent =>
        val cn = cent.map(x => x * x).sum
        lit(cn) - lit(2.0) * call_function("array_dot", sub, lit(cent))
      }: _*)
      (array_position(d2s, array_min(d2s)) - 1).cast("int")
    }
    val reference = df.select(col("id"),
        array((0 until m).map(codeOf): _*).as("codes"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toIndexedSeq))
    assert(native.toSeq == reference.toSeq)
    // The planted tie resolves to the FIRST minimal code, never 7.
    assert(native.forall(_._2.forall(_ != 7)))
  }

  test("pq_assign interpreted eval equals its generated code") {
    import spark.implicits._
    val df = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(8)(p => ((i + p * 3) % 7 - 3).toDouble)))
      .toDF("id", "vec")
    val flat = Array.tabulate(2 * 4 * 4)(i => ((i * 11) % 13 - 6).toDouble)
    def run() = df.select(col("id"),
        call_function("pq_assign", col("vec"), lit(2), lit(4), lit(4),
          lit(flat)).as("codes"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toIndexedSeq)).toSeq
    val gen = strictCodegen(run())
    val interp = {
      val key = "spark.sql.codegen.wholeStage"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "false")
      try run() finally spark.conf.set(key, prev)
    }
    assert(gen == interp)
  }

  test("a repeating mix of ~200 generated classes compiles once: the " +
      "second pass hits the codegen cache") {
    // each query inlines a distinct literal, so each is one new whole-stage
    // class, cached twice (driver thread and task thread class loaders)
    val queries = 100
    def pass(): Unit = (0 until queries).foreach { i =>
      spark.range(0, 4, 1, 2).selectExpr(s"id * 7 + $i AS v").collect()
    }
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val before = compiles
    pass()
    val first = compiles - before
    assert(first >= queries, s"first pass compiled $first classes")
    val settled = compiles
    pass()
    assert(compiles == settled,
      s"second pass recompiled ${compiles - settled} of $first classes")
  }

  /** Queries ALLOWED to return an empty relation at the correctness
    * scale factor. An empty result hash-matching an empty oracle is a
    * vacuous gate (the round-8 q226 lesson: its k=3 core was 0 rows at
    * sf0.01, so rows+hash "matched" while checking nothing) — any query
    * that legitimately returns 0 rows at sf0.01 must be listed HERE with
    * a reason, or the sweep fails. */
  private val emptyResultAllowlist: Map[String, String] = Map.empty

  test("every registry query executes with codegen fallback DISABLED " +
      "(a Janino 64KB-limit breach fails here instead of shipping " +
      "interpreted) AND returns a non-vacuous (>= 1 row) result at the " +
      "correctness scale factor unless explicitly allowlisted") {
    // sf0.01 — the driver's correctness gate scale, so the row-count
    // assert certifies the EXACT relation the oracle compare will hash
    val sweepDir = "/root/testdata/sf0.01"
    strictCodegen {
      val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          try {
            val n = fn(spark, sweepDir).collect().length
            if (n == 0 && !emptyResultAllowlist.contains(name))
              Some(s"$name: 0 rows at sf0.01 — vacuous oracle gate; " +
                "re-parameterize the query (q226 got k=2) or allowlist " +
                "it with a reason")
            else None
          }
          catch {
            case e: Throwable =>
              Some(s"$name: ${e.getClass.getSimpleName}: " +
                s"${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")}")
          } finally CacheScope.releaseAll()
      }
      assert(failures.isEmpty,
        s"queries failing the strict-codegen/non-vacuity sweep:\n${failures.mkString("\n")}")
    }
  }
}
