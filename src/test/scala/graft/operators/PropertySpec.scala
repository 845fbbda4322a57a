package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.schema.Observation
import graft.streaming.{MonotonicDedup, StreamPipeline}

/** Property tests for the invariants SURVEY.md §5 calls out: dedup
  * idempotence and determinism, hour-floor bucketing, and strict
  * per-key monotonicity of the streaming dedup output. Uses ScalaCheck
  * generators with fixed seeds (scalatestplus bridge is not in the
  * offline cache) — deterministic across runs.
  */
class PropertySpec extends SparkSpec {

  /** Deterministic sampler: one generated value per seed 0..n-1. */
  private def forAll[A](g: Gen[A], n: Int = 8)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  private val genRow = for {
    key <- Gen.oneOf("S1", "S2", "S3")
    minute <- Gen.choose(0, 599) // ten hours of minutes
    value <- Gen.choose(-50.0, 50.0)
  } yield (key, minute, value)

  private val genBatch = Gen.listOfN(60, genRow)

  private def toDf(rows: List[(String, Int, Double)]) = {
    import spark.implicits._
    rows.map { case (k, m, v) =>
      (k, new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime
        + m * 60000L), v)
    }.toDF("station_id", "timestamp", "temperature")
  }

  test("property: dedupKeepLast is idempotent and key-unique") {
    forAll(genBatch) { rows =>
      whenever(rows.nonEmpty) {
        val df = toDf(rows)
        val once = Clean.dedupKeepLast(df, Seq("station_id", "timestamp"),
          Seq(col("temperature")))
        val twice = Clean.dedupKeepLast(once, Seq("station_id", "timestamp"),
          Seq(col("temperature")))
        val a = once.collect().map(_.toSeq).toSet
        assert(a == twice.collect().map(_.toSeq).toSet)
        val keys = once.select("station_id", "timestamp").collect().map(_.toSeq)
        assert(keys.length == keys.toSet.size)
      }
    }
  }

  test("property: prepareHourly output has one row per (station, hour) and " +
      "every timestamp is hour-aligned") {
    forAll(genBatch) { rows =>
      whenever(rows.nonEmpty) {
        val (clean, _) = Clean.prepareHourly(toDf(rows), Observation.schema)
        val out = clean.select("station_id", "timestamp").collect()
        assert(out.length == out.map(_.toSeq).toSet.size)
        assert(out.forall { r =>
          val t = r.getAs[Timestamp]("timestamp")
          t.getTime % 3600000L == 0
        })
      }
    }
  }

  test("property: MonotonicDedup output is strictly increasing per key and " +
      "equals the per-key distinct-timestamp count") {
    import spark.implicits._
    forAll(genBatch) { rows =>
      whenever(rows.nonEmpty) {
        val ds = toDf(rows).as[(String, Timestamp, Double)]
          .map { case (k, t, v) => Observation(k, None, None, None, None, t,
            Some(v), None, None) }
        val out = MonotonicDedup.dedupe[String, Observation](
          ds, _.station_id, _.timestamp.getTime).collect()
        out.groupBy(_.station_id).foreach { case (k, obs) =>
          val times = obs.map(_.timestamp.getTime).sorted
          assert(times.distinct.length == times.length, s"dup times for $k")
          val expected = rows.filter(_._1 == k).map(_._2).distinct.size
          assert(times.length == expected, s"count for $k")
        }
      }
    }
  }

  test("property: MonotonicDedup with the hour bucket, timestamp floored, " +
      "equals prepareHourly over the unbucketed dedup, row for row") {
    import spark.implicits._
    // several readings per station-hour over four hours, arriving out of
    // event-time order, plus exact replays of some of them (a replay is
    // the same reading again, so which copy survives cannot matter)
    val gen = for {
      rows <- Gen.listOfN(60, for {
        key <- Gen.oneOf("S1", "S2", "S3")
        minute <- Gen.choose(0, 239)
      } yield (key, minute))
      replays <- Gen.someOf(rows)
      order <- Gen.long
    } yield new scala.util.Random(order).shuffle(rows ++ replays)
      .map { case (k, m) => (k, m, m * 0.25 + k.last.asDigit) }
    val hour = StreamPipeline.hourBucket(java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone")))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    forAll(gen) { rows =>
      val ds = toDf(rows).as[(String, Timestamp, Double)]
        .map { case (k, t, v) => Observation(k, None, None, None, None, t,
          Some(v), None, None) }
      val folded = MonotonicDedup.dedupe[String, Observation](
          ds, _.station_id, _.timestamp.getTime, hour).toDF()
        .withColumn("timestamp", date_trunc("hour", col("timestamp")))
      val (batch, rejected) = Clean.prepareHourly(MonotonicDedup
        .dedupe[String, Observation](ds, _.station_id, _.timestamp.getTime)
        .toDF(), Observation.schema)
      assert(rejected.isEmpty)
      val expected = sorted(batch)
      assert(expected.size < rows.map(r => (r._1, r._2)).distinct.size,
        "some station-hour must hold several readings")
      assert(sorted(folded) == expected)
    }
  }

  test("property: BPE encode is lossless and never exceeds the char count") {
    val t = graft.operators.TextOps.bpe
    val genText = Gen.listOfN(40,
      Gen.frequency(8 -> Gen.alphaLowerChar, 2 -> Gen.const(' ')))
      .map(_.mkString)
    forAll(genText, n = 24) { s =>
      val toks = t.encode(s)
      assert(toks.mkString == s, s"round-trip broke for '$s'")
      assert(toks.size <= s.length)
      assert(toks.forall(_.nonEmpty) || s.isEmpty)
      // idempotence of the table: re-encoding each token yields itself
      // (every merged token is a single symbol after its own passes)
      assert(t.encode(toks.mkString) == toks)
    }
  }

  test("property: chunkTokens covers every token exactly and in order") {
    import spark.implicits._
    val genDoc = for {
      n <- Gen.choose(1, 40)
      w <- Gen.choose(2, 8)
      s <- Gen.choose(1, 8)
    } yield (n, w, math.min(s, w))
    forAll(genDoc, n = 12) { case (n, w, s) =>
      val text = (0 until n).map(i => s"t$i").mkString(" ")
      val chunks = graft.operators.TextOps.chunkTokens(
          Seq((0L, text)).toDF("doc_id", "text"), "doc_id", "text", w, s)
        .orderBy("chunk_idx")
        .collect().map(_.getString(3).split(" ").toSeq).toSeq
      // stitching chunks at their stride offsets reproduces the document
      val stitched = chunks.head ++ chunks.tail.flatMap(_.drop(w - s))
      assert(stitched == text.split(" ").toSeq,
        s"n=$n w=$w s=$s: $chunks")
      // every chunk except the last is full-width
      assert(chunks.init.forall(_.size == w))
    }
  }

  test("property: rangeJoin == naive non-equi join on random facts, " +
      "intervals, and bucket widths") {
    import spark.implicits._
    val gen = for {
      nFacts <- Gen.choose(0, 60)
      facts <- Gen.listOfN(nFacts, Gen.choose(-100.0, 100.0))
      nDims <- Gen.choose(0, 12)
      dims <- Gen.listOfN(nDims, for {
        lo <- Gen.choose(-120.0, 110.0)
        len <- Gen.choose(0.0, 60.0)
      } yield (lo, lo + len))
      width <- Gen.oneOf(0.7, 3.0, 17.0, 250.0)
    } yield (facts, dims, width)
    forAll(gen, n = 10) { case (facts, dims, width) =>
      val factDf = facts.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val dimDf = dims.zipWithIndex
        .map { case ((lo, hi), i) => (s"d$i", lo, hi) }.toDF("band", "lo", "hi")
      val naive = factDf.join(dimDf,
          col("v") >= col("lo") && col("v") < col("hi"))
        .select("id", "band").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val bucketed = Joins.rangeJoin(factDf, "v", dimDf, "lo", "hi", width)
        .select("id", "band").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(bucketed == naive,
        s"width=$width facts=${facts.size} dims=$dims")
    }
  }

  test("property: waterFillAllocation fits the budget, is maximal, and " +
      "equals min(size, cap) for random sources and budgets") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 12)
      sizes <- Gen.listOfN(n, Gen.choose(0L, 200L))
      budget <- Gen.choose(0L, 800L)
    } yield (sizes, budget)
    forAll(gen, n = 12) { case (sizes, budget) =>
      val df = sizes.zipWithIndex.map { case (s, i) => (s"s$i", s) }
        .toDF("source", "n_tokens")
      val out = Sampling.waterFillAllocation(df, "source", "n_tokens", budget)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val total = out.map(_._3).sum
      assert(total <= budget || out.forall(r => r._3 == r._2),
        s"overspent: $total > $budget on $sizes")
      // every allocation is min(size, some common cap): the distinct
      // allocated values below their size must all be equal (= the cap)
      val clipped = out.filter(r => r._3 < r._2).map(_._3).distinct
      assert(clipped.size <= 1, s"inconsistent caps $clipped on $sizes")
      // maximality: raising the cap by one must break the budget
      clipped.headOption.foreach { cap =>
        val plusOne = out.map(r => math.min(r._2, cap + 1)).sum
        assert(plusOne > budget,
          s"cap $cap not maximal (cap+1 still fits $plusOne <= $budget) on $sizes")
      }
    }
  }

  test("property: pearsonMatrix agrees with Spark's built-in corr within " +
      "quantization epsilon on random data") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(5, 60)
      xs <- Gen.listOfN(n, Gen.choose(-50.0, 50.0))
      slope <- Gen.choose(-3.0, 3.0)
      noise <- Gen.listOfN(n, Gen.choose(-10.0, 10.0))
    } yield xs.zip(noise).map { case (x, e) => (x, slope * x + e) }
    forAll(gen, n = 6) { pts =>
      val df = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("id", "x", "y")
      val builtin = df.agg(corr(col("x"), col("y"))).first().getDouble(0)
      val ours = Quality.pearsonMatrix(df, Seq("x", "y"))
        .collect()(0).getAs[Double]("r")
      // 1e-6 quantization + different accumulation orders: micro-level
      // agreement is the contract, bit-level is ours alone
      assert(math.abs(ours - builtin) < 1e-4, s"$ours vs $builtin")
    }
  }

  test("property: percentileGate's grouped-counts pct equals the " +
      "cume_dist window form on random tied data") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(5, 80)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b", "c")
        s <- Gen.choose(0L, 6L)   // small range forces heavy ties
      } yield (g, s))
    } yield rows
    forAll(gen, n = 6) { rows =>
      val df = rows.zipWithIndex
        .map { case ((g, s), i) => (i.toLong, g, s) }
        .toDF("id", "grp", "score")
      val ours = Quality.percentileGate(df, "grp", "score", 0.3)
        .select("id", "pct", "kept")
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2))))
        .toMap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("grp")).orderBy(col("score"))
      val ref = df.withColumn("pct", cume_dist().over(w))
        .withColumn("kept", col("pct") > 0.3)
        .select("id", "pct", "kept")
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2))))
        .toMap
      // bit-equal, not approximately equal: both are the same exact
      // count division, so the rewrite must be value-identical
      assert(ours == ref)
    }
  }

  test("property: bigramLm conserves probability mass per context and " +
      "unigramKl respects Gibbs' inequality under micro rounding") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(2, 6)
      docs <- Gen.listOfN(n, Gen.listOfN(12,
        Gen.oneOf("a", "b", "c", "d", "e")).map(_.mkString(" ")))
    } yield docs
    forAll(gen, n = 5) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // unpruned MLE conditionals per context w1 must sum to 1e6 within
      // the accumulated round-half-up slack (±0.5 micro per successor)
      val mass = TextOps.bigramLm(df, "text", 1L)
        .groupBy("w1").agg(sum(col("p_micro")).as("m"),
          count(lit(1)).as("succ"))
        .collect()
      mass.foreach { r =>
        val (m, succ) = (r.getLong(1), r.getLong(2))
        assert(math.abs(m - 1000000L) <= succ,
          s"context ${r.getString(0)}: mass $m over $succ successors")
      }
      // KL(doc ‖ corpus) ≥ 0 exactly; micro-rounded logs can dip at most
      // ~2 micro units below zero (±0.5 micro per ln, two per term)
      val kl = TextOps.unigramKl(df, "doc_id", "text")
        .select("kl_micro").collect().map(_.getDouble(0))
      kl.foreach(v => assert(v >= -2.0, s"kl_micro $v < -2"))
    }
  }
}
