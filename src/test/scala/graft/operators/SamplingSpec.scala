package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SamplingSpec extends SparkSpec {

  private def ids = {
    import spark.implicits._
    (0L until 10000L).toDF("id")
  }

  test("hashSplit: fractions land near targets and assignment is a pure " +
      "function of (salt, id) — identical across partitionings") {
    val split = Sampling.hashSplit(ids, "id", "exp1",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("train") - 9000L) < 200)
    assert(math.abs(counts("val") - 500L) < 100)
    assert(math.abs(counts("test") - 500L) < 100)
    // repartitioned input → bit-identical assignment
    val a = split.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Sampling.hashSplit(ids.repartition(7), "id", "exp1",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
  }

  test("hashSplit: a different salt reshuffles assignments; fractions " +
      "must sum to 1") {
    val a = Sampling.hashSplit(ids, "id", "exp1", Seq("x" -> 0.5, "y" -> 0.5))
    val b = Sampling.hashSplit(ids, "id", "exp2", Seq("x" -> 0.5, "y" -> 0.5))
    val moved = a.withColumnRenamed("split", "sa")
      .join(b.withColumnRenamed("split", "sb"), "id")
      .filter(col("sa") =!= col("sb")).count()
    assert(moved > 2000) // ~half move between independent 50/50 splits
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(ids, "id", "s", Seq("x" -> 0.5, "y" -> 0.4))
    }
  }

  test("stratifiedSample: at most n per stratum, deterministic across " +
      "partitionings, strata smaller than n survive whole") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, s"lang${i % 3}"))
      .toDF("id", "lang")
      .unionByName(Seq((1000L, "rare")).toDF("id", "lang")) // 1-row stratum
    val s1 = Sampling.stratifiedSample(df, "id", "lang", 5, "s")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(s1.groupBy(_._2).forall { case (_, rows) => rows.length <= 5 })
    assert(s1.count(_._2 == "rare") == 1)
    assert(s1.groupBy(_._2).view.filterKeys(_ != "rare").forall(_._2.length == 5))
    val s2 = Sampling.stratifiedSample(df.repartition(11), "id", "lang", 5, "s")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(s1.sortBy(_._1).toSeq == s2.sortBy(_._1).toSeq)
  }

  test("packSequences: chunks respect the budget except by less than one " +
      "document, ids stay in order within a chunk") {
    import spark.implicits._
    val docs = (0L until 50L)
      .map(i => (i, "shard0", Seq.fill(((i % 7) + 1).toInt)("tok").mkString(" ")))
      .toDF("id", "shard", "text")
    val out = TextOps.packSequences(docs, "id", "text", "shard", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val byChunk = out.groupBy(_._3).toSeq.sortBy(_._1)
    byChunk.foreach { case (_, rows) =>
      val total = rows.map(_._2).sum
      val maxDoc = rows.map(_._2).max
      assert(total < 10 + maxDoc) // overflow bounded by one document
    }
    // chunk ids are non-decreasing in doc order
    val seqByDoc = out.sortBy(_._1).map(_._3)
    assert(seqByDoc.zip(seqByDoc.tail).forall { case (a, b) => a <= b })
  }

  test("mixtureSample: per-group rates hit their targets, rate-1 groups " +
      "survive intact, and membership is stable across partitionings") {
    import spark.implicits._
    val rows = (0 until 3000).map(i => (i.toLong, s"g${i % 3}"))
      .toDF("id", "grp")
    val out = Sampling.mixtureSample(rows, "id", "grp",
      rates = Seq("g0" -> 1.0, "g1" -> 0.5), defaultRate = 0.1, salt = "m")
    val byGrp = out.groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp("g0") == 1000) // rate 1.0 keeps everything
    assert(math.abs(byGrp("g1") - 500L) < 120)
    assert(math.abs(byGrp.getOrElse("g2", 0L) - 100L) < 60)
    val repartitioned = Sampling.mixtureSample(rows.repartition(7), "id",
      "grp", Seq("g0" -> 1.0, "g1" -> 0.5), 0.1, "m")
    assert(out.select("id").except(repartitioned.select("id")).count() == 0)
    assert(repartitioned.count() == out.count())
  }

  test("weightedSample: inclusion tracks weight, sample is exact-size, " +
      "stable across partitionings, and plans as distributed top-k") {
    import spark.implicits._
    // 2000 light rows (w=10) vs 2000 heavy rows (w=100): heavy rows
    // should dominate a 400-row sample roughly 10:1
    val rows = (0L until 4000L).map(i =>
      (i, if (i < 2000) 10L else 100L)).toDF("id", "w")
    val out = Sampling.weightedSample(rows, "id", "w", 400, "t")
    val picked = out.collect()
    assert(picked.length == 400)
    assert(picked.map(_.getAs[Int]("sample_rank")).sorted.toSeq == (1 to 400))
    val heavy = picked.count(_.getAs[Long]("w") == 100L)
    assert(heavy > 300, s"heavy rows under-sampled: $heavy/400") // E≈364
    // determinism: same sample whatever the physical layout
    val again = Sampling.weightedSample(rows.repartition(13), "id", "w", 400, "t")
      .collect().map(_.getAs[Long]("id")).toSet
    assert(again == picked.map(_.getAs[Long]("id")).toSet)
    // scale shape: top-k must plan as TakeOrderedAndProject, not a
    // global sort or single-task window
    val plan = Sampling.weightedSample(rows, "id", "w", 400, "t")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("shuffleIntoShards: a deterministic permutation — every shard in " +
      "range, positions contiguous from 1, stable across runs") {
    import spark.implicits._
    val rows = (0L until 200L).map(i => (i, s"doc$i")).toDF("id", "payload")
    val a = Sampling.shuffleIntoShards(rows, "id", 8, "s1")
      .select("id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(a.length == 200)
    assert(a.forall { case (_, s, _) => s >= 0 && s < 8 })
    // per shard: positions are exactly 1..n_shard (a permutation)
    a.groupBy(_._2).foreach { case (_, g) =>
      assert(g.map(_._3).sorted.toSeq == (1 to g.length).toSeq)
    }
    // deterministic: a second run reproduces the identical assignment
    val b = Sampling.shuffleIntoShards(rows, "id", 8, "s1")
      .select("id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq)
    // a different salt produces a different permutation
    val c = Sampling.shuffleIntoShards(rows, "id", 8, "s2")
      .select("id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(a.sortBy(_._1).toSeq != c.sortBy(_._1).toSeq)
  }

  test("capPerGroup: keeps the cap best rows per group by the given " +
      "ordering, small groups survive whole, ranks are 1..n") {
    import spark.implicits._
    val rows = Seq(
      (1L, "a", 100L), (2L, "a", 300L), (3L, "a", 200L), (4L, "a", 50L),
      (5L, "b", 10L), (6L, "b", 20L),
      (7L, "c", 5L)
    ).toDF("id", "grp", "score")
    val out = Sampling.capPerGroup(rows, "grp",
        Seq(col("score").desc, col("id").asc), 2)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("id"),
        r.getAs[Int]("rank_in_group"))).toSet
    assert(out == Set(
      ("a", 2L, 1), ("a", 3L, 2),   // top-2 by score, id order stable
      ("b", 6L, 1), ("b", 5L, 2),   // whole group under the cap
      ("c", 7L, 1)))
    // ties broken by id: two equal scores keep the lower id first
    val tied = Seq((1L, "t", 9L), (2L, "t", 9L), (3L, "t", 9L))
      .toDF("id", "grp", "score")
    val kept = Sampling.capPerGroup(tied, "grp",
        Seq(col("score").desc, col("id").asc), 2)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(kept == Set(1L, 2L))
  }

  test("waterFillAllocation: small sources keep everything, big ones clip " +
      "to the FIRST binding tier's level") {
    import spark.implicits._
    val per = Seq(("s_small", 1L), ("s_big1", 10L), ("s_big2", 10L))
      .toDF("source", "n_tokens")
    def alloc(budget: Long) =
      Sampling.waterFillAllocation(per, "source", "n_tokens", budget)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // budget 11: tier 1 fully funds the small source; remaining 10 over 2
    // big sources → level 5. (A min-over-tᵢ bug would pick the last
    // tier's ⌊0/1⌋ = 0 and allocate nothing to the big sources.)
    assert(alloc(11L) == Map("s_small" -> 1L, "s_big1" -> 5L, "s_big2" -> 5L))
    // budget covers everything → no cap
    assert(alloc(100L) == Map("s_small" -> 1L, "s_big1" -> 10L, "s_big2" -> 10L))
    // zero budget → zero everywhere
    assert(alloc(0L) == Map("s_small" -> 0L, "s_big1" -> 0L, "s_big2" -> 0L))
  }

  test("stratifiedSample plans a bounded aggregation — no window (the " +
      "per-stratum whole-slice sort shape must not regress)") {
    import spark.implicits._
    val d = (0L until 200L).map(i => (i, s"g${i % 4}")).toDF("id", "grp")
    val df = Sampling.stratifiedSample(d, "id", "grp", 3, "s1")
    def hasWindow(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          hasWindow(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          hasWindow(q.plan)
        case _: org.apache.spark.sql.execution.window.WindowExec => true
        case other => other.children.exists(hasWindow)
      }
    assert(!hasWindow(df.queryExecution.executedPlan),
      "stratifiedSample planned a window — the bounded bottom-k shape regressed")
    assert(df.count() == 12) // 4 strata x 3
  }

  test("repetitionSchedule: small sources repeat to the epoch cap, big " +
      "ones clip at the water level over CAPACITIES") {
    import spark.implicits._
    val per = Seq(("s_small", 100L), ("s_big", 1000L))
      .toDF("source", "n_tokens")
    val out = Sampling.repetitionSchedule(per, "source", "n_tokens",
        budget = 1500L, maxEpochsMicro = 2000000L)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("capacity"), r.getAs[Long]("allocated"),
          r.getAs[Long]("epochs_micro")))).toMap
    // capacities 200/2000; tier 1 funds the small source (750 ≥ 200),
    // tier 2's level is 1300 < 2000 → big source clips there
    assert(out("s_small") == ((200L, 200L, 2000000L)))  // full 2.0 epochs
    assert(out("s_big") == ((2000L, 1300L, 1300000L)))  // 1.3 epochs
  }

  test("temperatureWeights: sqrt up-weights small sources; targets fit the total") {
    import spark.implicits._
    val per = Seq(("big", 10000L), ("small", 100L)).toDF("source", "n")
    val out = Sampling.temperatureWeights(per, "source", "n", 1000L)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    // natural shares are 99%/1%; sqrt shares are 100/110 and 10/110
    assert(out("big") == ((100000000L, 909L)))   // sqrt(10000)=100 → 1e8 micro
    assert(out("small") == ((10000000L, 90L)))   // sqrt(100)=10 → 1e7 micro
    assert(out.values.map(_._2).sum <= 1000L)
  }

  test("clusterCapSample: component-wide cap, lowest ids survive, " +
      "singletons always kept") {
    import spark.implicits._
    // chain 1-2, 2-3 (one component {1,2,3} though 1~3 never paired) +
    // pair {5,6}; docs 1..7 (4, 7 are singletons)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val docs = (1L to 7L).toDF("doc_id")
    val out = Sampling.clusterCapSample(docs, "doc_id", pairs,
        "id_a", "id_b", 2)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("component"), r.getAs[Long]("rk"),
          r.getAs[Boolean]("kept")))).toMap
    assert(out(1L) == ((1L, 1L, true)))
    assert(out(2L) == ((1L, 2L, true)))
    assert(out(3L) == ((1L, 3L, false))) // transitive member capped out
    assert(out(4L) == ((4L, 1L, true)))  // singleton survives
    assert(out(5L) == ((5L, 1L, true)))
    assert(out(6L) == ((5L, 2L, true)))
    assert(out(7L) == ((7L, 1L, true)))
  }

  test("clusterAwareSplit: every member of a component gets the SAME " +
      "split; buckets replay the salted component hash") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val docs = (1L to 7L).toDF("doc_id")
    val out = Sampling.clusterAwareSplit(docs, "doc_id", pairs,
        "id_a", "id_b", "cs1", 8000)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("component"), r.getAs[String]("split")))).toMap
    // co-assignment: the whole component shares one split
    assert(out(1L)._2 == out(2L)._2 && out(2L)._2 == out(3L)._2)
    assert(out(5L)._2 == out(6L)._2)
    // bucket is a pure function of the component label — replay one
    val comp1 = out(1L)._1
    val bucket1 = spark.range(1).select(
      pmod(graft.functions.Hashing.h60(lit(s"cs1:$comp1")), lit(10000)))
      .first().getLong(0)
    assert((bucket1 < 8000) == (out(1L)._2 == "train"))
  }
}
