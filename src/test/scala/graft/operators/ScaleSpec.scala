package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Scale-mechanics tests: salted joins/aggregates match their plain
  * equivalents, and partitioned writes prune at read time.
  */
class ScaleSpec extends SparkSpec {

  private def skewed = {
    import spark.implicits._
    // one hot key (90%) + a tail
    ((1 to 90).map(i => ("hot", i.toDouble)) ++
      (1 to 10).map(i => (s"k$i", i.toDouble))).toDF("key", "v")
  }

  test("saltedJoin equals the plain join on skewed data") {
    import spark.implicits._
    val dim = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("key", "label")
    val plain = skewed.join(dim, "key")
      .groupBy("key", "label").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet
    val salted = Skew.saltedJoin(skewed, dim, "key", 8)
      .groupBy("key", "label").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet
    assert(salted == plain)
  }

  test("saltedAggregate equals the plain aggregate") {
    val plain = skewed.groupBy("key")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Skew.saltedAggregate(skewed, "key", 8, Map("sv" -> col("v")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == plain)
  }

  test("percentileGate windows over distinct (group, score) rows only — " +
      "a dominant group never funnels its corpus slice through one task") {
    import spark.implicits._
    // 10_000 rows, ONE group, but only 7 distinct scores: the naive
    // cume_dist-over-the-group form would sort all 10_000 rows in a
    // single task; the grouped-counts form must window over ≤ 7 rows
    val df = spark.range(10000)
      .select(lit("en").as("lang"), (col("id") % 7).cast("long").as("score"))
    val out = Quality.percentileGate(df, "lang", "score", 0.2)
    // collect() drives the Dataset's OWN QueryExecution (a noop write
    // would execute a fresh one, leaving these metrics at zero)
    out.collect()
    def windows(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        windows(a.executedPlan)
      // the finalized adaptive plan wraps materialized subtrees in
      // leaf-like QueryStageExec nodes — descend into them explicitly
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        windows(q.plan)
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    val wins = windows(out.queryExecution.executedPlan)
    assert(wins.nonEmpty, "expected the running-sum window in the plan")
    // every window must consume the groupBy(group, score) COUNTS relation
    // (an aggregate strictly below it), never the raw input rows — that
    // aggregate is what bounds the windowed row count by distinct scores
    def hasAggBelow(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          hasAggBelow(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          hasAggBelow(r.child)
        case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
        case other => other.children.exists(hasAggBelow)
      }
    wins.foreach { w =>
      assert(hasAggBelow(w.child),
        s"window consumes a non-aggregated relation:\n$w")
    }
    // and the verdicts are still exact: id%7 gives scores 0–3 1429 rows
    // and 4–6 1428, so pct(0) = 0.1429 ≤ 0.2 (dropped, every row agrees)
    // and pct(1) = 0.2858 > 0.2 (kept) — all higher scores kept too
    val kept = out.groupBy("score").agg(min(col("kept")).as("k1"),
        max(col("kept")).as("k2"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(kept(0L) == ((false, false)))
    (1L to 6L).foreach(s => assert(kept(s) == ((true, true))))
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    import spark.implicits._
    val wh = tempDir("graft-bucket-wh")
    val facts = (1 to 1000).map(i => (i % 50, i.toDouble)).toDF("key", "v")
    val dims = (0 until 50).map(i => (i, s"label$i")).toDF("key", "label")
    facts.write.mode("overwrite").bucketBy(8, "key").sortBy("key")
      .option("path", s"$wh/facts").saveAsTable("facts_bucketed")
    dims.write.mode("overwrite").bucketBy(8, "key").sortBy("key")
      .option("path", s"$wh/dims").saveAsTable("dims_bucketed")
    // disable broadcast so the join would otherwise shuffle both sides
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("facts_bucketed")
        .join(spark.table("dims_bucketed"), "key")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("shingle-df cap keeps dedup sub-quadratic under planted boilerplate skew") {
    import spark.implicits._
    // 30% of docs share one boilerplate sentence (the classic web-corpus
    // skew: headers, disclaimers, templates); each doc also has unique
    // text. Uncapped, the inverted-index self-join explodes quadratically
    // on the boilerplate shingles; the df cap must collapse that while
    // still finding the one TRUE near-dup pair planted in rare shingles.
    val nDocs = 200
    val boiler = "standard legal disclaimer applies to this document in full force"
    val docs = (0 until nDocs).map { i =>
      val unique = s"doc $i alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i"
      (i.toLong, if (i < 60) s"$unique $boiler" else unique)
    }.toDF("doc_id", "text")
    val nearDup = Seq(
      (1000L, "repeated payload alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (1001L, "repeated payload alpha bravo charlie delta echo foxtrot golf hotel india kilo"))
      .toDF("doc_id", "text")
    val all = docs.unionByName(nearDup)
    val cap = 30

    // candidate-space accounting straight off the operator's own postings
    def candidates(maxDf: Int): Long = {
      val sh = Dedup.capDf(Dedup.shingleSets(all, "doc_id", "text", 3), maxDf)
      sh.as("a").join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id")).distinct().count()
    }
    val uncapped = candidates(Int.MaxValue)
    val capped = candidates(cap)
    assert(uncapped >= 60L * 59 / 2, // the 30% clique alone is quadratic
      s"expected boilerplate blowup, saw $uncapped candidates")
    assert(capped <= 5, s"df cap left $capped candidates — not sub-quadratic")

    // semantics under the cap: jaccard over the CAPPED postings — the
    // planted docs are 12 tokens → 10 shingles each, sharing the 9 that
    // exclude the differing last word → exactly 9/11
    val out = Dedup.ngramJaccardPairs(all, "doc_id", "text", 3, 0.5,
      maxShingleDf = cap).collect()
    graft.CacheScope.releaseAll()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1000L, 1001L)))
    val r = out.head
    assert(r.getAs[Long]("inter") == 9 && r.getAs[Double]("jaccard") == 9.0 / 11.0)
  }

  test("fuzzyDecontaminate candidate generation broadcasts the benchmark " +
      "bands — the corpus side never self-joins or shuffle-joins") {
    import spark.implicits._
    val docs = (0L until 300L)
      .map(i => (i, s"filler words number ${i} padding the corpus body"))
      .toDF("doc_id", "text")
    val bench = Seq((9000L, "filler words number 7 padding the corpus body"))
      .toDF("doc_id", "text")
    val plan = Dedup.fuzzyDecontaminate(docs, bench, "doc_id", "text",
        3, 64, 16, 0.8)
      .queryExecution.executedPlan.toString
    graft.CacheScope.releaseAll()
    // the band-bucket candidate join must be broadcast (bench side tiny)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // and no plan node joins the corpus banding relation to itself via a
    // shuffled join on (band, bucket) — the self-join shape would show as
    // a SortMergeJoin over the two banding branches
    assert(!plan.contains("SortMergeJoin"),
      s"unexpected shuffle join in decontamination plan:\n$plan")
  }

  test("saltPlanner: ceil(count/target) salts, exact shares, hot flag, " +
      "top-k by count") {
    import spark.implicits._
    // keys: a x 10, b x 4, c x 1 — target 4 → a needs 3 salts
    val df = (Seq.fill(10)("a") ++ Seq.fill(4)("b") :+ "c").toDF("k")
    val out = Skew.saltPlanner(df, "k", targetPerKey = 4L, topK = 2)
      .collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a", "b"))
    val a = out(0)
    assert(a.getAs[Long]("n_rows") == 10L)
    assert(a.getAs[Long]("share_micro") == 10L * 1000000L / 15L)
    assert(a.getAs[Long]("salts") == 3L && a.getAs[Boolean]("is_hot"))
    val b = out(1)
    assert(b.getAs[Long]("salts") == 1L && !b.getAs[Boolean]("is_hot"))
  }
}
