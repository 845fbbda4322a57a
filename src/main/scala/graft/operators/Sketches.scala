package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sketch-based scale paths for aggregations whose exact forms need a
  * full shuffle or sort. Together with the HLL distinct sketch (q46),
  * the Bloom incremental-dedup probe, MinHash/SimHash signatures, and
  * the winnowing fingerprints, this completes the classic sketch family.
  *
  * Sketch results are APPROXIMATE — they get rows-only driver checks,
  * and their error contracts are enforced by ScalaTest bounds against
  * the exact operators (the same twin pattern as q31 IVF vs q24 exact).
  */
object Sketches {

  /** Heavy hitters with Count-Min-Sketch verification: the exact top-k
    * tokens (one aggregate — the candidate set), each probed against a
    * CMS of the FULL token stream. At 100 TB the exact aggregate over
    * all distinct tokens is the expensive part; the CMS is one pass with
    * fixed memory (d·w counters), so the scale deployment keeps only a
    * cheap candidate-generation pass (per-partition local top-m, or a
    * prior vocabulary) and recounts candidates through the sketch.
    * CMS contract: estimate >= true count, and <= true + eps·N with
    * probability >= confidence — the spec enforces both sides.
    *
    * Returns (token, n_exact, n_cms, n_total), exact-descending —
    * `n_total` (the stream length N) rides along so callers can evaluate
    * the eps·N overshoot bound declaratively (the q74 oracle emits the
    * bound CHECK, not the engine-specific sketch values).
    */
  def heavyHittersCms(df: DataFrame, textCol: String, k: Int,
      eps: Double, confidence: Double): DataFrame = {
    // the token stream feeds two actions (CMS build, exact aggregate) —
    // cache it so the tokenize/explode scan runs once
    val toks = graft.CacheScope.register(
      graft.Parallelism.fanOut(df.select(col(textCol).as("__t")))
        .select(explode(split(lower(trim(col("__t"))), "\\s+")).as("token"))
        .filter(col("token") =!= ""))
    val cms = toks.stat.countMinSketch(col("token"), eps, confidence, 42)
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(cms)
    val top = toks.groupBy("token").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("token"))
      .limit(k)
    import org.apache.spark.sql.Encoders
    val probe = top.select(col("token"), col("n_exact")).as(
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
    probe.map { case (t, n) => (t, n, bc.value.estimateCount(t)) }(
        Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong))
      .toDF("token", "n_exact", "n_cms")
      .withColumn("n_total", lit(cms.totalCount()))
      .orderBy(col("n_exact").desc, col("token"))
  }

  /** Approximate per-group quantiles: `approx_percentile` with an
    * explicit `accuracy` knob (rank error <= n/accuracy) — the scale
    * path beside q37's exact `percentile`, which buffers every value
    * per group. Output shape mirrors the exact form so the two are
    * drop-in swappable; the spec bounds the rank error against the
    * exact quantiles.
    */
  def approxQuantilesByGroup(df: DataFrame, groupCol: String,
      valCol: String, accuracy: Int): DataFrame =
    df.groupBy(groupCol)
      .agg(expr(s"approx_percentile($valCol, 0.5, $accuracy)").as("p50"),
        expr(s"approx_percentile($valCol, 0.9, $accuracy)").as("p90"),
        max(col(valCol)).as("max_val"))

  /** Grouped DataSketches-HLL distincts with a MERGE proof: one sketch
    * per group, the global count from `hll_union_agg` over the per-group
    * sketches — the property that makes sketches the 100 TB answer to
    * COUNT(DISTINCT): per-partition/per-day sketches are built once and
    * re-aggregated to ANY rollup without touching raw data again
    * (exact distincts cannot merge: |A ∪ B| ≠ |A| + |B|).
    *
    * The sketch registers are engine-specific, so the relation emits the
    * error CONTRACT as a boolean next to the exact count (the q46
    * pattern): |est − exact| ≤ exact/20 + 10 — ≥ 3σ of the lgK = 12
    * default (rsd ≈ 1.6 %) plus absolute slack for near-exact sparse
    * mode. Returns one row per group plus an `ALL` row whose estimate
    * came ONLY from the merged per-group sketches.
    */
  def distinctSketchMerged(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val sk = graft.CacheScope.register(
      df.filter(col(groupCol).isNotNull)
        .groupBy(col(groupCol).cast("string").as("g"))
        .agg(hll_sketch_agg(col(valCol)).as("__sk"),
          countDistinct(col(valCol)).as("exact_distinct")))
    def ok(est: org.apache.spark.sql.Column,
        exact: org.apache.spark.sql.Column) =
      (abs(est - exact) * 20 <= exact + 200).as("bound_ok")
    val per = sk.select(col("g"), col("exact_distinct"),
      ok(hll_sketch_estimate(col("__sk")), col("exact_distinct")))
    val glob = sk.agg(
        hll_sketch_estimate(hll_union_agg(col("__sk"))).as("__est"))
      .crossJoin(broadcast(df.filter(col(groupCol).isNotNull)
        .agg(countDistinct(col(valCol)).as("exact_distinct"))))
      .select(lit("ALL").as("g"), col("exact_distinct"),
        ok(col("__est"), col("exact_distinct")))
    per.unionByName(glob).orderBy("g")
  }

  /** PAIRWISE DISTINCT-INTERSECTION via HLL inclusion–exclusion —
    * "how many users do every two event segments SHARE?", the audience-
    * overlap question that at 100 TB is answered from the per-segment
    * sketches alone (|A∩B| ≈ est(A) + est(B) − est(A∪B), the union
    * being one `hll_union` of already-built sketches — no re-scan, no
    * distinct join). Inclusion–exclusion COMPOUNDS the three sketch
    * errors, so the enforced contract is correspondingly wider:
    * |est − exact| · 20 ≤ exact_a + exact_b + exact_union + 600 (each
    * constituent sketch at the q46/q231 ±5%+slack budget).
    *
    * The oracle-checked surface is the exact counts + the bound verdict
    * (the q231 convention — the estimate itself is engine-specific);
    * the exact intersection rides a distinct-pair self-join that exists
    * ONLY to adjudicate the sketch (the production path at scale is the
    * sketch alone).
    *
    * Scale shape: one sketch+distinct aggregate per group, a broadcast
    * |groups|²-pair self-join of the |groups|-row sketch table, and a
    * distinct-grid self-join keyed on the value for the exact check.
    */
  def hllIntersection(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val base = graft.CacheScope.register(
      df.filter(col(groupCol).isNotNull && col(valCol).isNotNull)
        .select(col(groupCol).cast("string").as("g"), col(valCol).as("v"))
        .distinct())
    val sk = graft.CacheScope.register(
      base.groupBy("g")
        .agg(hll_sketch_agg(col("v")).as("__sk"),
          count(lit(1)).as("nd")))
    val pairs = sk.as("a").join(broadcast(sk.as("b")),
        col("a.g") < col("b.g"))
      .select(col("a.g").as("group_a"), col("b.g").as("group_b"),
        col("a.nd").as("exact_a"), col("b.nd").as("exact_b"),
        (hll_sketch_estimate(col("a.__sk")) +
          hll_sketch_estimate(col("b.__sk")) -
          hll_sketch_estimate(hll_union(col("a.__sk"), col("b.__sk"))))
          .as("__est"))
    val inter = base.as("x").join(base.as("y"),
        col("x.v") === col("y.v") && col("x.g") < col("y.g"))
      .groupBy(col("x.g").as("group_a"), col("y.g").as("group_b"))
      .agg(count(lit(1)).as("__ei"))
    pairs.join(inter, Seq("group_a", "group_b"), "left")
      .select(col("group_a"), col("group_b"), col("exact_a"),
        col("exact_b"),
        coalesce(col("__ei"), lit(0L)).as("exact_inter"),
        (abs(col("__est") - coalesce(col("__ei"), lit(0L))) * 20 <=
          col("exact_a") + col("exact_b") +
          (col("exact_a") + col("exact_b") -
            coalesce(col("__ei"), lit(0L))) + 600).as("bound_ok"))
      .orderBy("group_a", "group_b")
  }

  /** SLIDING 7-DAY DISTINCT USERS from MERGEABLE daily sketches — the
    * rolling-uniques dashboard series, built the only way it scales:
    * one HLL sketch per day, each window estimate a UNION of seven
    * daily sketches (sketches are mergeable; raw sets are not — the
    * exact rolling distinct at 100 TB would re-scan a week of data per
    * day). The exact counts ride a calendar-bounded 7-way fan-out of
    * the distinct (day, user) grid and exist to ADJUDICATE the sketch
    * (the q231/q303 convention: exact values + the bound verdict are
    * the oracle surface; the estimate is engine-specific).
    *
    * Scale shape: one distinct (day, user) aggregate; daily sketches
    * are a |days|-row relation; the window union re-aggregates ≤ 7
    * sketch rows per day; the exact side fans each (day, user) pair to
    * ≤ 7 rows — linear, never quadratic.
    *
    * Output per day: (day, exact_1d, exact_7d, bound_ok), ordered.
    */
  def slidingDistinct(df: DataFrame, tsCol: String, userCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1)
    val pairs = graft.CacheScope.register(
      df.filter(col(tsCol).isNotNull && col(userCol).isNotNull)
        .select(col(tsCol).cast("date").as("d"), col(userCol).as("u"))
        .distinct())
    val bounds = pairs.agg(max("d").as("__hi"))
    val fan = pairs.crossJoin(broadcast(bounds))
      .select(explode(sequence(lit(0), lit(windowDays - 1))).as("off"),
        col("d"), col("u"), col("__hi"))
      .select(date_add(col("d"), col("off")).as("day"), col("u"),
        col("__hi"))
      .filter(col("day") <= col("__hi"))
    val exact = fan.groupBy("day")
      .agg(countDistinct(col("u")).as("exact_7d"))
    val daily = graft.CacheScope.register(
      pairs.groupBy(col("d").as("day"))
        .agg(count(lit(1)).as("exact_1d"),
          hll_sketch_agg(col("u")).as("__sk")))
    val skFan = daily.crossJoin(broadcast(bounds))
      .select(explode(sequence(lit(0), lit(windowDays - 1))).as("off"),
        col("day"), col("__sk"), col("__hi"))
      .select(date_add(col("day"), col("off")).as("day"), col("__sk"),
        col("__hi"))
      .filter(col("day") <= col("__hi"))
      .groupBy("day")
      .agg(hll_sketch_estimate(hll_union_agg(col("__sk"))).as("__est"))
    daily.select(col("day"), col("exact_1d"))
      .join(exact, "day").join(skFan, "day")
      .select(col("day"), col("exact_1d"), col("exact_7d"),
        (abs(col("__est") - col("exact_7d")) * 20 <=
          col("exact_7d") + 200).as("bound_ok"))
      .orderBy("day")
  }

  /** KMV (k-minimum-values) DISTINCT-COUNT sketch with a VALUE-EXACT
    * oracle — unlike HLL (whose register layout is engine-private, so
    * q46/q231 can only gate an error BOUND), the KMV estimate is a pure
    * function of the k smallest seeded-h60 hashes: both engines compute
    * the identical bottom-k, so the estimate itself is replayable. The
    * Bar-Yossef estimator on the integer grid: with hashes uniform in
    * [0, 2^60), est = (k-1) * 2^60 div h_(k) — one truncating DECIMAL
    * division. Mergeable by construction (union = bottom-k of the
    * pooled hash sets), the same incremental-sketch license as q290.
    *
    * Scale shape: one distinct-hash grid per group (map-side combined),
    * one partitioned rank window over it (the per-group grid is bounded
    * by the distinct-key domain, never rows), one |groups|-row join to
    * the exact counts it adjudicates against.
    *
    * Output per group: (group, k, kth_h, est_distinct, exact_distinct,
    * rel_err_micro), ordered by group.
    */
  def kmvDistinct(df: DataFrame, groupCol: String, keyCol: String,
      k: Int, salt: String): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2: $k")
    val hashes = df.filter(col(groupCol).isNotNull && col(keyCol).isNotNull)
      .select(col(groupCol).as("g"),
        graft.functions.Hashing.h60(
          concat(lit(s"$salt:"), col(keyCol).cast("string"))).as("h"))
      .distinct()
    val exact = hashes.groupBy("g").agg(count(lit(1)).cast("long")
      .as("exact_distinct"))
    val w = Window.partitionBy("g").orderBy("h")
    val kth = hashes.withColumn("rk", row_number().over(w))
      .filter(col("rk") === k)
      .select(col("g"), col("h").as("kth_h"))
    exact.join(kth, Seq("g"), "left")
      .select(col("g").as(groupCol), lit(k.toLong).as("k"), col("kth_h"),
        when(col("kth_h").isNotNull, expr(
          s"cast((cast(${k - 1} as decimal(38,0)) * 1152921504606846976)" +
            " div kth_h as bigint)")).as("est_distinct"),
        col("exact_distinct"))
      .withColumn("rel_err_micro",
        when(col("est_distinct").isNotNull && col("exact_distinct") > 0,
          expr("(abs(est_distinct - exact_distinct) * 1000000L)" +
            " div exact_distinct")))
      .orderBy(groupCol)
  }

  /** The Space-Saving summary (Metwally et al. 2005) in batch form via
    * the MERGE LAW (Agarwal et al. 2012, mergeable summaries), which
    * gives its math a value-exact oracle. The stream-order-dependent
    * sequential admit/evict is NOT replayable across engines; the merge
    * law is: a Space-Saving-type summary is m counters (token,
    * count ≥ true, err with count − err ≤ true) plus an eviction FLOOR
    * f bounding any absent token's true count; two summaries merge by
    *   count = Σ sides (own count, or that side's floor when absent),
    *   err   = Σ sides (own err,   or that side's floor when absent),
    * then truncating to the top-m by (count desc, token). This operator
    * builds the two side summaries (even/odd `idCol`) DETERMINISTICALLY
    * from exact side counts (count = true + floor, err = floor, floor =
    * the (m+1)-st largest side count — the tightest valid SS-type
    * summary of a known multiset), applies the merge law, and
    * value-checks the contracts the streaming operator promises:
    *   - state bound: ≤ m merged counters per bucket;
    *   - never-under: merged count ≥ exact whole-corpus count;
    *   - lower bound: merged count − err ≤ exact count;
    *   - retention: every token with exact bucket count >
    *     N_b/m + f_even + f_odd survives the merge (the tight threshold
    *     from the actual floors, not the loose 2N/m).
    * Tokens hash to buckets by the engine-replayable h60, so the whole
    * construction — counters, errors, floors, checks — replays in SQL.
    *
    * Scale shape: one exploded (bucket, side, token) aggregate with
    * map-side combine (the only vocabulary-sized shuffle); per-side
    * ranks partition by (bucket, side); floors are a buckets×2-row
    * relation (broadcast); the merge join carries ≤ 2m rows per bucket.
    *
    * Output per bucket: (bucket, n_bucket, n_tokens_exact, n_counters,
    * floor_even, floor_odd, top_token, top_count, top_err,
    * n_bound_violations, n_retention_misses, state_ok, bounds_ok,
    * retention_ok), ordered by bucket.
    */
  def spaceSavingMergeCheck(df: DataFrame, idCol: String, textCol: String,
      buckets: Int, m: Int): DataFrame = {
    require(buckets >= 1 && m >= 1, s"buckets=$buckets, m=$m")
    val toks = df
      .filter(col(textCol).isNotNull && col(idCol).isNotNull)
      .select((col(idCol) % 2 === 0).as("even"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(pmod(graft.functions.Hashing.h60(col("tok")),
        lit(buckets.toLong)).as("b"), col("even"), col("tok"))
    val sideCounts = graft.CacheScope.register(
      toks.groupBy("b", "even", "tok")
        .agg(count(lit(1)).cast("long").as("c")))
    val wSide = Window.partitionBy("b", "even")
      .orderBy(col("c").desc, col("tok"))
    val ranked = graft.CacheScope.register(
      sideCounts.withColumn("rk", row_number().over(wSide)))
    val floors = graft.CacheScope.register(
      ranked.groupBy("b", "even")
        .agg(coalesce(max(when(col("rk") === m + 1, col("c"))), lit(0L))
            .cast("long").as("f"),
          sum("c").cast("long").as("n_side")))
    val summ = ranked.filter(col("rk") <= m)
      .join(floors, Seq("b", "even"))
      .select(col("b"), col("even"), col("tok"),
        (col("c") + col("f")).as("cs"), col("f").as("es"))
    val sE = summ.filter(col("even"))
      .select(col("b"), col("tok"), col("cs").as("ce"), col("es").as("ee"))
    val sO = summ.filter(!col("even"))
      .select(col("b"), col("tok"), col("cs").as("co"), col("es").as("eo"))
    // bucket spine with both side floors (0 where a side saw no tokens)
    val spine = df.sparkSession.range(buckets).select(col("id").as("b"))
      .join(floors.filter(col("even"))
        .select(col("b"), col("f").as("fe")), Seq("b"), "left")
      .join(floors.filter(!col("even"))
        .select(col("b"), col("f").as("fo")), Seq("b"), "left")
      .select(col("b"), coalesce(col("fe"), lit(0L)).as("fe"),
        coalesce(col("fo"), lit(0L)).as("fo"))
    val wMerged = Window.partitionBy("b").orderBy(col("cm").desc, col("tok"))
    val merged = graft.CacheScope.register(
      sE.join(sO, Seq("b", "tok"), "full_outer")
        .join(broadcast(spine), Seq("b"))
        .select(col("b"), col("tok"),
          (coalesce(col("ce"), col("fe")) + coalesce(col("co"), col("fo")))
            .as("cm"),
          (coalesce(col("ee"), col("fe")) + coalesce(col("eo"), col("fo")))
            .as("em"))
        .withColumn("rk", row_number().over(wMerged))
        .filter(col("rk") <= m))
    val exact = graft.CacheScope.register(
      sideCounts.groupBy("b", "tok").agg(sum("c").cast("long").as("cx")))
    val nb = exact.groupBy("b").agg(sum("cx").cast("long").as("n_bucket"),
      count(lit(1)).cast("long").as("n_tokens_exact"))
    val checks = merged.join(exact, Seq("b", "tok"))
      .groupBy("b")
      .agg(count(lit(1)).cast("long").as("n_counters"),
        sum(when(col("cm") < col("cx") ||
          col("cm") - col("em") > col("cx"), 1L).otherwise(0L))
          .cast("long").as("n_bound_violations"),
        max(when(col("rk") === 1, col("tok"))).as("top_token"),
        max(when(col("rk") === 1, col("cm"))).cast("long").as("top_count"),
        max(when(col("rk") === 1, col("em"))).cast("long").as("top_err"))
    // retention: heavy exact tokens (cx·m > n_bucket + m·(fe+fo)) that
    // the merge dropped — must be none
    val misses = exact.join(merged.select("b", "tok"), Seq("b", "tok"),
        "left_anti")
      .join(broadcast(spine), Seq("b"))
      .join(nb.select("b", "n_bucket"), Seq("b"))
      .filter(col("cx") * m > col("n_bucket") +
        lit(m.toLong) * (col("fe") + col("fo")))
      .groupBy("b").agg(count(lit(1)).cast("long").as("n_retention_misses"))
    broadcast(spine).join(nb, Seq("b"), "left")
      .join(checks, Seq("b"), "left").join(misses, Seq("b"), "left")
      .select(col("b").as("bucket"),
        coalesce(col("n_bucket"), lit(0L)).as("n_bucket"),
        coalesce(col("n_tokens_exact"), lit(0L)).as("n_tokens_exact"),
        coalesce(col("n_counters"), lit(0L)).as("n_counters"),
        col("fe").as("floor_even"), col("fo").as("floor_odd"),
        col("top_token"), col("top_count"), col("top_err"),
        coalesce(col("n_bound_violations"), lit(0L))
          .as("n_bound_violations"),
        coalesce(col("n_retention_misses"), lit(0L))
          .as("n_retention_misses"))
      .withColumn("state_ok", col("n_counters") <= m)
      .withColumn("bounds_ok", col("n_bound_violations") === 0L)
      .withColumn("retention_ok", col("n_retention_misses") === 0L)
      .orderBy("bucket")
  }
}
