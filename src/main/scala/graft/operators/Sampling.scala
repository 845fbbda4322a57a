package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Deterministic sampling / splitting for training-data pipelines.
  *
  * `randomSplit` is the wrong tool for corpus curation: its assignment
  * depends on partitioning and reshuffles between runs, so a document can
  * change splits when the cluster size changes — leaking eval data into
  * training. Hash-based assignment is a pure function of the ROW (id +
  * salt), so any engine, any partitioning, any day produces the same
  * split; the salt rotates assignments for a new experiment without
  * touching the data.
  */
object Sampling {

  /** Salted row hash — the single idiom every sampling op derives from
    * (one definition, so split/sample/stratified can never silently
    * diverge from each other or their oracle mirrors).
    */
  private def saltedH60(idCol: Column, salt: String): Column =
    Hashing.h60(concat(lit(s"$salt:"), idCol.cast("string")))

  /** 0..9999 assignment bucket: h60 of `salt:id` mod 10k — uniform (md5),
    * deterministic, oracle-replayable.
    */
  def bucket(idCol: Column, salt: String): Column =
    pmod(saltedH60(idCol, salt), lit(10000))

  /** Assign each row to the first split whose cumulative fraction covers
    * its bucket, e.g. `Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)`.
    * Fractions must sum to ~1 (the last split absorbs rounding).
    */
  def hashSplit(df: DataFrame, idCol: String, salt: String,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1: $splits")
    val b = bucket(col(idCol), salt)
    val cuts = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
      .map(f => math.round(f * 10000).toInt)
    val assign = splits.init.zip(cuts.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), cut), rest) =>
      when(b < cut, name).otherwise(rest)
    }
    df.withColumn("split", assign)
  }

  /** Deterministic mixture resampling: per-group keep rates, the "hit the
    * target domain mixture" op (downsample over-represented sources,
    * keep the rest). Rates are fractions in [0, 1] by group value;
    * groups absent from `rates` use `defaultRate`. Membership is a pure
    * row function (same salted hash as every sampler here), so the
    * mixture is reproducible across runs, engines, and partitionings,
    * and composes with [[hashSplit]] without correlation (different
    * salts → independent md5 families). Pure filter — no shuffle.
    */
  def mixtureSample(df: DataFrame, idCol: String, groupCol: String,
      rates: Seq[(String, Double)], defaultRate: Double,
      salt: String): DataFrame = {
    (rates.map(_._2) :+ defaultRate).foreach(r =>
      require(r >= 0 && r <= 1, s"rate out of [0,1]: $r"))
    val cut = rates.foldRight(lit(math.round(defaultRate * 10000).toInt): Column) {
      case ((g, r), rest) =>
        when(col(groupCol) === g, lit(math.round(r * 10000).toInt)).otherwise(rest)
    }
    df.filter(bucket(col(idCol), salt) < cut)
  }

  /** Deterministic stratified sample: up to `perStratum` rows from every
    * stratum, chosen by hash rank (h60 of salt:id, id tiebreak) — the
    * "N examples per language/source" pipeline op. Like [[mixtureSample]],
    * membership is a pure row function given the stratum's population,
    * so reruns and engines agree.
    *
    * Scale shape: the winners are a bounded
    * [[graft.functions.MinKPairsAggregator]] bottom-k (≤ perStratum rows
    * per stratum per task reach the shuffle — EXACT long comparison on
    * the 60-bit hash, which does not fit a double mantissa), then a
    * broadcast semi-join recovers the full rows. The previous
    * `row_number().over(partitionBy(stratum))` form sorted each
    * stratum's ENTIRE corpus slice in one task — with 15 strata over
    * 100 TB that is ~7 TB through a single partition, the q97/q91
    * scale-killer shape. Requires `idCol` values unique per stratum (they
    * are document ids).
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      perStratum: Int, salt: String): DataFrame = {
    val bottomK = udaf(new graft.functions.MinKPairsAggregator(perStratum))
    val winners = df
      .select(col(strataCol).as("__st"),
        saltedH60(col(idCol), salt).as("__h"), col(idCol).cast("long").as("__id"))
      .groupBy("__st")
      .agg(bottomK(col("__h"), col("__id")).as("__top"))
      .select(col("__st"), explode(col("__top")).as("__e"))
      .select(col("__st"), col("__e._2").as("__id"))
    df.join(broadcast(winners),
      col(strataCol) <=> col("__st") && col(idCol).cast("long") === col("__id"),
      "left_semi")
  }

  /** Deterministic global shuffle into write shards — the LAST step of
    * training-data prep: break crawl/source locality so every training
    * batch is an unbiased corpus sample. A true global sort by random key
    * is the naive form; at 100 TB you want the SHARDED form the data
    * loader actually consumes: shard = pmod(h60(salt:id), shards) spreads
    * rows uniformly, and the within-shard position orders by the salted
    * hash — so (shard, pos) is a deterministic permutation of the corpus,
    * reproducible bit-for-bit from (salt, shards) alone, with each
    * shard writable in parallel and the per-shard window bounded by
    * corpus/shards (never a single global sort task).
    *
    * Returns the input plus (shard, pos) — pos is 1-based within shard.
    */
  def shuffleIntoShards(df: DataFrame, idCol: String, shards: Int,
      salt: String): DataFrame = {
    require(shards > 0, s"shard count must be positive: $shards")
    val h = saltedH60(col(idCol), salt)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(h, lit(shards.toLong)))
      .orderBy(h, col(idCol))
    df.withColumn("shard", pmod(h, lit(shards.toLong)))
      .withColumn("pos", row_number().over(w))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    * each row gets key = ln(u)/w for a uniform u and weight w, and the
    * k largest keys are the sample — inclusion odds scale with weight,
    * no replacement, single pass. Deterministic twist: u is the salted
    * row hash mapped into (0, 1], so the sample is a pure row function
    * (stable across runs/partitionings/engines) like every sampler here.
    *
    * Engine-exactness: u = (h+1)/2^60 means ln(u) = ln(h+1) - 60·ln 2 —
    * a log of an INTEGER, which both engines round to micro-units before
    * use (the q62 libm-proofing trick), minus an integer constant. The
    * key is then (integer difference)/w: one exact double division, so
    * ranking agrees bit-for-bit cross-engine. Weights must be positive
    * integers (doc length, quality grade); id breaks ties.
    *
    * Scale shape: keys are a pure projection; the top-k is a single
    * TopK sort (Spark plans global-limit-after-local-limit, so each
    * task forwards at most k rows — no full sort at 100 TB).
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int, salt: String): DataFrame = {
    require(k > 0, s"sample size must be positive: $k")
    // round(60*ln(2)*1e6): ln(2^60) in the same micro-unit lattice
    val ln2to60Micro = 41588831L
    val lnMicro = round(log(saltedH60(col(idCol), salt) + lit(1)) * lit(1e6))
      .cast("long")
    val key = (lnMicro - lit(ln2to60Micro)).cast("double") /
      col(weightCol).cast("double")
    // sort+limit plans as TakeOrderedAndProject: each task forwards at
    // most k rows, the driver merges — never a global sort. (A global
    // row_number window here would funnel ALL rows through one task.)
    // enforce the documented positive-weight contract: a zero/negative
    // weight would make the key ±Infinity or NaN, and NaN sorts above
    // every double in a descending Spark sort — silently admitting the
    // invalid row. Drop such rows instead (they carry no sampling mass).
    val top = df.filter(col(weightCol).cast("double") > 0)
      .withColumn("__key", key)
      .orderBy(col("__key").desc, col(idCol))
      .limit(k)
    // ranking the k survivors is a k-row window — driver-trivial
    top.withColumn("sample_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__key").desc, col(idCol))))
      .drop("__key")
  }

  /** Per-group quota cap by an explicit QUALITY ordering — the web-crawl
    * "no domain may dominate the corpus" rule (cap documents per
    * source/domain, keeping the best-ranked ones), vs [[stratifiedSample]]
    * which keeps a hash-random subset. `ordering` must be deterministic
    * and total within a group (add an id tiebreak) or survivors are
    * partition-order-dependent. Adds `rank_in_group` (1-based) to the
    * survivors. One shuffle on the group column; rank state is per-group,
    * so group-count skew — not data size — bounds a task (salt the group
    * upstream if one domain is half the crawl).
    */
  def capPerGroup(df: DataFrame, groupCol: String, ordering: Seq[Column],
      cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive: $cap")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(ordering: _*)
    df.withColumn("rank_in_group", row_number().over(w))
      .filter(col("rank_in_group") <= cap)
  }

  /** Temperature-scaled mixture weights (the multilingual-balancing rule:
    * sample source i proportional to size_i^α with α < 1, so small
    * sources are UP-weighted relative to their share — α = 1 is natural
    * sampling, α → 0 uniform). Fixed at α = 1/2 because sqrt is a single
    * correctly-rounded IEEE op in every engine, which makes the weights
    * engine-exact without a libm-dependent pow(); the weight is then
    * quantized to micro-units so the normalizing sum is an exact integer
    * in any summation order. Targets are floor-allocated from the
    * micro-weight share of `totalTarget` — one more exact integer
    * division per row.
    *
    * Input is the per-source aggregate (one row per source). Returns
    * (keyCol, sizeCol, w_micro, target) — Σ target ≤ totalTarget (floor
    * remainders are deliberately left unassigned; deterministic).
    */
  def temperatureWeights(df: DataFrame, keyCol: String, sizeCol: String,
      totalTarget: Long): DataFrame = {
    require(totalTarget >= 0, s"totalTarget must be non-negative: $totalTarget")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    df.select(col(keyCol), col(sizeCol).cast("long").as(sizeCol))
      .withColumn("w_micro", round(sqrt(col(sizeCol).cast("double")) * 1e6).cast("long"))
      .withColumn("__wsum", sum(col("w_micro")).over(wAll))
      .withColumn("target",
        when(col("__wsum") === 0, lit(0L)).otherwise(
          floor(lit(totalTarget).cast("double") * col("w_micro") / col("__wsum"))
            .cast("long")))
      .select(col(keyCol), col(sizeCol), col("w_micro"), col("target"))
  }

  /** WATER-FILLING token-budget allocation across sources: find the
    * largest common cap `c` such that Σ min(size_i, c) ≤ budget, and
    * allocate min(size_i, c) to each source — the standard way to fit a
    * heterogeneous corpus into a fixed training-token budget without
    * letting the biggest crawl drown the mixture (sources below the
    * water level keep everything; sources above are clipped to it).
    *
    * Closed form, no iteration: with sources sorted by size ascending,
    * the fill level at tier i is tᵢ = ⌊(budget − Σ_{j<i} size_j) /
    * (N − i + 1)⌋; the cap is tᵢ of the FIRST tier where tᵢ < sizeᵢ
    * (min over a (i, tᵢ) struct — NOT min over tᵢ, which would pick a
    * later tier's meaningless negative level), or no cap if every tier
    * is fully funded. Integer arithmetic throughout; the one division is
    * a bounded-denominator floor, IEEE-safe in any engine.
    *
    * `df` is a per-source AGGREGATE (one row per source — cardinality
    * ≪ data), so the single-partition ordering window is a few thousand
    * rows at worst; the 100 TB work happened in the upstream groupBy
    * that produced it. Returns (keyCol, sizeCol, allocated).
    */
  /** Repetition-aware token-budget allocation — the multi-epoch data
    * schedule of modern pretraining runs: a source may be repeated up to
    * `maxEpochsMicro/1e6` passes, so its CAPACITY is
    * ⌊size·maxEpochsMicro/1e6⌋ tokens and the budget water-fills over
    * capacities ([[waterFillAllocation]]'s closed form, unchanged)
    * instead of raw sizes — small high-quality sources repeat while the
    * big crawl is clipped at the water level. epochs_micro is the
    * resulting passes-per-source in micro units (round-half-up of
    * alloc/size — exact integer cross-multiply, one bounded-denominator
    * floor, the ratioMicro contract).
    *
    * Like its base op this runs on a per-source AGGREGATE (one row per
    * source); capacity uses a double multiply of exact integers
    * (size < 2^53), deterministic in any engine.
    *
    * Returns (keyCol, sizeCol, capacity, allocated, epochs_micro).
    */
  def repetitionSchedule(df: DataFrame, keyCol: String, sizeCol: String,
      budget: Long, maxEpochsMicro: Long): DataFrame = {
    require(maxEpochsMicro > 0, s"maxEpochsMicro must be positive: $maxEpochsMicro")
    val caps = df
      .select(col(keyCol), col(sizeCol).cast("long").as(sizeCol))
      .withColumn("capacity",
        floor(col(sizeCol).cast("double") * maxEpochsMicro / 1e6).cast("long"))
    waterFillAllocation(caps.select(col(keyCol), col("capacity")),
        keyCol, "capacity", budget)
      .join(broadcast(caps.select(col(keyCol), col(sizeCol))), Seq(keyCol))
      .select(col(keyCol), col(sizeCol), col("capacity"), col("allocated"),
        when(col(sizeCol) =!= 0,
          floor((col("allocated") * 2000000L + col(sizeCol)) /
            (col(sizeCol) * 2L)).cast("long")).otherwise(lit(0L))
          .as("epochs_micro"))
  }

  def waterFillAllocation(df: DataFrame, keyCol: String, sizeCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be non-negative: $budget")
    val wOrd = org.apache.spark.sql.expressions.Window
      .orderBy(col(sizeCol), col(keyCol))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    df.select(col(keyCol), col(sizeCol).cast("long").as(sizeCol))
      .withColumn("__i", row_number().over(wOrd))
      .withColumn("__cumprev", coalesce(
        sum(col(sizeCol)).over(wOrd.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__ti", floor(
        (lit(budget) - col("__cumprev")).cast("double") /
          (col("__n") - col("__i") + 1).cast("double")).cast("long"))
      .withColumn("__cap", min(when(col("__ti") < col(sizeCol),
        struct(col("__i"), col("__ti").as("ti")))).over(wAll).getField("ti"))
      .select(col(keyCol), col(sizeCol),
        when(col("__cap").isNull, col(sizeCol))
          .otherwise(least(col(sizeCol), col("__cap"))).as("allocated"))
  }

  /** EFFECTIVE SAMPLE SIZE of an importance-weighted corpus — Kish's
    * ESS = (Σw)²/Σw², the one number that says whether a DSIR/mixture
    * reweighting (q224/q60) still carries real diversity or has
    * collapsed onto a handful of documents (ESS ≪ n ⇒ the "sampled"
    * corpus is effectively those few docs repeated). Weights enter as
    * LOG micro values; they are max-stabilized (w = exp(logw − max) ∈
    * (0, 1]) and rounded ONCE onto the 10⁻⁶ grid — the micro-exp
    * convention — so both sums are exact integers and ESS is a pinned
    * IEEE ratio. ESS is invariant to the common exp(max) factor, so
    * stabilization changes nothing mathematically while keeping every
    * exp argument ≤ 0 (no overflow at any weight scale).
    *
    * Scale shape: one 1-row max aggregate broadcast back, one exact
    * integer sum pass. Output ONE row:
    * (n, max_logw_micro, sum_w_micro, sum_w2_micro2, ess, ess_ratio).
    */
  def effectiveSampleSize(weights: DataFrame, logwCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val base = weights.filter(col(logwCol).isNotNull)
      .select(col(logwCol).cast("long").as("lw"))
    val mx = base.agg(max("lw").as("mlw"))
    val w = round(exp((col("lw") - col("mlw")).cast("double") / lit(1e6))
      * 1e6).cast("long")
    val agg = base.crossJoin(broadcast(mx))
      .select(w.as("w"), col("mlw"))
      .agg(count(lit(1)).as("n"), max("mlw").as("max_logw_micro"),
        sum(dec(col("w"))).cast("decimal(38,0)").as("sw"),
        sum(dec(col("w")) * dec(col("w"))).cast("decimal(38,0)").as("sw2"))
    val ess = dbl(col("sw")) * dbl(col("sw")) / dbl(col("sw2"))
    agg.select(col("n"), col("max_logw_micro"),
      col("sw").cast("long").as("sum_w_micro"),
      col("sw2").cast("long").as("sum_w2_micro2"),
      when(col("sw2") > 0, ess).as("ess"),
      when(col("sw2") > 0, ess / dbl(col("n"))).as("ess_ratio"))
  }

  /** CLUSTER-CAP SAMPLING — keep at most `cap` documents per near-dup
    * CLUSTER (connected component of the pair relation), not per pair:
    * the training-mix dedup policy that preserves a little intra-cluster
    * diversity (cap > 1) where survivor-only dedup (q55's min-id pick)
    * keeps exactly one. Pairwise capping is not transitive — A~B, B~C
    * must cap {A,B,C} together even when A~C missed the threshold — so
    * the component, not the pair, is the capping unit.
    *
    * Survivors are the `cap` LOWEST-ID members of each component
    * (deterministic, engine-replayable); documents in no pair are
    * singleton components (their own id) and always survive.
    *
    * Scale shape: one CC fixpoint over the pair relation (O(E)/round,
    * diameter-bounded — [[graft.operators.Graphs.connectedComponents]]),
    * one left join of ids onto the labels, one per-component
    * row_number window (partitioned by component — never global).
    *
    * Returns (id, component, rk, kept) for every input id.
    */
  def clusterCapSample(ids: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    val comps = Graphs.connectedComponents(pairs, aCol, bCol)
    val withComp = ids.select(col(idCol).cast("long").as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component").orderBy("id")
    withComp.withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("kept", col("rk") <= cap)
  }

  /** CLUSTER-AWARE TRAIN/VAL SPLIT — the FIX for the leakage
    * [[graft.operators.Dedup.splitLeakage]] audits (q262): hash the
    * near-dup COMPONENT, not the document, so every member of a dup
    * cluster lands in the same split and no eval document has a
    * training-set near-duplicate. Assignment is the standard salted-h60
    * bucket on the component label — deterministic, partition-free,
    * oracle-replayable; singletons hash their own id (the component
    * label convention of [[clusterCapSample]]).
    *
    * Returns (id, component, bucket, split) with split = 'train' when
    * bucket < trainBp (basis points of 10000), else 'val'.
    */
  def clusterAwareSplit(ids: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, salt: String, trainBp: Int): DataFrame = {
    require(trainBp >= 0 && trainBp <= 10000, s"trainBp: $trainBp")
    val comps = Graphs.connectedComponents(pairs, aCol, bCol)
    ids.select(col(idCol).cast("long").as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
      .withColumn("bucket", bucket(col("component"), salt))
      .withColumn("split",
        when(col("bucket") < trainBp, lit("train")).otherwise(lit("val")))
  }
}
