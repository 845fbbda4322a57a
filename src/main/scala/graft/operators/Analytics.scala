package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytical queries over the warehouse (SURVEY.md §2.6-2.8) plus the
  * join/window/top-k surface Spark provides for free and the reference
  * delegates to BigQuery.
  *
  * Money/measure sums go through DECIMAL so results are exact and
  * reproducible regardless of partitioning / aggregation order — a double
  * sum would drift between runs (and between engines) at 100 TB.
  */
object Analytics {

  /** Exact, order-insensitive sum of a double measure: cast each value to
    * DECIMAL (deterministic per-row), sum exactly, return as double.
    */
  def exactSum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(24,$scale)")).cast("double")

  /** Q1 — the dashboard day-slice query
    * (`/root/reference/visualization/app.py:40-51`): projection + timestamp
    * range predicate + total sort. Filter and projection push down to the
    * parquet scan; the only shuffle is the final range-partitioned sort.
    */
  def daySlice(df: DataFrame, tsCol: String, startTs: String, endTs: String,
      cols: Seq[String], tieBreak: String): DataFrame =
    df.select(cols.map(col).toIndexedSeq: _*)
      .filter(col(tsCol) >= lit(startTs).cast("timestamp") &&
        col(tsCol) <= lit(endTs).cast("timestamp"))
      .orderBy(col(tsCol), col(tieBreak))

  /** Hourly tumbling aggregate (W5/C3): the batch form of the reference's
    * floor-to-hour loading spec. Partial aggregation map-side; one shuffle
    * on the (coarse) hour key.
    */
  def hourlyAgg(df: DataFrame, tsCol: String, measure: String): DataFrame =
    df.groupBy(date_trunc("hour", col(tsCol)).cast("timestamp_ntz").as("hour"))
      .agg(count(lit(1)).as("n"), exactSum(col(measure)).as("sum_value"))
      .orderBy("hour")

  /** Star-schema rollup: fact joined through two dimension hops, aggregated
    * by the coarsest attribute. Dimensions are tiny → explicit broadcast so
    * the fact table never shuffles for the joins; the single shuffle is the
    * final 5-group aggregate.
    */
  def revenueByRegion(orders: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame =
    orders
      .join(broadcast(customer.select("c_custkey", "c_nationkey")),
        orders("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(exactSum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy("r_name")

  /** Top-k entities by an exact-summed measure. Aggregate first (shuffle on
    * the key), then a k-row sort — never a global sort of the fact.
    */
  def topKByMeasure(fact: DataFrame, key: String, measure: String, k: Int): DataFrame =
    fact.groupBy(key)
      .agg(exactSum(col(measure)).as("revenue"), count(lit(1)).as("n"))
      .orderBy(col("revenue").desc, col(key))
      .limit(k)

  /** Per-key running total (window-function surface). DECIMAL accumulator →
    * result independent of the window implementation's summation tree.
    */
  def runningTotal(df: DataFrame, key: String, tsCol: String, measure: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), col(key),
      sum(col(measure).cast("decimal(24,2)")).over(w).cast("double").as("running_value"))
  }

  /** A3 — per-key partition summary (`transformations.py:107-115` builds
    * per-station sorted tables; at scale that materializes as
    * `write.partitionBy(key)`). The queryable summary: per-key count +
    * time extent.
    */
  def partitionSummary(df: DataFrame, key: String, tsCol: String): DataFrame =
    df.groupBy(key)
      .agg(count(lit(1)).as("n"), min(col(tsCol)).as("min_ts"), max(col(tsCol)).as("max_ts"))
      .orderBy(key)


  /** F6/D3 batch form — per-key watermark freshness filter
    * (`/root/reference/src/data_processing/kafka_stream.py:269-273`): given a
    * state relation `(key, wm)` of already-ingested high-water marks, keep
    * only records strictly newer than their key's mark; unseen keys pass.
    * State side is small (one row per key) → broadcast left join, the
    * incoming batch never shuffles.
    */
  def watermarkFilter(batch: DataFrame, state: DataFrame, key: String,
      tsCol: String): DataFrame = {
    val st = broadcast(state.withColumnRenamed(tsCol, "__wm"))
    batch.join(st, Seq(key), "left")
      .filter(col("__wm").isNull || col(tsCol) > col("__wm"))
      .drop("__wm")
  }

  /** First-order Markov transition matrix over per-entity event
    * sequences: for each (from, to) adjacent pair in `typeCol` ordered by
    * (`tsCol`, `tieCol`) within an entity, the pair count and the
    * conditional probability P(to | from) as an exact double division of
    * two exact counts.
    *
    * Scale shape: the only window runs PER ENTITY (`keyCol` partitions —
    * bounded by one entity's activity, never the corpus); the matrix is a
    * (from, to) aggregate whose output is ≤ |event types|², and the
    * per-from totals derive from the matrix itself (tiny) and broadcast
    * back for the ratio. The raw log is read once.
    */
  def transitionMatrix(events: DataFrame, keyCol: String, typeCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val pairs = events
      .select(col(keyCol), col(typeCol), col(tsCol), col(tieCol))
      .select(col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
    val counts = pairs.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type").agg(sum(col("n")).as("__n_from"))
    counts.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("__n_from").cast("double")).as("p"))
  }

  /** GROWTH ACCOUNTING — the revenue-change waterfall between two
    * periods, by customer lifecycle: Δrevenue decomposes EXACTLY into
    * new + expansion + contraction (negative) + churned (negative)
    * contributions, the "why did revenue move" table every subscription
    * and commerce warehouse serves. Per-customer period revenues come
    * from one conditional aggregate (exact cents); classification and
    * contributions are pure integer arithmetic, so the waterfall
    * identity Σ delta_cents = R₂ − R₁ holds to the cent.
    *
    * One shuffle to the customer grid, then a ≤4-row rollup.
    *
    * Returns per category (new / expansion / contraction / churned):
    * (category, n_customers, delta_cents), ordered by category; empty
    * categories are emitted with zeros so the waterfall shape is stable.
    */
  def growthAccounting(orders: DataFrame, custCol: String, tsCol: String,
      valCol: String, p1Start: String, p1End: String, p2Start: String,
      p2End: String): DataFrame = {
    def in(lo: String, hi: String): Column =
      col(tsCol).cast("timestamp") >= lit(lo).cast("timestamp") &&
        col(tsCol).cast("timestamp") < lit(hi).cast("timestamp")
    val per = orders.filter(col(custCol).isNotNull && col(tsCol).isNotNull &&
        col(valCol).isNotNull)
      .select(col(custCol).as("c"),
        when(in(p1Start, p1End), round(col(valCol) * 100).cast("long"))
          .otherwise(0L).as("v1"),
        when(in(p2Start, p2End), round(col(valCol) * 100).cast("long"))
          .otherwise(0L).as("v2"))
      .groupBy("c")
      .agg(sum("v1").as("r1"), sum("v2").as("r2"))
      .filter(col("r1") > 0 || col("r2") > 0)
    val classed = per.select(
      when(col("r1") <= 0 && col("r2") > 0, "new")
        .when(col("r1") > 0 && col("r2") <= 0, "churned")
        .when(col("r2") > col("r1"), "expansion")
        .when(col("r2") < col("r1"), "contraction")
        .otherwise("flat").as("category"),
      (col("r2") - col("r1")).as("delta"))
    val cats = classed.sparkSession.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row("new"), org.apache.spark.sql.Row("churned"),
        org.apache.spark.sql.Row("expansion"),
        org.apache.spark.sql.Row("contraction")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("category",
          org.apache.spark.sql.types.StringType, nullable = false))))
    cats.join(
        classed.filter(col("category") =!= "flat")
          .groupBy("category")
          .agg(count(lit(1)).as("nc"), sum("delta").as("dc")),
        Seq("category"), "left")
      .select(col("category"),
        coalesce(col("nc"), lit(0L)).as("n_customers"),
        coalesce(col("dc"), lit(0L)).as("delta_cents"))
      .orderBy("category")
  }

  /** PERIOD-OVER-PERIOD MIX/RATE DECOMPOSITION per dimension value —
    * "did region X's revenue move because ORDER COUNT moved (volume) or
    * because AVERAGE ORDER VALUE moved (rate)?": ΔR = (n₂−n₁)·AOV₁ +
    * residual, with AOV₁ on the truncating micro-cent grid and the rate
    * effect defined as the exact remainder — so volume_effect +
    * rate_effect = ΔR holds to the cent BY CONSTRUCTION (the truncation
    * lives inside the reported AOV, never leaks into the identity).
    *
    * One conditional aggregate to the dimension grid; no windows.
    *
    * Returns per dimension value: (dim, n1, n2, r1_cents, r2_cents,
    * aov1_microcents, volume_effect_cents, rate_effect_cents), ordered
    * by dim.
    */
  def mixRateDecomposition(orders: DataFrame, dimCol: String, tsCol: String,
      valCol: String, p1Start: String, p1End: String, p2Start: String,
      p2End: String): DataFrame = {
    def in(lo: String, hi: String): Column =
      col(tsCol).cast("timestamp") >= lit(lo).cast("timestamp") &&
        col(tsCol).cast("timestamp") < lit(hi).cast("timestamp")
    val grid = orders.filter(col(dimCol).isNotNull && col(tsCol).isNotNull &&
        col(valCol).isNotNull)
      .filter(in(p1Start, p1End) || in(p2Start, p2End))
      .select(col(dimCol).as("dim"),
        in(p1Start, p1End).as("__p1"),
        round(col(valCol) * 100).cast("long").as("cents"))
      .groupBy("dim")
      .agg(sum(when(col("__p1"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("__p1"), col("cents")).otherwise(0L)).as("r1_cents"),
        sum(when(!col("__p1"), 1L).otherwise(0L)).as("n2"),
        sum(when(!col("__p1"), col("cents")).otherwise(0L)).as("r2_cents"))
    grid.select(col("dim"), col("n1"), col("n2"), col("r1_cents"),
        col("r2_cents"),
        when(col("n1") > 0, expr("(r1_cents * 1000000) div n1"))
          .otherwise(lit(0L)).as("aov1_microcents"))
      .withColumn("volume_effect_cents",
        expr("((n2 - n1) * aov1_microcents) div 1000000"))
      .withColumn("rate_effect_cents",
        col("r2_cents") - col("r1_cents") - col("volume_effect_cents"))
      .orderBy("dim")
  }

  /** MARKOV NEXT-EVENT PREDICTION EVALUATION — the honest train/test
    * readout of [[transitionMatrix]]: transitions whose source event
    * falls before `splitTs` train a per-state argmax predictor (most
    * frequent next event, ties to the lexicographically smallest — the
    * deterministic contract); transitions at-or-after the cutoff are the
    * held-out test set. Accuracy per source state answers "is the
    * transition matrix actually predictive, or just descriptive" before
    * anyone builds on it — the same walk-forward discipline as the
    * forecast backtest, for the categorical side.
    *
    * Both train counts and test hits are exact integers; accuracy is the
    * single pinned division. Per-user lead windows (bounded by one
    * user's activity), then everything lives on the ≤ |types|² grid.
    *
    * Returns per source state: (from_type, predicted, n_train, n_test,
    * n_correct, accuracy), ordered by from_type; states never seen in
    * training carry a null prediction and count 0 correct.
    */
  def markovEval(events: DataFrame, keyCol: String, typeCol: String,
      tsCol: String, tieCol: String, splitTs: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val pairs = graft.CacheScope.register(events
      .filter(col(keyCol).isNotNull && col(typeCol).isNotNull &&
        col(tsCol).isNotNull)
      .select(col(typeCol).as("from_type"), col(tsCol).as("__ts"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .withColumn("__train",
        col("__ts").cast("timestamp") < lit(splitTs).cast("timestamp")))
    val trainCounts = pairs.filter(col("__train"))
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val predicted = trainCounts
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("from_type")
          .orderBy(col("n").desc, col("to_type"))))
      .filter(col("__rk") === 1)
      .select(col("from_type"), col("to_type").as("predicted"))
    val trainTotals = trainCounts.groupBy("from_type")
      .agg(sum("n").cast("long").as("n_train"))
    val test = pairs.filter(!col("__train"))
      .join(broadcast(predicted), Seq("from_type"), "left")
      .groupBy("from_type")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("to_type") === col("predicted"), 1L).otherwise(0L))
          .as("n_correct"))
    test.join(broadcast(predicted), Seq("from_type"), "left")
      .join(broadcast(trainTotals), Seq("from_type"), "left")
      .select(col("from_type"), col("predicted"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        col("n_test"), col("n_correct"),
        (col("n_correct").cast("double") / col("n_test").cast("double"))
          .as("accuracy"))
      .orderBy("from_type")
  }

  /** Linear multi-touch attribution: each purchase's value is split
    * EQUALLY across the user's qualifying views (at-or-before the
    * purchase, within `windowDays`), then rolled up by the view's
    * hour-of-day — "which hours' impressions actually convert", the
    * multi-touch complement of q32's last-touch as-of join. Credits are
    * integer micro-units rounded PER (purchase, hour) cell — round(v·c/n)
    * — so the rollup is a summation-order-independent BIGINT aggregate.
    *
    * Scale shape: the view×purchase pair join is an EQUI join on the
    * user (hash/SMJ, never a nested loop) with the time window as a
    * residual condition, so pair volume is bounded by per-user activity
    * within the window, the q32/q130 contract; everything after is a
    * ≤ 24-row rollup.
    */
  def linearAttribution(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, valueCol: String, viewType: String,
      purchaseType: String, windowDays: Int,
      purchaseIdCol: String = "event_id"): DataFrame = {
    val micros = (c: Column) => unix_micros(c.cast("timestamp"))
    val windowMicros = windowDays.toLong * 86400L * 1000000L
    val v = events.filter(col(typeCol) === viewType)
      .select(col(userCol).as("u"), micros(col(tsCol)).as("vt"),
        hour(col(tsCol).cast("timestamp")).as("view_hour"))
    val p = events.filter(col(typeCol) === purchaseType &&
        col(valueCol).isNotNull)
      .select(col(userCol).as("u"), col(purchaseIdCol).as("pid"),
        micros(col(tsCol)).as("pt"),
        round(col(valueCol) * 1e6).cast("long").as("v_micro"))
    val pairs = p.as("p").join(v.as("v"),
        col("p.u") === col("v.u")
          && col("v.vt") <= col("p.pt")
          && col("v.vt") >= col("p.pt") - windowMicros)
      .select(col("p.pid").as("pid"), col("p.v_micro").as("v_micro"),
        col("v.view_hour").as("view_hour"))
    val perPurchase = pairs.groupBy("pid", "v_micro")
      .agg(count(lit(1)).as("n_views"))
    val perCell = pairs.groupBy("pid", "view_hour")
      .agg(count(lit(1)).as("c_h"))
      .join(perPurchase, "pid")
      .select(col("view_hour"),
        round(col("v_micro") * col("c_h") / col("n_views")).cast("long")
          .as("credit_micro"))
    perCell.groupBy("view_hour")
      .agg(count(lit(1)).as("n_cells"),
        sum(col("credit_micro")).as("attributed_micro"))
  }

  /** Time-decay multi-touch attribution — [[linearAttribution]] with
    * recency weighting: a view `d` whole days before the purchase earns
    * weight 0.5^d (one-day half-life), so last-touch dominates without
    * zeroing the assist. Decay stays EXACT by construction: the weight is
    * the integer 1e6 >> d (dyadic halving on the micro grid — no
    * `pow(0.5, Δt)` libm call, which engines disagree on in the last
    * ulps); per-cell credit v·w_cell/w_total is one pinned IEEE
    * multiply+divide over exact integers, rounded back to the grid
    * before the order-independent final sum.
    *
    * Same scale shape as the linear form: the purchase-view pair join is
    * user-bucketed and window-bounded; aggregates ride the (purchase)
    * then (hour) grids.
    *
    * `windowDays` is bounded at 19: the dyadic weight 1e6 >> d hits 0 at
    * d = 20 (and Spark's `<<` wraps the shift count at 64), so a wider
    * window would let an all-stale purchase divide by w_tot = 0 — the
    * same explicit-depth contract as [[ewmaTrailing]]'s depth ≤ 32.
    */
  def decayAttribution(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, valueCol: String, viewType: String,
      purchaseType: String, windowDays: Int,
      purchaseIdCol: String = "event_id"): DataFrame = {
    require(windowDays >= 1 && windowDays <= 19,
      s"windowDays must be in [1, 19] (dyadic weight 1e6 >> d underflows " +
        s"to 0 at d = 20), got $windowDays")
    val micros = (c: Column) => unix_micros(c.cast("timestamp"))
    val windowMicros = windowDays.toLong * 86400L * 1000000L
    val v = events.filter(col(typeCol) === viewType)
      .select(col(userCol).as("u"), micros(col(tsCol)).as("vt"),
        hour(col(tsCol).cast("timestamp")).as("view_hour"))
    val p = events.filter(col(typeCol) === purchaseType &&
        col(valueCol).isNotNull)
      .select(col(userCol).as("u"), col(purchaseIdCol).as("pid"),
        micros(col(tsCol)).as("pt"),
        round(col(valueCol) * 1e6).cast("long").as("v_micro"))
    val pairs = p.as("p").join(v.as("v"),
        col("p.u") === col("v.u")
          && col("v.vt") <= col("p.pt")
          && col("v.vt") >= col("p.pt") - windowMicros)
      .select(col("p.pid").as("pid"), col("p.v_micro").as("v_micro"),
        col("v.view_hour").as("view_hour"),
        // whole days of staleness → dyadic weight 1e6 >> d, exact
        expr("1000000 div (cast(1 as bigint) << cast((pt - vt) div 86400000000 as int))")
          .as("w"))
    val perPurchase = pairs.groupBy("pid", "v_micro")
      .agg(sum(col("w")).as("w_tot"))
    val perCell = pairs.groupBy("pid", "view_hour")
      .agg(sum(col("w")).as("w_h"))
      .join(perPurchase, "pid")
      .select(col("view_hour"),
        round(col("v_micro").cast("double") * col("w_h").cast("double")
          / col("w_tot").cast("double")).cast("long").as("credit_micro"))
    perCell.groupBy("view_hour")
      .agg(count(lit(1)).as("n_cells"),
        sum(col("credit_micro")).as("attributed_micro"))
  }

  /** Seasonality profile of an event stream: per (day-of-week,
    * hour-of-day) cell, the event count, the number of calendar days of
    * that weekday in the corpus span (absent cells are genuine zeros —
    * generated from the calendar, not the data), the exact half-up
    * micro mean events/day, and the deviation from the global
    * events/hour grand mean — the 7×24 heat-map behind "when does this
    * system actually run".
    *
    * Exactness: means use the [[TextOps.ratioMicro]] integer identity
    * over exact counts; the deviation is a difference of two such
    * integers. One shuffle to the 7×24 cell grid; the calendar spine is
    * one 1-row bounds aggregate exploded driver-free.
    */
  def seasonalityProfile(events: DataFrame, tsCol: String): DataFrame = {
    val ev = events.filter(col(tsCol).isNotNull)
    val bounds = ev.agg(min(col(tsCol).cast("date")).as("lo"),
      max(col(tsCol).cast("date")).as("hi"), count(lit(1)).as("n"))
    val dates = graft.CacheScope.register(
      bounds.select(col("n"),
        explode(sequence(col("lo"), col("hi"))).as("d")))
    val dd = dates.groupBy(dayofweek(col("d")).cast("long").as("dow"))
      .agg(count(lit(1)).as("n_days"))
    val nh = dates.agg((count(lit(1)) * 24L).as("n_hours"),
      max(col("n")).as("n"))
    val cnt = ev.groupBy(
        dayofweek(col(tsCol).cast("date")).cast("long").as("dow"),
        hour(col(tsCol)).cast("long").as("hod"))
      .agg(count(lit(1)).as("n_events"))
    val hods = bounds.select(explode(sequence(lit(0L), lit(23L))).as("hod"))
    val mean = TextOps.ratioMicro(col("n_events"), col("n_days"))
    val grand = TextOps.ratioMicro(col("n"), col("n_hours"))
    dd.crossJoin(broadcast(hods))
      .join(cnt, Seq("dow", "hod"), "left")
      .crossJoin(broadcast(nh))
      .select(col("dow"), col("hod"),
        coalesce(col("n_events"), lit(0L)).as("n_events"), col("n_days"),
        col("n"), col("n_hours"))
      .select(col("dow"), col("hod"), col("n_events"), col("n_days"),
        mean.as("mean_micro"), grand.as("grand_mean_micro"),
        (mean - grand).as("deviation_micro"))
  }

  /** Market-basket co-occurrence with association-rule statistics: pairs
    * of items appearing in the same basket, with support, directed
    * confidence, and lift — the query behind "customers who bought X
    * also bought" and behind corpus-side co-occurrence mining.
    *
    * Scale shape: baskets are DISTINCT (basket, item) first (repeat
    * lines collapse before any join), then one self-equi-join on the
    * basket key with `item_a < item_b` — fan-out is Σ_b s_b², bounded by
    * basket SIZE (tens), never corpus size: the same budget argument as
    * the LSH bucket join. Item marginals are an |items|-row aggregate
    * joined back; N is one broadcast scalar. Top-k via ordered limit.
    *
    * Exactness: support/marginals are exact BIGINTs; confidence and
    * lift are single IEEE divisions — lift = (support·N)/(n_a·n_b) with
    * the integer products taken first.
    */
  def copurchasePairs(lines: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, k: Int): DataFrame = {
    val items = graft.CacheScope.register(
      lines.select(col(basketCol).cast("long").as("bk"),
          col(itemCol).cast("long").as("it"))
        .filter(col("bk").isNotNull && col("it").isNotNull)
        .distinct())
    val nBaskets = items.select(col("bk")).distinct().count()
    val marg = items.groupBy(col("it")).agg(count(lit(1)).as("n_item"))
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.bk") === col("b.bk") && col("a.it") < col("b.it"))
      .groupBy(col("a.it").as("item_a"), col("b.it").as("item_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    pairs
      .join(marg.select(col("it").as("item_a"), col("n_item").as("n_a")),
        "item_a")
      .join(marg.select(col("it").as("item_b"), col("n_item").as("n_b")),
        "item_b")
      .select(col("item_a"), col("item_b"), col("support"),
        col("n_a"), col("n_b"), lit(nBaskets).as("n_baskets"),
        (col("support").cast("double") / col("n_a").cast("double"))
          .as("confidence_ab"),
        ((col("support") * nBaskets).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(col("support").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  /** HERFINDAHL-HIRSCHMAN CONCENTRATION INDEX per group — "how
    * concentrated is this segment's value across its entities": HHI =
    * Σᵢ sᵢ² over entity value shares sᵢ (1/n = perfectly even, 1 = one
    * entity holds everything), plus the effective entity count 1/HHI —
    * the antitrust-screen statistic, and on a training corpus the "is
    * one source/customer dominating this slice" audit.
    *
    * Exactness: per-entity cent sums are exact BIGINTs; HHI = Σc² / T²
    * with both moments carried as DECIMAL(38,0) and ONE pinned IEEE
    * division (a per-entity share division would compound rounding n
    * times). Scale shape: one shuffle to the (group, entity) grid, one
    * grouped moment aggregate — never a share materialization.
    *
    * Returns per group: (group, n_entities, total_cents, hhi,
    * effective_n), hhi null when the group's total is 0.
    */
  def hhiConcentration(df: DataFrame, groupCol: String, entityCol: String,
      valueCol: String): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val per = df
      .filter(col(groupCol).isNotNull && col(entityCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(entityCol).as("e"))
      .agg(sum(round(col(valueCol) * 100).cast("long")).cast("long")
        .as("c"))
    per.groupBy("g")
      .agg(count(lit(1)).cast("long").as("n_entities"),
        sum(d(col("c"))).cast("decimal(38,0)").as("__t"),
        sum(d(col("c")) * d(col("c"))).cast("decimal(38,0)").as("__q"))
      .select(col("g").as(groupCol), col("n_entities"),
        col("__t").cast("long").as("total_cents"),
        when(col("__t") > 0, dbl(col("__q")) / (dbl(col("__t")) *
          dbl(col("__t")))).as("hhi"))
      .withColumn("effective_n",
        when(col("hhi") > 0, lit(1.0) / col("hhi")))
      .orderBy(groupCol)
  }

  /** THEIL T INEQUALITY INDEX per group — the decomposable entropy
    * member of the inequality family next to [[hhiConcentration]]'s
    * share-square: T = Σᵢ (cᵢ/C)·ln(cᵢ/μ) = (Σᵢ cᵢ·ln cᵢ)/C − ln(C/n),
    * 0 = perfectly even, ln(n) = one entity holds everything — so the
    * normalized T/ln(n) compares groups of different sizes.
    *
    * Exactness: per-entity ln(cents) is micro-rounded ONCE (the
    * micro-log convention — both engines round the same libm value of
    * the same exact integer), Σ c·lnMicro rides DECIMAL(38,0), and the
    * final assembly is one pinned IEEE sequence with a single live
    * ln(C/n). Zero/negative-cent entities drop (ln undefined) —
    * documented, mirrored by the oracle.
    *
    * Returns per group: (group, n_entities, total_cents, theil,
    * theil_norm), null when n < 2 or total 0.
    */
  def theilIndex(df: DataFrame, groupCol: String, entityCol: String,
      valueCol: String): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val per = df
      .filter(col(groupCol).isNotNull && col(entityCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(entityCol).as("e"))
      .agg(sum(round(col(valueCol) * 100).cast("long")).cast("long")
        .as("c"))
      .filter(col("c") > 0)
      .withColumn("lx", round(log(dbl(col("c"))) * 1e6).cast("long"))
    val agg = per.groupBy("g")
      .agg(count(lit(1)).cast("long").as("n_entities"),
        sum(d(col("c"))).cast("long").as("total_cents"),
        sum(d(col("c")) * d(col("lx"))).cast("decimal(38,0)").as("__s1"))
    val ok = col("n_entities") >= 2 && col("total_cents") > 0
    // ln(C/n) micro-rounded — a live libm ln on an arbitrary double is
    // the one cross-engine last-bit risk in this assembly (caught once
    // on theil_norm's ln(n)); the micro-log convention pins both
    val theil = dbl(col("__s1")) / dbl(col("total_cents")) / lit(1e6) -
      round(log(dbl(col("total_cents")) / dbl(col("n_entities"))) * 1e6)
        .cast("long").cast("double") / lit(1e6)
    agg.select(col("g").as(groupCol), col("n_entities"),
      col("total_cents"),
      when(ok, theil).as("theil"))
      .withColumn("theil_norm",
        // ln(n) micro-rounded: a LIVE ln here diverged from DuckDB's
        // libm in the last bit (the one float drift the q351 gate ever
        // caught) — the micro-log convention pins the divisor
        when(col("theil").isNotNull,
          col("theil") /
            (round(log(dbl(col("n_entities"))) * 1e6).cast("long")
              .cast("double") / lit(1e6))))
      .orderBy(groupCol)
  }

  /** RFM (recency / frequency / monetary) customer segmentation with
    * deterministic quintile codes — the warehouse-side cohorting query.
    * Per customer: days since last order (vs the corpus max date),
    * order count, exact micro spend; each metric coded 1..5 by
    *   code = 1 + (5 · |{rows with value strictly below}|) div n
    * — ties share a code, replayable without any rank nondeterminism.
    *
    * Scale shape: one shuffle to the customer aggregate; the three code
    * assignments are windows over DISTINCT-VALUE count grids (the q97
    * bounded-grid argument — recency is calendar-bounded, frequency is
    * basket-bounded, and monetary is quantized to a 1e-2 grid by the
    * DECIMAL cast), joined back to the aggregate by value.
    */
  /** CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et al.
    * WSDM 2013) adjusted per-arm metric means — THE industry-standard
    * variance-reduction step for A/B readouts: each user's post-period
    * metric y is shifted by θ·(x − x̄) where x is their PRE-period value
    * of the same metric and θ = cov(x,y)/var(x), cancelling the
    * between-user variance the randomization already balanced.
    *
    * Mechanics: one scan aggregates per-user (x, y) micro sums split at
    * `splitTs` (users = distinct ids among non-null-value events); arms
    * are the deterministic h60(salt:user) % 2 split (q51's convention);
    * θ comes from ONE pooled exact-integer moment row (n, Σx, Σy, Σxy,
    * Σx² — products in DECIMAL(38,0)); per-arm adjusted means are
    * assembled with pinned IEEE ops from the exact per-arm sums. Scale
    * shape: one shuffle to the user grid, one |arms|-row aggregate, a
    * broadcast 1-row moment join — the fact table is never re-scanned.
    *
    * Returns per arm: (arm, n_users, sum_x_micro, sum_y_micro, mean_y,
    * theta, mean_y_adj).
    */
  def cupedAdjust(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, splitTs: String, salt: String): DataFrame = {
    val base = events.filter(col(userCol).isNotNull &&
        col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(userCol).as("u"),
        (col(tsCol).cast("timestamp") < lit(splitTs).cast("timestamp"))
          .as("pre"),
        round(col(valueCol) * 1e6).cast("long").as("v"))
    val perUser = graft.CacheScope.register(
      base.groupBy("u").agg(
        sum(when(col("pre"), col("v")).otherwise(0L)).as("x"),
        sum(when(col("pre"), 0L).otherwise(col("v"))).as("y")))
    def d(c: Column) = c.cast("decimal(38,0)")
    val moments = broadcast(perUser.agg(
      count(lit(1)).as("n"),
      sum("x").cast("long").as("sx"),
      sum("y").cast("long").as("sy"),
      sum(d(col("x")) * d(col("y"))).cast("decimal(38,0)").as("sxy"),
      sum(d(col("x")) * d(col("x"))).cast("decimal(38,0)").as("sxx")))
    val arms = perUser
      .withColumn("arm",
        when(pmod(graft.functions.Hashing.h60(
          concat(lit(s"$salt:"), col("u").cast("string"))), lit(2L)) === 0,
          "a").otherwise("b"))
      .groupBy("arm").agg(count(lit(1)).as("n_users"),
        sum("x").cast("long").as("sum_x_micro"),
        sum("y").cast("long").as("sum_y_micro"))
    // θ = (n·Σxy − Σx·Σy) / (n·Σx² − Σx·Σx), pinned double assembly
    val nD = col("n").cast("double")
    // θ on the exact integer grid: n·Σxy and n·Σx² stay inside
    // DECIMAL(38,0), so θ_micro is a truncating decimal quotient — a
    // raw double assembly of these ~10²⁵ products rounds differently
    // across engines (observed 1e-13 drift); the micro grid doesn't
    val thetaMicro = when(
      expr("cast(n as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx") > 0,
      expr("""cast(((cast(n as decimal(38,0)) * sxy
                - cast(sx as decimal(38,0)) * sy) * 1000000)
              div (cast(n as decimal(38,0)) * sxx
                - cast(sx as decimal(38,0)) * sx) as bigint)"""))
      .otherwise(lit(0L))
    val theta = thetaMicro.cast("double") / lit(1e6)
    val meanY = col("sum_y_micro").cast("double") /
      col("n_users").cast("double") / lit(1e6)
    val meanXArm = col("sum_x_micro").cast("double") /
      col("n_users").cast("double") / lit(1e6)
    val meanXPool = col("sx").cast("double") / nD / lit(1e6)
    arms.crossJoin(moments)
      .select(col("arm"), col("n_users"), col("sum_x_micro"),
        col("sum_y_micro"), meanY.as("mean_y"), theta.as("theta"),
        (meanY - theta * (meanXArm - meanXPool)).as("mean_y_adj"))
      .orderBy("arm")
  }

  /** DIFFERENCE-IN-DIFFERENCES estimate over an event stream: hashed
    * arms (h60(salt:user) % 2 — the q220/q245 assignment convention) ×
    * pre/post periods at `splitTs`, observation-level value means per
    * cell, DiD = (post_b − pre_b) − (post_a − pre_a) — the causal-effect
    * estimator when only arm b received the change at the cutoff and
    * parallel trends hold; the A/B battery's answer to "we launched
    * without a holdout but have the before/after".
    *
    * All four cells come from ONE map-side-combined aggregate (row
    * counts + exact micro sums); the four means and the DiD are a pinned
    * IEEE division/subtraction sequence over those exact integers, so
    * both engines agree bit-for-bit.
    *
    * Returns one row: (n/sum for each of pre_a, post_a, pre_b, post_b,
    * did) — did in value units.
    */
  def didEstimate(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, splitTs: String, salt: String): DataFrame = {
    val base = events.filter(col(userCol).isNotNull &&
        col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(
        (graft.functions.Hashing.h60(
          concat(lit(s"$salt:"), col(userCol).cast("string"))) % 2 === 0)
          .as("a"),
        (col(tsCol).cast("timestamp") < lit(splitTs).cast("timestamp"))
          .as("pre"),
        round(col(valueCol) * 1e6).cast("long").as("v"))
    def cell(name: String, inA: Boolean, inPre: Boolean): Seq[Column] = {
      val in = (if (inA) col("a") else !col("a")) &&
        (if (inPre) col("pre") else !col("pre"))
      Seq(sum(when(in, 1L).otherwise(0L)).as(s"n_$name"),
        sum(when(in, col("v")).otherwise(0L)).as(s"sum_${name}_micro"))
    }
    val cells = cell("pre_a", inA = true, inPre = true) ++
      cell("post_a", inA = true, inPre = false) ++
      cell("pre_b", inA = false, inPre = true) ++
      cell("post_b", inA = false, inPre = false)
    def mean(name: String): Column =
      col(s"sum_${name}_micro").cast("double") /
        col(s"n_$name").cast("double") / lit(1e6)
    base.agg(cells.head, cells.tail: _*)
      .withColumn("did",
        (mean("post_b") - mean("pre_b")) - (mean("post_a") - mean("pre_a")))
  }

  def rfmSegments(orders: DataFrame, custCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val base = graft.CacheScope.register(
      orders.filter(col(custCol).isNotNull && col(tsCol).isNotNull &&
          col(valueCol).isNotNull)
        .select(col(custCol).cast("long").as("c"),
          col(tsCol).cast("date").as("d"),
          round(col(valueCol) * 100).cast("long").as("cents")))
    val maxD = base.agg(max(col("d")).as("mx"))
    val agg = graft.CacheScope.register(
      base.crossJoin(broadcast(maxD))
        .groupBy("c")
        .agg(min(datediff(col("mx"), col("d"))).cast("long").as("r_days"),
          count(lit(1)).as("f"), sum(col("cents")).as("m_cents")))
    val n = agg.count()
    def codeFor(metric: String): DataFrame = {
      val grid = agg.groupBy(col(metric).as("v")).agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      grid
        .select(col("v"), coalesce(sum("cnt").over(w), lit(0L)).as("cb"))
        .select(col("v"),
          expr(s"1L + ((cb * 5L) div ${n}L)").cast("long")
            .as(s"${metric}_code"))
    }
    agg
      .join(codeFor("r_days").withColumnRenamed("v", "r_days"), "r_days")
      .join(codeFor("f").withColumnRenamed("v", "f"), "f")
      .join(codeFor("m_cents").withColumnRenamed("v", "m_cents"), "m_cents")
      .select(col("c").as(custCol), col("r_days"), col("f"), col("m_cents"),
        col("r_days_code"), col("f_code"), col("m_cents_code"))
  }

  /** SMOOTHED TARGET ENCODING of a categorical column against a numeric
    * target — the leakage-prone feature every tabular-ML pipeline wants
    * precomputed at warehouse scale: enc(cat) = (Σtarget + m·ȳ) / (n + m)
    * with a pseudo-count prior m pulling rare categories toward the
    * global mean (the standard empirical-Bayes shrinkage; m = 0 is the
    * raw per-category mean). Entirely exact integer arithmetic on the
    * micro grid: ȳ_micro = ΣΣ div N (floor), enc_micro =
    * (Σ_micro + m·ȳ_micro) div (n + m) — bit-identical in any engine,
    * no float accumulation anywhere.
    *
    * Scale shape: one map-side-combined shuffle to |categories| rows
    * (n, Σ), one broadcast one-row global aggregate. The encoded table
    * is the broadcast-ready dimension a downstream join consumes; rows
    * are never re-shuffled.
    *
    * Returns per category, ordered: (category, n, sum_micro,
    * global_mean_micro, enc_micro).
    */
  def targetEncode(df: DataFrame, catCol: String, valCol: String,
      priorCount: Long): DataFrame = {
    require(priorCount >= 0, s"priorCount must be >= 0: $priorCount")
    val base = df.filter(col(catCol).isNotNull && col(valCol).isNotNull)
      .select(col(catCol).as("category"),
        round(col(valCol) * 1e6).cast("long").as("x"))
    val perCat = base.groupBy("category").agg(
      count(lit(1)).as("n"),
      sum("x").cast("long").as("sum_micro"))
    val g = perCat.agg(sum("n").cast("long").as("__N"),
      sum(col("sum_micro").cast("decimal(38,0)")).cast("decimal(38,0)")
        .as("__S"))
    perCat.crossJoin(broadcast(g))
      .withColumn("global_mean_micro",
        expr("cast(__S div __N as long)"))
      .withColumn("enc_micro",
        expr(s"cast((cast(sum_micro as decimal(38,0)) + " +
          s"cast($priorCount as decimal(38,0)) * (__S div __N)) " +
          s"div (n + $priorCount) as long)"))
      .select(col("category"), col("n"), col("sum_micro"),
        col("global_mean_micro"), col("enc_micro"))
      .orderBy("category")
  }

  /** BRADLEY-TERRY PREFERENCE STRENGTHS from a pairwise-win table —
    * the model behind every preference-data pipeline (RLHF comparison
    * sets, search interleaving, A/B taste tests): P(i beats j) =
    * sᵢ/(sᵢ+sⱼ), fitted by `iters` unrolled Hunter-2004 MM updates
    *
    *   sᵢ ← Wᵢ / Σ_{j≠i} nᵢⱼ/(sᵢ+sⱼ),  then rescale to Σs = k·10⁶
    *
    * entirely on the truncating integer micro grid (each division a
    * BIGINT `div`, the pageRank convention), so the fixed iterate is
    * bit-replayable by the oracle — no float fixed-point drift.
    *
    * Input `wins`: directed rows (aCol, bCol, wCol) = "a beat b w
    * times". Items with zero games have no likelihood contribution and
    * are absent from the output.
    *
    * Scale shape: the games grid is |items|²-bounded (items are a
    * dimension, not the fact table); each iteration is two joins + one
    * aggregate over that bounded grid. The FACT-scale work — counting
    * wins — happens upstream in the caller's aggregate. Output:
    * (item, wins, games, strength_micro), strength-descending.
    */
  def bradleyTerry(wins: DataFrame, aCol: String, bCol: String,
      wCol: String, iters: Int = 3): DataFrame = {
    require(iters >= 1)
    val dir = wins.filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(wCol).isNotNull && col(wCol) > 0)
      .select(col(aCol).as("i"), col(bCol).as("j"),
        col(wCol).cast("long").as("w"))
    // symmetric games grid n_ij and per-item win totals
    val games = graft.CacheScope.register(
      dir.select(col("i"), col("j"), col("w"))
        .unionAll(dir.select(col("j").as("i"), col("i").as("j"),
          lit(0L).as("w")))
        .groupBy("i", "j")
        .agg(sum("w").cast("long").as("wij")))
    val pairTotals = graft.CacheScope.register(
      games.as("x").join(games.as("y"),
          col("x.i") === col("y.j") && col("x.j") === col("y.i"))
        .select(col("x.i").as("i"), col("x.j").as("j"),
          col("x.wij").as("wij"),
          (col("x.wij") + col("y.wij")).as("nij"))
        .filter(col("nij") > 0))
    val items = graft.CacheScope.register(
      pairTotals.groupBy("i")
        .agg(sum("wij").cast("long").as("wins"),
          sum("nij").cast("long").as("games")))
    val k = items.count()
    var s = items.select(col("i"), lit(1000000L).as("s"))
    var it = 0
    while (it < iters) {
      // every product routed through decimal(38,0) BEFORE the truncating
      // div (the sibling operators' exact-moment convention): plain Long
      // arithmetic would silently wrap once a pair exceeds ~9.2M games —
      // the oracle runs the same products in HUGEINT, so a wrap is both a
      // wrong answer AND an oracle divergence at scale (ADVICE r9)
      val terms = pairTotals
        .join(s.select(col("i"), col("s").as("si")), "i")
        .join(s.select(col("i").as("j"), col("s").as("sj")), "j")
        .groupBy("i")
        .agg(sum(expr(
            "(cast(nij as decimal(38,0)) * 1000000000000) div (si + sj)"))
          .cast("long").as("denom"))
      val raw = items.join(terms, "i")
        .select(col("i"),
          when(col("denom") > 0,
            expr("(cast(wins as decimal(38,0)) * 1000000000000) div denom"))
            .otherwise(1000000L).as("s"))
      val tot = raw.agg(sum("s").cast("long").as("stot"))
      s = raw.crossJoin(broadcast(tot))
        .select(col("i"),
          expr(s"(cast(s as decimal(38,0)) * ${k}L * 1000000) div stot")
            .as("s"))
        .localCheckpoint(true)
      it += 1
    }
    items.join(s, "i")
      .select(col("i").as("item"), col("wins"), col("games"),
        col("s").as("strength_micro"))
      .orderBy(desc("strength_micro"), col("item"))
  }
}
