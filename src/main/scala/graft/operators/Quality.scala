package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality / audit operators (SURVEY.md §2.5). All single-pass
  * aggregations or broadcast-stats patterns — no driver-side loops, no
  * repeated scans, safe at 100 TB.
  */
object Quality {

  /** A1 — missingness summary
    * (`/root/reference/src/data_processing/transformations.py:87-93`):
    * per-column null counts as a long `(column_name, missing_count)` table.
    *
    * One aggregation pass over all columns (map-side partial agg), then a
    * constant-width `stack` unpivot of the single result row — the scan cost
    * is one pass regardless of column count.
    */
  def missingness(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.map(c => (count(lit(1)) - count(col(c))).as(c))
    val wide = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*)
    val stackArgs = cols.map(c => s"'$c', `$c`").mkString(", ")
    wide.selectExpr(s"stack(${cols.size}, $stackArgs) AS (column_name, missing_count)")
      .orderBy("column_name")
  }

  /** A2 — z-score outlier detection (`transformations.py:96-104`): global
    * mean and **population** std-dev (pandas `ddof=0` → `stddev_pop`) per
    * metric column; rows where any |z| exceeds the threshold are flagged.
    *
    * Two-phase: a tiny stats aggregate (one row) broadcast-cross-joined back
    * against the fact — at scale this is one scan + one broadcast, never a
    * shuffle of the fact table.
    */
  def zscoreOutliers(df: DataFrame, cols: Seq[String], threshold: Double): DataFrame = {
    val statAggs = cols.flatMap(c =>
      Seq(avg(col(c)).as(s"__mu_$c"), stddev_pop(col(c)).as(s"__sd_$c")))
    val stats = df.agg(statAggs.head, statAggs.tail.toIndexedSeq: _*)
    // sd=0 (constant column) must yield "no outliers", not an ANSI
    // DIVIDE_BY_ZERO — Spark 4 throws even for double division
    val zs: Seq[Column] = cols.map(c =>
      when(col(s"__sd_$c") =!= 0,
        abs((col(c) - col(s"__mu_$c")) / col(s"__sd_$c"))))
    val anyOutlier = zs.map(_ > threshold).reduce(_ || _)
    df.crossJoin(broadcast(stats))
      .filter(anyOutlier)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Per-group winsorization: clip `valueCol` into the [lo, hi] quantile
    * band of its `groupCol` group — the standard heavy-tail taming step
    * before averaging quality scores or training-weight computation
    * (clipping, unlike dropping, keeps the row and its other columns).
    * Adds `<valueCol>_winsorized`; exact interpolated percentiles
    * (`percentile` ≡ DuckDB `quantile_cont`), so the clip bounds are
    * engine-exact.
    *
    * Scale shape: one small per-group quantile aggregate (the only pass
    * that buffers values — at 100 TB swap in approx_percentile with the
    * same clip logic) broadcast back onto the fact scan; the fact table
    * itself never shuffles.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo <= hi, s"need 0 <= lo <= hi <= 1: $lo, $hi")
    val bounds = df.groupBy(groupCol).agg(
      expr(s"percentile($valueCol, $lo)").as("__lo"),
      expr(s"percentile($valueCol, $hi)").as("__hi"))
    df.join(broadcast(bounds), groupCol)
      .withColumn(s"${valueCol}_winsorized",
        least(greatest(col(valueCol), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** A5 — duplicate-count audit (`/root/reference/README.md:162-168`):
    * `GROUP BY keys HAVING COUNT(*) > 1 ORDER BY n DESC`.
    */
  def duplicateAudit(df: DataFrame, keys: Seq[Column]): DataFrame =
    df.groupBy(keys.toIndexedSeq: _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** A6/F5 — trailing-window row count (`README.md:171-175`), anchored to
    * the table's own max timestamp so the result is deterministic (the
    * reference anchors to `CURRENT_TIMESTAMP()`).
    */
  def trailingCount(df: DataFrame, tsCol: String, days: Int): DataFrame = {
    val cutoff = df.agg(max(col(tsCol)).as("__max_ts"))
      .select((col("__max_ts") - expr(s"INTERVAL $days DAYS")).as("__cutoff"))
    df.crossJoin(broadcast(cutoff))
      .filter(col(tsCol) >= col("__cutoff"))
      .agg(count(lit(1)).as("n"))
  }

  /** Robust outlier stats per group: median and MAD (median absolute
    * deviation) of `valCol`, plus how many rows sit more than
    * `k * MAD` from the median — the robust complement of [[zscoreOutliers]]
    * (a single wild value shifts a mean/stddev fence; it cannot move a
    * median/MAD one). Heavy-tailed quality metrics (doc length, token
    * count) want this form.
    *
    * Exactness: `percentile` (linear interpolation) over integer inputs
    * yields integer-or-half values — identical in DuckDB's
    * `quantile_cont` — and the deviation column stays integer-valued, so
    * the whole statistic is engine-exact. Two grouped aggregations (the
    * median must exist before deviations do) + one broadcast join back.
    */
  def madOutlierStats(df: DataFrame, groupCol: String, valCol: String,
      k: Double): DataFrame = {
    // agg + broadcast-join (twice) rather than whole-partition windows:
    // a window form would pull every row of a group into one partition —
    // group skew becomes a straggler at scale; small stats tables don't
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valCol, 0.5)").as("median_val"))
    val dev = df.join(broadcast(med), groupCol)
      .withColumn("__adev", abs(col(valCol) - col("median_val")))
    val mad = dev.groupBy(col(groupCol))
      .agg(expr("percentile(__adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), groupCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        first(col("median_val")).as("median_val"),
        first(col("mad")).as("mad"),
        sum(when(col("__adev") > lit(k) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** One-pass table profile — the dataset-card / ingest-audit staple:
    * per column, row count, null count, EXACT distinct count, and (for
    * numeric columns) min/max on the 1e-6 grid as longs. String/timestamp
    * columns get null min/max rather than string-rendered extrema,
    * because engines disagree on double/timestamp→string formatting and
    * the profile must stay engine-exact.
    *
    * Cost note: multiple exact COUNT(DISTINCT)s in one aggregate make
    * Spark expand the input k-fold — the exact form is for audits at
    * moderate scale; at 100 TB swap `countDistinct` for
    * `approx_count_distinct` (same shape, HLL sketch, no expand) and
    * drop the oracle to rows-only as q46 does.
    *
    * Returns (column_name, n_rows, n_nulls, n_distinct, min_micro,
    * max_micro) — one row per profiled column.
    */
  /** k-anonymity / l-diversity audit — the release-governance check a
    * training-data pipeline runs before publishing any table that pairs
    * quasi-identifiers with a sensitive attribute (Sweeney, "k-anonymity:
    * a model for protecting privacy", 2002; Machanavajjhala et al.,
    * "l-diversity", 2007). Per distinct quasi-identifier combination:
    * the equivalence-class size `n`, the number of distinct sensitive
    * values `n_sensitive`, and the two pass/fail verdicts — a class
    * smaller than `k` re-identifies its members; a class whose sensitive
    * attribute is near-constant discloses it even at size ≥ k. NULL
    * quasi-identifier values form their own class (a null zip code is
    * still a linkable value); NULL sensitive values don't count toward
    * diversity.
    *
    * Exact and engine-portable (counts and comparisons only). Scale
    * shape: ONE hash aggregate to the QI grid with a partial
    * count-distinct — no self-joins, no windows; the output is
    * |QI-combinations|-sized, never row-sized.
    */
  def kAnonymityAudit(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, k: Long, l: Long): DataFrame = {
    require(qiCols.nonEmpty && k >= 1 && l >= 1)
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .select(qiCols.map(col) ++ Seq(col("n"), col("n_sensitive"),
        (col("n") >= k).as("k_anonymous"),
        (col("n_sensitive") >= l).as("l_diverse")): _*)
  }

  def profileTable(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    import org.apache.spark.sql.types._
    val fields = df.schema.fields.filter(f => cols.contains(f.name))
    val numeric = fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.toSet
    val integral = fields.collect {
      case f if Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(f.dataType) => f.name
    }.toSet
    // integral columns: min/max on the RAW long, micro-scaled by exact
    // long multiply (exact to |v| <= 9.2e12) — routing a bigint key
    // through double would lose low digits past 2^53/1e6 ≈ 9e9.
    // Fractional/decimal: 1e-6-grid round (exact to the same 9e9 bound).
    def microAgg(f: Column => Column, c: String): Column =
      if (integral(c)) f(col(c).cast("long")) * 1000000L
      else f(round(col(c).cast("double") * 1e6).cast("long"))
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"), countDistinct(col(c)).as(s"__nd_$c")) ++
        (if (numeric(c))
          Seq(microAgg(min, c).as(s"__min_$c"), microAgg(max, c).as(s"__max_$c"))
        else Nil)
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("column_name"), col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$c")).as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"),
        (if (numeric(c)) col(s"__min_$c") else lit(null).cast("long")).as("min_micro"),
        (if (numeric(c)) col(s"__max_$c") else lit(null).cast("long")).as("max_micro"))
    }
    wide.select(explode(array(rows: _*)).as("__e")).select(col("__e.*"))
  }

  /** Exact Pearson correlation matrix over numeric columns — the data-
    * profiling staple (collinear feature detection, schema drift checks).
    * PAIRWISE-COMPLETE semantics: each pair's moments (n, Σx, Σy, Σx²,
    * Σy², Σxy) are computed over the rows where BOTH columns are non-null
    * and non-NaN — mixing a global count with null-skipping sums would
    * silently corrupt r on any table with missing values (and a NaN
    * would either throw under ANSI or poison a sum).
    *
    * Every input is quantized to 1e-6-grid longs; all moment sums
    * accumulate as DECIMAL(38,0) products of DECIMAL(19,0) casts, so
    * they are exact in any partitioning/order; only the final
    * r = (nΣxy − ΣxΣy) / √((nΣx²−Σx²ₜ)(nΣy²−Σy²ₜ)) runs in double — the
    * same IEEE op sequence in any engine, hence engine-exact (unlike
    * built-in `corr`, whose streaming-covariance accumulation is
    * order-dependent). Degenerate (constant) pairs yield null r.
    *
    * ONE aggregation pass computes all 6·k(k−1)/2 conditioned sums
    * (map-side partial, single scan of the fact table); the pair rows
    * are exploded from the 1-row wide result. DECIMAL(38,0) headroom is
    * ENFORCED by the validity gate: |x| < 1e9 keeps each micro long ≤
    * 1e15 and each product ≤ 1e30, so Σx²/Σxy stay inside DECIMAL(38,0)
    * to 1e8 rows of worst-case values (typical magnitudes give far more);
    * the moment sums additionally ride `try_sum`, so a pathological
    * corpus surfaces overflow as a null r instead of an ANSI
    * ARITHMETIC_OVERFLOW killing the whole profile job. Values at or
    * past the gate (epoch-millis columns, say) are excluded like nulls —
    * rescale such columns before correlating.
    *
    * Returns (col_a, col_b, n, r) for each unordered column pair, with
    * n the pair's complete-case count.
    */
  /** Per-group Pearson correlation of two INTEGER-valued columns (both
    * must already be exact integers — counts, micro-unit scores): moments
    * accumulate in DECIMAL(38,0) (order-independent, bit-exact), the
    * correlation itself is [[pearsonMatrix]]'s proven IEEE sequence over
    * those exact integers (each moment cast to double once, then
    * identical multiply/subtract/sqrt order on both engines). Null in
    * either column drops the row (pairwise-complete); a zero variance on
    * either side yields NULL r. One aggregation pass, |groups| rows out.
    */
  def groupedPearson(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("decimal(19,0)")
    val y = col(yCol).cast("decimal(19,0)")
    val agg = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(x).cast("decimal(38,0)").as("__sx"),
        sum(y).cast("decimal(38,0)").as("__sy"),
        sum(x * y).cast("decimal(38,0)").as("__sxy"),
        sum(x * x).cast("decimal(38,0)").as("__sxx"),
        sum(y * y).cast("decimal(38,0)").as("__syy"))
    val n = col("n").cast("double")
    val sx = col("__sx").cast("double"); val sy = col("__sy").cast("double")
    val sxy = col("__sxy").cast("double")
    val sxx = col("__sxx").cast("double"); val syy = col("__syy").cast("double")
    val dx = n * sxx - sx * sx
    val dy = n * syy - sy * sy
    agg.select(col("grp"), col("n"),
      when(dx > 0 && dy > 0, (n * sxy - sx * sy) / sqrt(dx * dy))
        .as("pearson_r"))
  }

  def pearsonMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns: $cols")
    // evaluate validity + quantization ONCE per column in a projection —
    // inlined into all 6·k(k−1)/2 aggregate expressions they would be
    // re-evaluated (round/cast/isnan) per aggregate per row, measured 4x
    // slower on a 4-column matrix
    val prep = df.select(cols.flatMap { c =>
      // a row is valid for correlation only if the value is present,
      // finite, and inside the quantization range (|x| < 1e9 bounds the
      // micro long at 1e15 so the DECIMAL(38,0) moment sums hold — see
      // the headroom note above) — NaN/±Inf/oversized values are
      // excluded like nulls, and the quantization runs only on valid rows
      // (an unconditional ANSI cast would throw CAST_OVERFLOW on exactly
      // the rows the filter excludes)
      val d = col(c).cast("double")
      val valid = col(c).isNotNull && !isnan(d) && abs(d) < 1e9
      Seq(valid.as(s"__v_$c"),
        when(valid, round(d * 1e6).cast("long"))
          .cast("decimal(19,0)").as(s"__m_$c"))
    }: _*)
    val pairs = cols.combinations(2).toSeq
    def cond(a: String, b: String, e: Column) =
      try_sum(when(col(s"__v_$a") && col(s"__v_$b"), e)).cast("decimal(38,0)")
    def m(c: String) = col(s"__m_$c")
    val aggs = pairs.flatMap { case Seq(a, b) =>
      Seq(
        count(when(col(s"__v_$a") && col(s"__v_$b"), lit(1))).as(s"__n_${a}_$b"),
        cond(a, b, m(a)).as(s"__sa_${a}_$b"),
        cond(a, b, m(b)).as(s"__sb_${a}_$b"),
        cond(a, b, m(a) * m(a)).as(s"__ssa_${a}_$b"),
        cond(a, b, m(b) * m(b)).as(s"__ssb_${a}_$b"),
        cond(a, b, m(a) * m(b)).as(s"__sxy_${a}_$b"))
    }
    val wide = prep.agg(aggs.head, aggs.tail: _*)
    val pairRows = pairs.map { case Seq(a, b) =>
      val sfx = s"${a}_$b"
      val n = col(s"__n_$sfx").cast("double")
      val sa = col(s"__sa_$sfx").cast("double")
      val sb = col(s"__sb_$sfx").cast("double")
      val ssa = col(s"__ssa_$sfx").cast("double")
      val ssb = col(s"__ssb_$sfx").cast("double")
      val sxy = col(s"__sxy_$sfx").cast("double")
      val da = n * ssa - sa * sa
      val db = n * ssb - sb * sb
      struct(lit(a).as("col_a"), lit(b).as("col_b"), col(s"__n_$sfx").as("n"),
        when(da > 0 && db > 0,
          (n * sxy - sa * sb) / sqrt(da * db)).as("r"))
    }
    wide.select(explode(array(pairRows: _*)).as("__e"))
      .select(col("__e.col_a").as("col_a"), col("__e.col_b").as("col_b"),
        col("__e.n").as("n"), col("__e.r").as("r"))
  }

  /** Per-group RELATIVE quality gate: keep a row only if its score sits
    * above the group's `dropBelow` quantile — "drop the bottom decile per
    * language", the dynamic-threshold form of quality filtering (an
    * absolute threshold is meaningless when score distributions differ by
    * group). `pct` is exactly `cume_dist`'s value — (# rows in the group
    * with score ≤ this row's) / (group size), tie-stable (equal scores
    * share a rank) and one IEEE division of exact counts, engine-exact
    * against any oracle's cume_dist window.
    *
    * 100 TB shape: a `cume_dist().over(Window.partitionBy(group))` would
    * sort each group's ENTIRE corpus slice in one task (~20 TB through a
    * single partition for a dominant language). Instead: ONE shuffle
    * aggregates (group, score) → count, the running sum that turns counts
    * into ranks windows over DISTINCT scores only — bounded by score-grid
    * cardinality (micro-unit scores: ≤ a few million rows per group however
    * big the corpus), not corpus size — and the per-row verdict comes back
    * via a join on (group, score). No row-level sort anywhere.
    *
    * Null group/score values join null-safely (a null score forms its own
    * tie-class, ranked first like SQL's NULLS FIRST); NaN scores are the
    * caller's problem (quantize first — NaN breaks any ordering rule).
    *
    * Returns the input plus (pct, kept).
    */
  def percentileGate(df: DataFrame, groupCol: String, scoreCol: String,
      dropBelow: Double): DataFrame = {
    require(dropBelow >= 0 && dropBelow < 1, s"dropBelow in [0,1): $dropBelow")
    val counts = df.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("__c"))
    // running sum over distinct (group, score) rows — the bounded relation
    val wRun = Window.partitionBy(col(groupCol))
      .orderBy(asc_nulls_first(scoreCol))
    val wAll = Window.partitionBy(col(groupCol))
    val pcts = counts
      .withColumn("pct",
        sum(col("__c")).over(wRun).cast("double") /
          sum(col("__c")).over(wAll).cast("double"))
      .select(col(groupCol).as("__g"), col(scoreCol).as("__s"), col("pct"))
    df.join(pcts,
        col(groupCol) <=> col("__g") && col(scoreCol) <=> col("__s"))
      .drop("__g", "__s")
      .withColumn("kept", col("pct") > dropBelow)
  }

  /** Per-group simple OLS regression y ~ x — slope, intercept, and R²
    * from the same exact-moment machinery as [[pearsonMatrix]]: inputs
    * quantized to 1e-6-grid longs, the five moment sums accumulated as
    * DECIMAL(38,0) (order-independent, `try_sum`-guarded), and only the
    * closed-form solution runs in double — the identical IEEE op
    * sequence in any engine. Because x and y share the 1e6 quantization
    * scale, the slope's micro factors cancel exactly; the intercept is
    * de-scaled by one final /1e6. Complete-case semantics (a row counts
    * only when BOTH values are present, finite, and inside the |v| < 1e9
    * grid — the [[pearsonMatrix]] validity gate); a constant-x group
    * yields null slope/intercept/r2.
    *
    * ONE aggregation pass (map-side partial) over the fact table; output
    * is |groups| rows.
    */
  def olsRegression(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val dx = col(xCol).cast("double")
    val dy = col(yCol).cast("double")
    val valid = col(xCol).isNotNull && !isnan(dx) && abs(dx) < 1e9 &&
      col(yCol).isNotNull && !isnan(dy) && abs(dy) < 1e9
    val prep = df.select(col(groupCol), valid.as("__v"),
      when(valid, round(dx * 1e6).cast("long")).cast("decimal(19,0)").as("__mx"),
      when(valid, round(dy * 1e6).cast("long")).cast("decimal(19,0)").as("__my"))
    def cond(e: Column) = try_sum(when(col("__v"), e)).cast("decimal(38,0)")
    val agg = prep.groupBy(col(groupCol)).agg(
      count(when(col("__v"), lit(1))).as("n"),
      cond(col("__mx")).as("__sx"), cond(col("__my")).as("__sy"),
      cond(col("__mx") * col("__mx")).as("__sxx"),
      cond(col("__my") * col("__my")).as("__syy"),
      cond(col("__mx") * col("__my")).as("__sxy"))
    val n = col("n").cast("double")
    val sx = col("__sx").cast("double")
    val sy = col("__sy").cast("double")
    val sxx = col("__sxx").cast("double")
    val syy = col("__syy").cast("double")
    val sxy = col("__sxy").cast("double")
    val varx = n * sxx - sx * sx
    val vary = n * syy - sy * sy
    val cov = n * sxy - sx * sy
    agg.select(col(groupCol), col("n"),
      when(varx > 0, cov / varx).as("slope"),
      when(varx > 0, ((sy - (cov / varx) * sx) / n) / 1e6).as("intercept"),
      when(varx > 0 && vary > 0, (cov * cov) / (varx * vary)).as("r2"))
  }

  /** Welch's two-sample t statistic between every pair of groups — the
    * A/B-comparison primitive (unequal variances, unequal sizes):
    * t = (m₁−m₂)/√(s₁²/n₁+s₂²/n₂) with the Welch–Satterthwaite degrees
    * of freedom. Same exactness contract as [[olsRegression]]: per-group
    * moments are exact DECIMAL sums of 1e-6-grid longs (one aggregation
    * pass, map-side partial), and the statistic is a fixed IEEE op
    * sequence on exact inputs — engine-identical. The micro scale
    * cancels in t (numerator and denominator both carry one 1e6 factor)
    * and in df. No p-value on purpose: Student-t CDFs are libm territory
    * (incomplete beta) and engines disagree in the last ulps; downstream
    * can threshold |t| with df, which is the decision procedure anyway.
    *
    * Groups with n < 2 or zero variance yield null t/df. Output:
    * (group_a, group_b, n_a, n_b, mean_a, mean_b, t, df) for unordered
    * pairs (group_a < group_b); the pair join runs on the |groups|-row
    * aggregate, not the fact table.
    */
  def welchTTest(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val d = col(valueCol).cast("double")
    val valid = col(valueCol).isNotNull && !isnan(d) && abs(d) < 1e9
    val prep = df.select(col(groupCol).as("g"), valid.as("__v"),
      when(valid, round(d * 1e6).cast("long")).cast("decimal(19,0)").as("__m"))
    val agg = prep.groupBy(col("g")).agg(
      count(when(col("__v"), lit(1))).as("n"),
      try_sum(when(col("__v"), col("__m"))).cast("decimal(38,0)").as("__s"),
      try_sum(when(col("__v"), col("__m") * col("__m"))).cast("decimal(38,0)")
        .as("__ss"))
    def stats(side: String) = {
      val n = col(s"n_$side").cast("double")
      val s = col(s"__s_$side").cast("double")
      val ss = col(s"__ss_$side").cast("double")
      // mean in original units; variance-over-n in micro² (cancels in t)
      val mean = (s / n) / 1e6
      val vOverN = ((n * ss - s * s) / (n * (n - 1))) / n
      (n, mean, vOverN)
    }
    val a = agg.select(col("g").as("group_a"), col("n").as("n_a"),
      col("__s").as("__s_a"), col("__ss").as("__ss_a"))
    val b = agg.select(col("g").as("group_b"), col("n").as("n_b"),
      col("__s").as("__s_b"), col("__ss").as("__ss_b"))
    // |groups| rows on each side — broadcast the right side so the
    // inequality pair join can only ever plan as a BNLJ over the tiny
    // aggregate, never a partitioned cartesian
    val joined = a.join(broadcast(b), col("group_a") < col("group_b"))
    val (na, ma, va) = stats("a")
    val (nb, mb, vb) = stats("b")
    val se2 = va + vb
    val tOk = col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0 &&
      col("__s_a").isNotNull && col("__ss_a").isNotNull &&
      col("__s_b").isNotNull && col("__ss_b").isNotNull
    joined.select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
      when(col("n_a") >= 1 && col("__s_a").isNotNull, ma).as("mean_a"),
      when(col("n_b") >= 1 && col("__s_b").isNotNull, mb).as("mean_b"),
      when(tOk, (ma - mb) * 1e6 / sqrt(se2)).as("t"),
      when(tOk, (se2 * se2) /
        (va * va / (na - 1) + vb * vb / (nb - 1))).as("df"))
  }

  /** Population Stability Index drift report: the stream is cut at its
    * time midpoint into a reference and a current half, values are binned
    * into `nBuckets` fixed-width buckets over the global range, and each
    * bucket row carries its add-one-smoothed PSI contribution in
    * micro-units. Integer per-bucket contributions make the report
    * order-independent (a double PSI total would depend on summation
    * order); ln arguments are INTEGER products — (c+1)·(N'+nB) — so the
    * micro-log pattern stays libm-proof. Two scans (bounds, counts), all
    * joins broadcast 1-row aggregates.
    */
  def psiDrift(events: DataFrame, tsCol: String, valueCol: String,
      nBuckets: Int): DataFrame = {
    val e = events.filter(col(valueCol).isNotNull)
      .select(unix_micros(col(tsCol).cast("timestamp")).as("t"),
        col(valueCol).as("v"))
    val bounds = e.agg(min("t").as("mn"), max("t").as("mx"),
      min("v").as("vmn"), max("v").as("vmx"))
    val nb = lit(nBuckets)
    val tagged = e.crossJoin(broadcast(bounds))
      .select(
        when(col("t") * 2 < col("mn") + col("mx"), lit("ref"))
          .otherwise(lit("cur")).as("side"),
        least(lit(nBuckets - 1),
          floor((col("v") - col("vmn")) * nb / (col("vmx") - col("vmn")))
            .cast("int")).as("bucket"))
    val c = tagged.groupBy("bucket").agg(
      sum(when(col("side") === "ref", 1L).otherwise(0L)).as("c_ref"),
      sum(when(col("side") === "cur", 1L).otherwise(0L)).as("c_cur"))
    val n = c.agg(sum("c_ref").as("n_ref"), sum("c_cur").as("n_cur"))
    c.crossJoin(broadcast(n)).select(col("bucket"), col("c_ref"), col("c_cur"),
      round(((col("c_cur") + lit(1.0)) / (col("n_cur") + nb)
             - (col("c_ref") + lit(1.0)) / (col("n_ref") + nb)) *
        (round(log((col("c_cur") + 1) * (col("n_ref") + nb)) * 1e6).cast("long")
         - round(log((col("c_ref") + 1) * (col("n_cur") + nb)) * 1e6).cast("long")))
        .cast("long").as("contrib_micro"))
  }

  /** Per-group binomial rate with a Wilson 95% score interval — the
    * classifier-eval staple (accuracy/pass-rate ± CI per slice). The
    * interval is a fixed closed-form IEEE sequence over the two exact
    * counts (k, n) and the literal z, so it reproduces bit-for-bit in
    * the oracle (sqrt is correctly rounded per IEEE 754); no libm
    * distribution functions involved. One aggregate; output is
    * |groups|-sized.
    */
  def groupedWilson(df: DataFrame, groupCol: String, hitCol: Column,
      z: Double = 1.96): DataFrame = {
    val agg = df.groupBy(col(groupCol).as("grp")).agg(
      count(lit(1)).as("n"),
      sum(when(hitCol, 1L).otherwise(0L)).as("k"))
    val zz = lit(z) * lit(z)
    val p = col("k").cast("double") / col("n")
    val denom = lit(1.0) + zz / col("n")
    val center = (p + zz / (lit(2.0) * col("n"))) / denom
    val half = (lit(z) * sqrt(p * (lit(1.0) - p) / col("n") +
      zz / (lit(4.0) * col("n") * col("n")))) / denom
    // clamp to [0,1]: the Wilson bounds are mathematically inside the
    // unit interval but the IEEE sequence can overshoot by an ulp
    agg.select(col("grp"), col("n"), col("k"), p.as("rate"),
      greatest(lit(0.0), center - half).as("ci_lo"),
      least(lit(1.0), center + half).as("ci_hi"))
  }

  /** Per-source dataset card: the one-row-per-source summary a data team
    * exports with a corpus (docs, tokens, token-length p50/p90, language
    * entropy, exact-dup share). Every statistic is exact-integer-derived
    * so the card hash-matches the oracle: percentiles come from
    * DISTINCT-length count grids (windows bounded by the length grid,
    * q97's argument), entropy from the q89 micro-log identity
    * H = ln n − (Σ c·ln c)/n over integer counts, and the dup share from
    * the corpus-wide full-text fingerprint counts (q19's domain).
    */
  def datasetCard(docs: DataFrame, sourceCol: String, langCol: String,
      idCol: String, textCol: String): DataFrame = {
    val base = graft.CacheScope.register(graft.Parallelism.fanOut(
        docs.select(col(sourceCol).as("source"), col(langCol).as("lang"),
          col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("source"), col("lang"), col("id"),
        size(graft.functions.TextFns.tokens(col("__t"))).as("len"),
        graft.functions.TextFns.fingerprint(col("__t")).as("fp")))
    val core = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"), sum(col("len")).as("n_tokens"))
    val lc = base.groupBy("source", "len").agg(count(lit(1)).as("c"))
    val wsrc = Window.partitionBy("source").orderBy("len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lcum = lc.select(col("source"), col("len"),
      sum("c").over(wsrc).as("cum"),
      sum("c").over(Window.partitionBy("source")).as("n"))
    val pct = lcum.groupBy("source").agg(
      min(when(col("cum") * 2 >= col("n"), col("len"))).as("tok_p50"),
      min(when(col("cum") * 10 >= col("n") * 9, col("len"))).as("tok_p90"))
    val lang = base.groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .groupBy("source").agg(sum(col("c")).as("n"),
        sum(col("c") * round(log(col("c")) * 1e6).cast("long")).as("sclc"))
      .select(col("source"),
        (round(log(col("n")) * 1e6).cast("long").cast("double")
          - col("sclc").cast("double") / col("n")).as("lang_entropy_micro"))
    val fpc = base.groupBy("fp").agg(count(lit(1)).as("fcnt"))
    val dup = base.join(fpc, "fp").groupBy("source").agg(
      sum(when(col("fcnt") >= 2, 1L).otherwise(0L)).as("dup_docs"))
    core.join(pct, "source").join(lang, "source").join(dup, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("tok_p50"), col("tok_p90"), col("lang_entropy_micro"),
        col("dup_docs"),
        (col("dup_docs").cast("double") / col("n_docs")).as("dup_share"))
  }

  /** Cross-group quantile normalization: each (group, score) is mapped to
    * the global score at the same quantile — the rank-preserving transform
    * that puts per-source quality scores on one comparable scale before
    * mixing. Scale-safe shape: both CDFs are built from DISTINCT-score
    * count aggregates (the q97 percentileGate argument — window input is
    * the score grid, never the corpus), and the inverse-CDF lookup is a
    * single ordered window over the two grids interleaved by CDF fraction
    * (an as-of merge, not an inequality join). Fractions are
    * double-divided from identical integers on both engines, so ordering
    * and ties reproduce bit-exactly.
    */
  def quantileNormalize(df: DataFrame, groupCol: String,
      scoreCol: String): DataFrame = {
    val sc = df.groupBy(col(groupCol).as("grp"),
        col(scoreCol).cast("long").as("score"))
      .agg(count(lit(1)).as("c"))
    val wg = Window.partitionBy("grp").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scum = sc.select(col("grp"), col("score"),
      sum("c").over(wg).as("cum"),
      sum("c").over(Window.partitionBy("grp")).as("n"))
    val g = df.groupBy(col(scoreCol).cast("long").as("gscore"))
      .agg(count(lit(1)).as("gc"))
    val wgl = Window.orderBy("gscore")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gcum = g.select(col("gscore"),
      sum("gc").over(wgl).as("gcum"),
      sum("gc").over(Window.partitionBy()).as("gn"))
    val sRows = scum.select(
      (col("cum").cast("double") / col("n")).as("frac"), lit(0).as("is_g"),
      col("grp"), col("score"), lit(null).cast("long").as("gscore"))
    val gRows = gcum.select(
      (col("gcum").cast("double") / col("gn")).as("frac"), lit(1).as("is_g"),
      lit(null).cast("string").as("grp"), lit(null).cast("long").as("score"),
      col("gscore"))
    // first global row at-or-after this fraction: global rows sort AFTER
    // source rows at equal frac, so the current-to-following min sees them
    val wm = Window.orderBy("frac", "is_g")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    sRows.unionByName(gRows)
      .select(col("grp"), col("score"), col("is_g"),
        min("gscore").over(wm).as("normalized"))
      .filter(col("is_g") === 0)
      .select(col("grp"), col("score"), col("normalized"))
  }

  /** Mutual information between two CATEGORICAL columns (complete-case),
    * with both marginal entropies and the normalized MI — the association
    * audit between corpus facets ("how much does source determine
    * language?"): correlation only sees ordered numerics; MI is the
    * categorical analogue.
    *
    * Exactness: the q89/q110 micro-log identity — every term is
    * `count · (lnµ(n_ab) + lnµ(N) − lnµ(n_a) − lnµ(n_b))` over EXACT
    * integer counts, where lnµ(k) = round(ln(k)·1e6); sums are
    * order-independent BIGINT. `mi_micro_sum / (N·1e6)` ≈ MI in nats;
    * `nmi` divides the integer sums directly (the scale cancels), with
    * the product taken in DOUBLE so a 100 TB-scale entropy sum cannot
    * overflow the long.
    *
    * Scale shape: one scan for the joint (shuffle on (a, b)), marginals
    * as two |A|-/|B|-row aggregates joined back (broadcast-sized), three
    * 1-row aggregates assembled by trivial cross joins. Output: ONE row
    * (n, mi_micro_sum, h_a_micro_sum, h_b_micro_sum, nmi).
    */
  def mutualInformation(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = graft.CacheScope.register(
      df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
        .select(col(aCol).as("__a"), col(bCol).as("__b")))
    val n = base.count()
    require(n > 0, "mutualInformation: no complete-case rows")
    def lnM(c: Column): Column = round(log(c.cast("double")) * 1e6).cast("long")
    val lnN = lnM(lit(n))
    val joint = base.groupBy("__a", "__b").agg(count(lit(1)).as("nab"))
    val ma = base.groupBy("__a").agg(count(lit(1)).as("na"))
    val mb = base.groupBy("__b").agg(count(lit(1)).as("nb"))
    val mi = joint.join(ma, "__a").join(mb, "__b")
      .agg(sum(col("nab") * (lnM(col("nab")) + lnN -
        lnM(col("na")) - lnM(col("nb")))).as("mi_micro_sum"))
    val ha = ma.agg(sum(col("na") * (lnN - lnM(col("na")))).as("h_a_micro_sum"))
    val hb = mb.agg(sum(col("nb") * (lnN - lnM(col("nb")))).as("h_b_micro_sum"))
    mi.crossJoin(ha).crossJoin(hb)
      .select(lit(n).as("n"), col("mi_micro_sum"),
        col("h_a_micro_sum"), col("h_b_micro_sum"),
        when(col("h_a_micro_sum") > 0 && col("h_b_micro_sum") > 0,
          col("mi_micro_sum").cast("double") /
            sqrt(col("h_a_micro_sum").cast("double") *
              col("h_b_micro_sum").cast("double"))).as("nmi"))
  }

  /** Distributed logistic regression (Newton/IRLS) — the quality-filter
    * CALIBRATOR: fit P(label | features) so heuristic feature scores
    * (length, punctuation, perplexity…) become one calibrated probability
    * per document, the way production corpus filters weight their signals
    * (a fixed hand-weighted sum is exactly what this replaces).
    *
    * Exactness/determinism contract (the [[olsRegression]] scheme lifted
    * to an iterative model): per row the gradient and Hessian
    * contributions are pure codegen'd doubles, quantized to a 1e-9 grid
    * (`round(c·1e9)` longs) and summed as DECIMAL(38,0) — an
    * order-independent exact reduction, so the fitted coefficients are
    * BIT-IDENTICAL across partitionings, reruns, and cluster sizes. The
    * tiny (m+1)² normal system is solved on the driver (partial-pivot
    * Gaussian elimination on exact-sum-derived doubles — a fixed IEEE op
    * sequence), with a `ridge` L2 diagonal for separation safety.
    * p is clamped to [1e-12, 1−1e-12] before the log-likelihood so a
    * saturated row cannot emit ±Inf.
    *
    * Scale shape: `iters` whole-stage-codegen aggregation passes over the
    * (cached) feature projection — one global partial+final agg each, no
    * shuffle of the corpus, no per-row state on the driver. Rows with any
    * NULL/NaN feature or label are dropped (complete-case, as
    * [[olsRegression]]).
    *
    * Returns one row per iteration: (iter, loglik_nano, beta_0 …
    * beta_m) — beta_0 the intercept, beta_j the coefficient of
    * `xCols(j-1)`; loglik_nano the exact 1e-9-grid log-likelihood sum
    * AFTER that iteration's update (monotone non-decreasing on sane
    * data; the convergence audit rides the output).
    */
  def logisticCalibrator(df: DataFrame, labelCol: String, xCols: Seq[String],
      iters: Int = 4, ridge: Double = 1e-6): DataFrame = {
    require(xCols.nonEmpty && iters >= 1)
    val m = xCols.size + 1 // + intercept
    val spark = df.sparkSession
    val y = col(labelCol).cast("double")
    val feats = lit(1.0) +: xCols.map(c => col(c).cast("double"))
    val valid = (col(labelCol).isNotNull && !isnan(y) &&
      (y === 0.0 || y === 1.0)) &&
      xCols.map(c => col(c).isNotNull && !isnan(col(c).cast("double")) &&
        abs(col(c).cast("double")) < lit(1e9)).reduce(_ && _)
    val prep = graft.CacheScope.register(
      df.filter(valid)
        .select((y.as("__y") +: feats.zipWithIndex.map {
          case (f, j) => f.as(s"__x$j") }).toIndexedSeq: _*))
    def nano(e: Column): Column =
      try_sum(round(e * 1e9).cast("long").cast("decimal(38,0)"))
    var beta = Array.fill(m)(0.0)
    val out = Seq.newBuilder[(Int, Long, Seq[Double])]
    for (it <- 1 to iters) {
      val eta = beta.zipWithIndex.map { case (b, j) =>
        lit(b) * col(s"__x$j") }.reduce(_ + _)
      val p0 = lit(1.0) / (lit(1.0) + exp(-eta))
      val p = least(greatest(p0, lit(1e-12)), lit(1.0 - 1e-12))
      val w = p * (lit(1.0) - p)
      val r = col("__y") - p
      val gradCols = (0 until m).map(j => nano(r * col(s"__x$j")).as(s"g$j"))
      val hessCols = for (j <- 0 until m; k <- j until m)
        yield nano(w * col(s"__x$j") * col(s"__x$k")).as(s"h${j}_$k")
      val row = prep.agg(gradCols.head, (gradCols.tail ++ hessCols): _*).first()
      def bd(name: String): Double = {
        val d = row.getAs[java.math.BigDecimal](name)
        if (d == null) 0.0 else d.movePointLeft(9).doubleValue()
      }
      val g = Array.tabulate(m)(j => bd(s"g$j"))
      val h = Array.tabulate(m, m)((j, k) =>
        (if (j <= k) bd(s"h${j}_$k") else bd(s"h${k}_$j")) +
          (if (j == k) ridge else 0.0))
      val delta = solve(h, g)
      beta = beta.zipWithIndex.map { case (b, j) => b + delta(j) }
      // log-likelihood AFTER the update (exact nano-grid sum)
      val eta2 = beta.zipWithIndex.map { case (b, j) =>
        lit(b) * col(s"__x$j") }.reduce(_ + _)
      val p2 = least(greatest(lit(1.0) / (lit(1.0) + exp(-eta2)),
        lit(1e-12)), lit(1.0 - 1e-12))
      val llRow = prep.agg(nano(col("__y") * log(p2) +
        (lit(1.0) - col("__y")) * log(lit(1.0) - p2)).as("ll")).first()
      val ll = Option(llRow.getAs[java.math.BigDecimal]("ll"))
        .map(_.longValueExact()).getOrElse(0L)
      out += ((it, ll, beta.toSeq))
    }
    import spark.implicits._
    out.result()
      .map { case (it, ll, b) => (it, ll, b.head, b.tail) }
      .toDF("iter", "loglik_nano", "beta_intercept", "betas")
  }

  /** Exact ROC AUC of an integer score against a boolean label — the
    * Mann-Whitney rank-sum face: AUC = P(score⁺ > score⁻) + ½P(tie). The
    * classifier-eval companion to [[groupedWilson]]: "does the quality
    * score actually rank English docs above the rest?".
    *
    * Exactness: scores collapse to a DISTINCT-score grid of
    * (c_pos, c_neg) counts; one ordered window over THAT GRID (the q97
    * percentileGate argument — window input is the score grid, never the
    * corpus) accumulates negatives strictly below each score, and
    *   auc_num2 = Σ_s c_pos(s) · (2·cum_neg_below(s) + c_neg(s))
    * is an exact BIGINT with denominator 2·P·N; `auc` is the single
    * final IEEE division. Ties contribute the exact half weight with no
    * floating point anywhere before the last op.
    *
    * Scale shape: one shuffle to the score grid, one grid-sized window,
    * one 1-row aggregate. Output: ONE row (n_pos, n_neg, auc_num2, auc).
    */
  def rocAuc(df: DataFrame, labelCol: Column, scoreCol: Column): DataFrame = {
    val grid = df.filter(scoreCol.isNotNull && labelCol.isNotNull)
      .groupBy(scoreCol.cast("long").as("score"))
      .agg(sum(when(labelCol, 1L).otherwise(0L)).as("c_pos"),
        sum(when(labelCol, 0L).otherwise(1L)).as("c_neg"))
    val w = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    grid
      .select(col("c_pos"), col("c_neg"),
        coalesce(sum("c_neg").over(w), lit(0L)).as("neg_below"))
      .agg(sum("c_pos").as("n_pos"), sum("c_neg").as("n_neg"),
        sum(col("c_pos") * (col("neg_below") * 2 + col("c_neg")))
          .as("auc_num2"))
      .select(col("n_pos"), col("n_neg"), col("auc_num2"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("auc_num2").cast("double") /
            (col("n_pos").cast("double") * col("n_neg") * 2.0)).as("auc"))
  }

  /** Reliability diagram + Brier decomposition inputs for a
    * micro-integer probability column (0..1e6) against a boolean label:
    * per fixed-width bin — row count, positives, the exact
    * Σ p_micro (mean predicted = one final division) and the exact
    * squared-error sum Σ (p_micro − y·1e6)² (corpus Brier·1e12 = the
    * BIGINT total across bins). The calibration-audit face of q160's
    * calibrator: "when the score says 70%, is it right 70% of the time?"
    *
    * Exactness: bin id, counts, and both sums are pure integer
    * arithmetic (p ≤ 1e6 ⇒ each square ≤ 1e12; DECIMAL(38,0) sum is
    * overflow-proof at any corpus size); the two rate doubles are final
    * pinned divisions. One shuffle to `bins` groups; output ≤ bins rows.
    */
  def calibrationBins(df: DataFrame, labelCol: Column, pMicroCol: Column,
      bins: Int = 10): DataFrame = {
    val p = pMicroCol.cast("long")
    val y = when(labelCol, 1L).otherwise(0L)
    val bin = least(lit(bins - 1L), (p * bins).cast("long") / lit(1000000L))
      .cast("long")
    df.filter(pMicroCol.isNotNull && labelCol.isNotNull)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"), sum(y).as("k"),
        sum(p.cast("decimal(38,0)")).cast("decimal(38,0)").as("sum_p_micro"),
        sum(((p - y * 1000000L) * (p - y * 1000000L)).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("brier_num_sum"))
      .select(col("bin"), col("n"), col("k"),
        col("sum_p_micro").cast("long").as("sum_p_micro"),
        col("brier_num_sum").cast("long").as("brier_num_sum"),
        (col("sum_p_micro").cast("double") / (col("n") * lit(1e6)))
          .as("mean_p"),
        (col("k").cast("double") / col("n")).as("rate"))
  }

  /** Cohen's kappa between two categorical labelers — chance-corrected
    * agreement, the standard audit when two independent heuristics (e.g.
    * the lexicon and char-ngram language-ID faces) label the same corpus:
    * raw agreement flatters any pair that both predict the majority
    * class.
    *
    * Exactness: κ = (n·A − E) / (n² − E) where A = exact agreement
    * count and E = Σ_c n₁(c)·n₂(c) over the marginal count tables —
    * all BIGINT (marginal products ≤ n² ≤ 2^63 for n ≤ 3·10⁹ per
    * labeler-slice; the sums ride DECIMAL(38,0) so even that bound is
    * soft); κ itself is the one final IEEE division.
    *
    * Scale shape: one agreement aggregate + two |classes|-row marginal
    * aggregates joined on class (broadcast-sized); output ONE row.
    */
  def cohensKappa(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val base = graft.CacheScope.register(
      df.filter(aCol.isNotNull && bCol.isNotNull)
        .select(aCol.as("__a"), bCol.as("__b")))
    val tot = base.agg(count(lit(1)).as("n"),
      sum(when(col("__a") === col("__b"), 1L).otherwise(0L)).as("agree"))
    val ma = base.groupBy(col("__a").as("cls")).agg(count(lit(1)).as("na"))
    val mb = base.groupBy(col("__b").as("cls")).agg(count(lit(1)).as("nb"))
    val e = ma.join(mb, "cls")
      .agg(sum((col("na") * col("nb")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("e"))
    tot.crossJoin(e).select(col("n"), col("agree"),
      col("e").cast("long").as("chance_num"),
      when(col("n") * col("n") =!= col("e").cast("long"),
        (col("n") * col("agree") - col("e").cast("long")).cast("double") /
          (col("n") * col("n") - col("e").cast("long")).cast("double"))
        .as("kappa"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns, with Cramér's V — the significance companion to
    * [[mutualInformation]] (MI measures association strength in nats;
    * χ² answers "could this contingency arise under independence?").
    *
    * Exactness: each cell's contribution
    *   (O·n − n_a·n_b)² / (n_a·n_b·n)
    * is computed as a fixed IEEE sequence over exact integer counts,
    * rounded HALF_UP to the 1e-6 grid, and summed as BIGINT — the PSI/
    * chi2 micro-contribution scheme (order-independent). Exactness
    * window: |O·n| and |n_a·n_b| must stay below 2^53 (n ≤ ~9·10⁶ rows
    * per slice at worst-case marginals) — beyond that route the products
    * through DECIMAL first, as embeddingCovariance does.
    *
    * Scale shape: one shuffle to the (a, b) contingency grid, two
    * marginal aggregates joined back, one 1-row total. Output: ONE row
    * (n, n_cells, dof, chi2_micro_sum, cramers_v).
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = graft.CacheScope.register(
      df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
        .select(col(aCol).as("__a"), col(bCol).as("__b")))
    val n = base.count()
    require(n > 0, "chiSquare: no complete-case rows")
    val joint = base.groupBy("__a", "__b").agg(count(lit(1)).as("o"))
    val ma = base.groupBy("__a").agg(count(lit(1)).as("na"))
    val mb = base.groupBy("__b").agg(count(lit(1)).as("nb"))
    val ka = ma.count()
    val kb = mb.count()
    // all (a, b) marginal pairs, INCLUDING zero-observed cells — their
    // (0·n − na·nb)²/(na·nb·n) contribution is na·nb/n, not zero
    val cells = ma.crossJoin(mb)
      .join(joint, Seq("__a", "__b"), "left")
      .select(col("na"), col("nb"), coalesce(col("o"), lit(0L)).as("o"))
    val contrib = {
      val num = col("o").cast("double") * n - col("na").cast("double") * col("nb")
      val den = col("na").cast("double") * col("nb") * n
      round(num * num / den * 1e6).cast("long")
    }
    cells.agg(sum(contrib).as("chi2_micro_sum"),
        count(lit(1)).as("n_cells"))
      .select(lit(n).as("n"), col("n_cells"),
        lit((ka - 1) * (kb - 1)).as("dof"),
        col("chi2_micro_sum"),
        when(lit(math.min(ka, kb)) > 1,
          sqrt(col("chi2_micro_sum").cast("double") /
            (lit(1e6) * n * math.min(ka - 1, kb - 1).toDouble)))
          .as("cramers_v"))
  }

  /** G-TEST of independence (likelihood-ratio chi-square) over the same
    * contingency as [[chiSquare]]: G = 2·Σ O·ln(O/E) — the
    * information-theoretic twin (G = 2N·MI in nats), additive across
    * partitions where Pearson's χ² is not, and the better-calibrated
    * statistic when some expected counts are small-ish.
    *
    * Exactness: ln(O/E) = ln(O·n) − ln(nₐ·n_b) with BOTH logs
    * micro-rounded (each argument an exact integer < 2^53 — the
    * chiSquare exactness window), so every cell contribution
    * O·(lnm₁ − lnm₂) is an exact BIGINT and G is one final division by
    * 1e6 (÷2 folded in). Zero-observed cells contribute exactly 0 in a
    * G-test (lim x·ln x = 0), so only the JOINT relation is scanned —
    * no marginal cross join at all, one shuffle to the contingency
    * grid.
    *
    * Output ONE row: (n, n_cells_observed, dof, g_micro_sum, g_stat).
    */
  def gTest(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val base = graft.CacheScope.register(
      df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
        .select(col(aCol).as("__a"), col(bCol).as("__b")))
    val n = base.count()
    require(n > 0, "gTest: no complete-case rows")
    val joint = base.groupBy("__a", "__b").agg(count(lit(1)).as("o"))
    val ma = base.groupBy("__a").agg(count(lit(1)).as("na"))
    val mb = base.groupBy("__b").agg(count(lit(1)).as("nb"))
    val ka = ma.count()
    val kb = mb.count()
    def lnm(c: Column) = round(log(dbl(c)) * 1e6).cast("long")
    joint.join(ma, "__a").join(mb, "__b")
      .select(col("o"),
        (lnm(col("o") * n) - lnm(col("na") * col("nb"))).as("__dl"))
      .agg(sum(d(col("o")) * d(col("__dl"))).cast("long")
          .as("g_micro_sum"),
        count(lit(1)).as("n_cells_observed"))
      .select(lit(n).as("n"), col("n_cells_observed"),
        lit((ka - 1) * (kb - 1)).as("dof"),
        col("g_micro_sum"),
        (lit(2.0) * dbl(col("g_micro_sum")) / lit(1e6)).as("g_stat"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic over an integer score —
    * the distribution-shift audit between two corpus slices (does the
    * quality-score distribution of English docs differ from the rest?):
    * D = max_v |F₁(v) − F₂(v)|, computed EXACTLY as the integer
    *   d_num = max_v |K₁(v)·n₂ − K₂(v)·n₁|
    * over the merged DISTINCT-score grid (denominator n₁·n₂), with
    * `at_value` the smallest score attaining the max — no floating
    * point before the one final division.
    *
    * Scale shape: one shuffle to the score grid, one grid window, two
    * 1-row aggregates broadcast back. Exactness window: K·n products
    * stay in BIGINT for samples ≤ ~3·10⁹ rows each. Output: ONE row.
    */
  def ksTest(df: DataFrame, sampleCol: Column, valueCol: Column): DataFrame = {
    val grid = df.filter(valueCol.isNotNull && sampleCol.isNotNull)
      .groupBy(valueCol.cast("long").as("v"))
      .agg(sum(when(sampleCol, 1L).otherwise(0L)).as("c1"),
        sum(when(sampleCol, 0L).otherwise(1L)).as("c2"))
    val tot = grid.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dev = graft.CacheScope.register(
      grid.select(col("v"), sum("c1").over(w).as("k1"),
          sum("c2").over(w).as("k2"))
        .crossJoin(broadcast(tot))
        .select(col("v"), col("n1"), col("n2"),
          abs(col("k1") * col("n2") - col("k2") * col("n1")).as("dev")))
    val mx = dev.agg(max(col("dev")).as("d_num"))
    dev.join(broadcast(mx), col("dev") === col("d_num"))
      .agg(max("n1").as("n1"), max("n2").as("n2"),
        max("dev").as("d_num"), min("v").as("at_value"))
      .select(col("n1"), col("n2"), col("d_num"),
        when(col("n1") > 0 && col("n2") > 0,
          col("d_num").cast("double") /
            (col("n1").cast("double") * col("n2"))).as("d"),
        col("at_value"))
  }

  /** TWO-SAMPLE ANDERSON-DARLING statistic (Scholz & Stephens 1987,
    * tie-aware A²_kN at k = 2) — the TAIL-SENSITIVE member of the drift
    * family: [[ksTest]] sees only the single largest CDF gap (middle-
    * heavy), [[emdPairwise]] charges by distance moved; AD weights the
    * squared gap by 1/(F(1−F)), so a divergence in the tails — exactly
    * where a contaminated or truncated corpus slice hides — dominates
    * the statistic. Under H₀, E[A²] ≈ 1; values ≫ 1 flag a shift.
    *
    * A²₂N = Σ_{i∈{1,2}} (1/nᵢ) Σ_{j: B_j<N} l_j·(N·M_ij − nᵢ·B_j)² /
    * (B_j·(N−B_j)·N) over the distinct-value grid (l_j = ties at v_j,
    * B_j/M_ij = cumulative counts). Exactness: the deviation
    * N·M_ij − nᵢ·B_j rides DECIMAL (its square exceeds 2^53 at ~30k
    * rows), each grid term is ONE pinned IEEE expression micro-rounded
    * and summed as BIGINT (the chi2 per-cell scheme — order-free), and
    * A² is a final division. Scale shape: [[ksTest]]'s distinct-value
    * grid cumulations, one 1-row total, no joins beyond the broadcast.
    *
    * Output ONE row: (n1, n2, n_grid, a2_micro_sum, a2).
    */
  def andersonDarling2(df: DataFrame, sampleCol: Column,
      valueCol: Column): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val grid = df.filter(valueCol.isNotNull && sampleCol.isNotNull)
      .groupBy(valueCol.cast("long").as("v"))
      .agg(sum(when(sampleCol, 1L).otherwise(0L)).as("c1"),
        sum(when(sampleCol, 0L).otherwise(1L)).as("c2"))
    val tot = grid.agg(sum("c1").cast("long").as("n1"),
      sum("c2").cast("long").as("n2"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .select(col("v"), (col("c1") + col("c2")).as("l"),
        sum("c1").over(w).as("k1"), sum("c2").over(w).as("k2"))
      .crossJoin(broadcast(tot))
      .withColumn("nn", col("n1") + col("n2"))
      .withColumn("b", col("k1") + col("k2"))
      .filter(col("b") < col("nn")) // the last grid point contributes 0/0
    def termMicro(ki: Column, ni: Column): Column = {
      val devSq = {
        val dev = d(col("nn")) * d(ki) - d(ni) * d(col("b"))
        dbl(dev * dev)
      }
      // pinned sequence: l·dev² / (B·(N−B)·N·nᵢ), each factor exact.
      // nᵢ = 0 (one sample empty) would divide to NaN, which
      // round(..).cast(long) silently turns into 0 while DuckDB's CAST
      // errors (ADVICE r11) — guard the degenerate case to an explicit 0
      // (the empty sample's ECDF contributes no deviation mass anyway).
      when(ni > 0,
        round(dbl(col("l")) * devSq /
          (dbl(col("b")) * dbl(col("nn") - col("b")) * dbl(col("nn")) *
            dbl(ni)) * 1e6).cast("long"))
        .otherwise(lit(0L))
    }
    cum
      .select(col("n1"), col("n2"),
        termMicro(col("k1"), col("n1")).as("t1"),
        termMicro(col("k2"), col("n2")).as("t2"))
      .groupBy("n1", "n2")
      .agg(count(lit(1)).cast("long").as("n_grid"),
        (sum("t1") + sum("t2")).cast("long").as("a2_micro_sum"))
      .select(col("n1"), col("n2"), col("n_grid"), col("a2_micro_sum"),
        when(col("n1") > 0 && col("n2") > 0,
          dbl(col("a2_micro_sum")) / lit(1e6)).as("a2"))
  }

  /** Conditional entropy rate H(next | current) of a first-order
    * transition process, from a (from, to, n) count relation — "how
    * predictable is the next event given the current one": H = 0 means
    * deterministic flows, H = ln(k) means uniform chaos. The scalar
    * summary of q127's full transition matrix.
    *
    * Exactness: the q89/q110 micro-log identity per cell —
    * n_ij·(lnµ(n_i) − lnµ(n_ij)) — summed as BIGINT; per-state rows
    * carry exact integers, and ONE total row (state NULL) carries the
    * final division H = Σ/(N·1e6) in nats.
    */
  def entropyRate(counts: DataFrame, fromCol: String,
      nCol: String): DataFrame = {
    def lnM(c: Column): Column = round(log(c.cast("double")) * 1e6).cast("long")
    val withTot = counts.select(col(fromCol).as("state"),
        col(nCol).cast("long").as("n"))
      .withColumn("ni", sum("n").over(Window.partitionBy("state")))
    val per = withTot.groupBy("state")
      .agg(max("ni").as("n_from"),
        sum(col("n") * (lnM(col("ni")) - lnM(col("n")))).as("h_micro_sum"))
    val tot = per.agg(sum("n_from").as("n"), sum("h_micro_sum").as("h"))
    per.select(col("state"), col("n_from"), col("h_micro_sum"),
        lit(null).cast("double").as("entropy_rate"))
      .unionByName(tot.select(lit(null).cast("string").as("state"),
        col("n").as("n_from"), col("h").as("h_micro_sum"),
        (col("h").cast("double") / (col("n") * lit(1000000.0)))
          .as("entropy_rate")))
  }

  /** Isotonic (PAV) calibration over a binned score→rate table — the
    * nonparametric alternative to [[logisticCalibrator]]: given per-bin
    * (positives k, totals n) ordered by bin, the least-squares MONOTONE
    * rate curve. Pool-adjacent-violators is the textbook algorithm, but
    * its sequential pooling is hostile to both SQL replay and
    * distribution; this uses the equivalent CLOSED FORM
    *   iso(i) = max_{j ≤ i} min_{k ≥ i} avg(y[j..k])
    * — three bounded grid joins (B³ rows for B bins), no driver loop, no
    * iteration, embarrassingly parallel.
    *
    * Exactness: segment averages are single IEEE divisions of exact
    * BIGINT (K, N) cumulative differences; min/max over identical
    * doubles agree across engines; ties cost nothing (min/max, not
    * argmin). One global window builds the B-row cumulative table —
    * bin-grid bounded.
    *
    * Returns (bin, n, k, rate, iso_rate) with iso_rate non-decreasing.
    */
  def isotonicCalibration(bins: DataFrame, binCol: String, kCol: String,
      nCol: String): DataFrame = {
    val w = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = graft.CacheScope.register(
      bins.select(col(binCol).cast("long").as("b"),
          col(kCol).cast("long").as("k"), col(nCol).cast("long").as("n"))
        .select(col("b"), col("k"), col("n"),
          sum("k").over(w).as("ck"), sum("n").over(w).as("cn")))
    // segment (j..k) totals from cumulative differences: B² rows. The
    // range conditions are non-equi — broadcast the (tiny, bin-grid)
    // build sides explicitly so the planner nests loops over a broadcast
    // instead of falling into a cartesian
    val segs = cum.select(col("b").as("j"), col("ck").as("ckj"),
        col("cn").as("cnj"), col("k").as("kj"), col("n").as("nj"))
      .join(broadcast(cum.select(col("b").as("kk"), col("ck").as("ckk"),
        col("cn").as("cnk"))), col("j") <= col("kk"))
      .select(col("j"), col("kk"),
        ((col("ckk") - col("ckj") + col("kj")).cast("double") /
          (col("cnk") - col("cnj") + col("nj")).cast("double")).as("avg"))
    // min over k ≥ i per (j, i), then max over j ≤ i per i: B³ join
    val iso = segs
      .join(broadcast(cum.select(col("b").as("i"))),
        col("j") <= col("i") && col("i") <= col("kk"))
      .groupBy("j", "i").agg(min("avg").as("mn"))
      .groupBy("i").agg(max("mn").as("iso_rate"))
    cum.join(iso, col("b") === col("i"))
      .select(col("b").as(binCol), col("n"), col("k"),
        (col("k").cast("double") / col("n")).as("rate"), col("iso_rate"))
  }

  /** Key-skew report over a grouping column: Gini coefficient, Shannon
    * entropy (micro-log identity), top-1 share, and effective key count
    * of the per-key row-count distribution — the diagnostic that decides
    * when a join/agg needs [[graft.operators.Skew]]'s salting (a Gini
    * near 1 or a top-1 share over 1/shufflePartitions means one reducer
    * owns the stage).
    *
    * Exactness: with per-key counts x₍₁₎ ≤ … ≤ x₍n₎ (ties broken by key
    * — Σ i·xᵢ is invariant within a tie block, so the order is
    * deterministic AND canonical),
    *   gini_num = 2·Σ i·x₍ᵢ₎ − (n+1)·Σx,  gini_den = n·Σx,
    * both exact via DECIMAL(38,0); entropy rides the q89 micro-log
    * identity H·n = n·lnµ(N) − Σ x·lnµ(x) over exact counts. The two
    * doubles are final pinned divisions.
    *
    * Scale shape: one shuffle to the key grid, one window + aggregate
    * over |keys| rows (grid-bounded, the q97 argument — dimension
    * cardinality, not corpus size). Output: ONE row.
    */
  def keySkewReport(df: DataFrame, keyCol: Column): DataFrame = {
    val counts = df.filter(keyCol.isNotNull)
      .groupBy(keyCol.cast("string").as("key"))
      .agg(count(lit(1)).as("x"))
    val w = Window.orderBy("x", "key")
    def lnM(c: Column): Column = round(log(c.cast("double")) * 1e6).cast("long")
    counts
      .select(col("x"), row_number().over(w).cast("long").as("i"))
      .agg(count(lit(1)).as("n_keys"), sum("x").as("total"),
        max("x").as("top1"),
        sum((col("i") * col("x")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("six"),
        sum(col("x") * lnM(col("x"))).as("sxlx"))
      .select(col("n_keys"), col("total"), col("top1"),
        (col("six").cast("long") * 2 - (col("n_keys") + 1) * col("total"))
          .as("gini_num"),
        (col("n_keys") * col("total")).as("gini_den"),
        ((col("six").cast("long") * 2 - (col("n_keys") + 1) * col("total"))
          .cast("double") / (col("n_keys") * col("total")).cast("double"))
          .as("gini"),
        (lnM(col("total")).cast("double") -
          col("sxlx").cast("double") / col("total")).as("entropy_micro"),
        (col("top1").cast("double") / col("total")).as("top1_share"))
  }

  /** Spearman rank correlation per group — the monotone-association
    * audit (Pearson/[[olsRegression]] see only linear structure; a
    * perfect x→x³ relation scores ρ=1 here and r²<1 there).
    *
    * Tie-aware: each row's doubled average rank 2·r̄ = 2·rank + c − 1
    * (rank = min rank of its tie group, c = tie-group size) is an exact
    * integer, so ρ = Pearson over the (2rx̄, 2rȳ) integers — the tie
    * correction is implicit and no fractional rank ever materializes.
    * Values are ranked on the 1e-6 micro grid (ties well-defined and
    * engine-identical); moments ride DECIMAL(38,0) (2r̄ ≤ 2n, so
    * n·Σ(2r̄)² ~ n⁴ stays exact to n ~ 10⁹ rows per group); ρ is one
    * pinned IEEE division/sqrt over the exact sums.
    *
    * Scale shape: two rank windows per group partition (sort-based, the
    * same shuffle), one aggregation. No driver collection.
    */
  def spearman(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val dx = col(xCol).cast("double")
    val dy = col(yCol).cast("double")
    val valid = col(xCol).isNotNull && !isnan(dx) && abs(dx) < 1e9 &&
      col(yCol).isNotNull && !isnan(dy) && abs(dy) < 1e9
    val base = df.filter(valid)
      .select(col(groupCol).as("g"),
        round(dx * 1e6).cast("long").as("__xm"),
        round(dy * 1e6).cast("long").as("__ym"))
    val wx = Window.partitionBy("g").orderBy("__xm")
    val wy = Window.partitionBy("g").orderBy("__ym")
    val ranked = base
      .withColumn("__rx2", (rank().over(wx).cast("long") * 2
        + count(lit(1)).over(Window.partitionBy("g", "__xm")) - 1))
      .withColumn("__ry2", (rank().over(wy).cast("long") * 2
        + count(lit(1)).over(Window.partitionBy("g", "__ym")) - 1))
    def d(c: Column) = c.cast("decimal(38,0)")
    val agg = ranked.groupBy(col("g").as(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(d(col("__rx2")) * d(col("__ry2"))).cast("decimal(38,0)").as("__sxy"),
      sum(d(col("__rx2")) * d(col("__rx2"))).cast("decimal(38,0)").as("__sxx"),
      sum(d(col("__ry2")) * d(col("__ry2"))).cast("decimal(38,0)").as("__syy"),
      sum(d(col("__rx2"))).cast("decimal(38,0)").as("__sx"),
      sum(d(col("__ry2"))).cast("decimal(38,0)").as("__sy"))
    val n = col("n").cast("double")
    val sx = col("__sx").cast("double"); val sy = col("__sy").cast("double")
    val sxx = col("__sxx").cast("double"); val syy = col("__syy").cast("double")
    val sxy = col("__sxy").cast("double")
    val varx = n * sxx - sx * sx
    val vary = n * syy - sy * sy
    agg.select(col(groupCol), col("n"),
      when(varx > 0 && vary > 0,
        (n * sxy - sx * sy) / sqrt(varx * vary)).as("rho"))
  }

  /** Kendall τ-b per group over a SMALL keyed series (caller aggregates
    * first — e.g. one row per day; the within-group pair join is
    * |series|², calendar-bounded, NOT corpus-bounded). `orderCol` must be
    * unique within a group (it only de-duplicates the unordered pairs).
    *
    * Exact concordant/discordant/tie counts on the 1e-6 micro grid;
    * τ-b = (C−D)/√((n₀−Tx)(n₀−Ty)) is one pinned IEEE op sequence over
    * the exact integers (Tx = pairs tied in x, incl. both-tied).
    */
  def kendallTau(df: DataFrame, groupCol: String, orderCol: String,
      xCol: String, yCol: String): DataFrame = {
    def m(c: Column) = round(c.cast("double") * 1e6).cast("long")
    val b = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("g"), col(orderCol).as("o"),
        m(col(xCol)).as("x"), m(col(yCol)).as("y"))
    val pairs = b.as("a").join(b.as("b"),
      col("a.g") === col("b.g") && col("a.o") < col("b.o"))
    def cmp(l: Column, r: Column): Column =
      when(l < r, -1).when(l > r, 1).otherwise(0)
    val cx = cmp(col("a.x"), col("b.x"))
    val cy = cmp(col("a.y"), col("b.y"))
    val agg = pairs.groupBy(col("a.g").as(groupCol)).agg(
      count(lit(1)).as("n_pairs"),
      count(when(cx * cy === 1, lit(1))).as("concordant"),
      count(when(cx * cy === -1, lit(1))).as("discordant"),
      count(when(cx === 0, lit(1))).as("tied_x"),
      count(when(cy === 0, lit(1))).as("tied_y"))
    val den = (col("n_pairs") - col("tied_x")).cast("double") *
      (col("n_pairs") - col("tied_y")).cast("double")
    agg.select(col(groupCol), col("n_pairs"), col("concordant"),
      col("discordant"), col("tied_x"), col("tied_y"),
      when(den > 0, (col("concordant") - col("discordant")).cast("double")
        / sqrt(den)).as("tau_b"))
  }

  /** Pairwise 1-D earth mover's distance between every two groups'
    * value distributions on a shared equal-width bucket grid — the
    * transport-cost member of the drift family (PSI q139 explodes on
    * empty buckets, KS q182 sees only the worst single gap; EMD charges
    * by HOW FAR mass moved, the right cost for "length crept up 10%").
    *
    * EMD₁ = Σ_buckets |CDF_a − CDF_b| / buckets, computed exactly as
    * Σ|cum_a·n_b − cum_b·n_a| (cross-multiplied integer CDFs — no
    * per-bucket fractions); the normalization is two pinned IEEE
    * divisions at the end. Absent buckets are genuine zeros via a
    * generated group×bucket grid.
    *
    * Scale shape: one shuffle to the (group, bucket) grid; cumsums and
    * the pair join live on that |groups|·buckets grid only (the q97
    * bounded-grid argument) — never on raw rows. Products ride
    * DECIMAL(38,0) so both the bucketing (x−lo)·buckets and the CDF
    * cross-products cum·n stay exact at any value range / corpus size
    * (a raw-long product would wrap for |hi−lo| > 2⁶³/buckets).
    *
    * Input contract: values are binned on the INTEGER grid — fractional
    * inputs are truncated by the cast(long) (pre-scale to micros if
    * sub-integer resolution matters), matching the engine-portable
    * integer-CDF arithmetic the EMD identity needs.
    */
  def emdPairwise(df: DataFrame, groupCol: String, valueCol: String,
      buckets: Int = 20): DataFrame = {
    require(buckets >= 1)
    val v = col(valueCol)
    val base = df.filter(v.isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("g"), v.cast("long").as("x"))
    val bounds = broadcast(base.agg(min("x").as("lo"), max("x").as("hi")))
    val counts = base.crossJoin(bounds)
      .select(col("g"),
        expr(s"((cast(x as decimal(38,0)) - lo) * $buckets)" +
          " div (cast(hi as decimal(38,0)) - lo + 1)").as("b"))
      .groupBy("g", "b").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("g").agg(sum("c").as("n"))
    val grid = totals
      .select(col("g"), col("n"),
        explode(sequence(lit(0L), lit(buckets - 1L))).as("b"))
      .join(counts, Seq("g", "b"), "left")
      .select(col("g"), col("n"), col("b"), coalesce(col("c"), lit(0L)).as("c"))
    val cum = grid.withColumn("cum", sum("c").over(
      Window.partitionBy("g").orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    def d(c: Column) = c.cast("decimal(38,0)")
    cum.as("a").join(cum.as("b"),
        col("a.b") === col("b.b") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("group_a"), col("b.g").as("group_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(sum(abs(d(col("a.cum")) * d(col("b.n"))
        - d(col("b.cum")) * d(col("a.n")))).cast("decimal(38,0)").as("__s"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        (col("__s").cast("double")
          / (col("n_a").cast("double") * col("n_b").cast("double"))
          / lit(buckets.toDouble)).as("emd"))
  }

  /** Pairwise two-proportion z-test between every two groups' hit rates
    * — the proportions member of the A/B family ([[welchTTest]] compares
    * means, [[groupedWilson]] intervals ONE rate; this tests rate
    * DIFFERENCES): z = (p̂₁−p̂₂)/√(p̂(1−p̂)(1/n₁+1/n₂)) with the pooled p̂.
    * Same exactness contract as Welch: per-group (n, k) are exact
    * counts, z is a fixed IEEE op sequence on them — engine-identical.
    * No p-value on purpose (normal CDFs are libm territory); downstream
    * thresholds |z|, which is the decision procedure anyway.
    *
    * Degenerate pairs (pooled rate 0 or 1 → zero denominator) yield
    * null z. The pair join runs on the |groups|-row aggregate only.
    */
  def twoProportionZ(df: DataFrame, groupCol: String,
      hitCol: Column): DataFrame = {
    val agg = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n"), count(when(hitCol, lit(1))).as("k"))
    def dbl(c: Column) = c.cast("double")
    val p1 = dbl(col("a.k")) / dbl(col("a.n"))
    val p2 = dbl(col("b.k")) / dbl(col("b.n"))
    val pp = dbl(col("a.k") + col("b.k")) / dbl(col("a.n") + col("b.n"))
    val den = sqrt(pp * (lit(1.0) - pp)
      * (lit(1.0) / dbl(col("a.n")) + lit(1.0) / dbl(col("b.n"))))
    // |groups| rows per side — broadcast the right side so the inequality
    // pair join plans as a BNLJ over the tiny aggregate (q134's shape),
    // never a cartesian of raw relations
    agg.as("a").join(broadcast(agg.as("b")), col("a.g") < col("b.g"))
      .select(col("a.g").as("group_a"), col("b.g").as("group_b"),
        col("a.n").as("n_a"), col("a.k").as("k_a"),
        col("b.n").as("n_b"), col("b.k").as("k_b"),
        when(den > 0, (p1 - p2) / den).as("z"))
  }

  /** MINIMUM DETECTABLE EFFECT / power sizing for the hashed-arm
    * experiment, per segment: with the arms' current sample sizes and
    * the pooled population variance of the metric, the smallest absolute
    * lift a two-sided α = 0.05 test detects with 80% power is
    * MDE = (z_{α/2} + z_{β}) · σ · √(1/n_a + 1/n_b) — the "is this
    * experiment even capable of seeing the effect we care about" table
    * every A/B platform shows before launch.
    *
    * The variance comes from exact DECIMAL(38,0) micro moments
    * (order-independent), and the constant z_{α/2} + z_{β} is ONE shared
    * double literal (2.8015852181129688) so both engines run the same
    * pinned IEEE sequence: var = (nQ − S²)/n²/10¹², mde = c·√(var·(1/n_a
    * + 1/n_b)).
    *
    * One groupBy to the (segment, arm) moment grid, a self-pair of the
    * two arm rows per segment — never a raw-row pair join.
    *
    * Returns per segment: (segment, n_a, n_b, pooled_var, mde_abs),
    * ordered by segment.
    */
  def minDetectableEffect(df: DataFrame, segmentCol: String,
      userCol: String, valueCol: String, salt: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(segmentCol).isNotNull &&
        col(userCol).isNotNull && col(valueCol).isNotNull)
      .select(col(segmentCol).as("seg"),
        (graft.functions.Hashing.h60(
          concat(lit(s"$salt:"), col(userCol).cast("string"))) % 2 === 0)
          .as("a"),
        round(col(valueCol) * 1e6).cast("long").as("v"))
    val grid = base.groupBy("seg")
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("n_b"),
        count(lit(1)).as("n"),
        sum(dec(col("v"))).as("s"),
        sum(dec(col("v")) * dec(col("v"))).as("q"))
    val c = 2.8015852181129688 // z_{0.025} + z_{0.2}
    val varCol = (dec(col("n")) * col("q") - col("s") * col("s")).cast("double") /
      (col("n").cast("double") * col("n").cast("double")) / lit(1e12)
    grid.select(col("seg").as("segment"), col("n_a"), col("n_b"),
        varCol.as("pooled_var"),
        when(col("n_a") > 0 && col("n_b") > 0 && varCol >= 0,
          lit(c) * sqrt(varCol * (lit(1.0) / col("n_a").cast("double")
            + lit(1.0) / col("n_b").cast("double")))).as("mde_abs"))
      .orderBy("segment")
  }

  /** Per-group HIGHER MOMENTS — population skewness g₁ = m₃/m₂^1.5 and
    * excess kurtosis g₂ = m₄/m₂² − 3 — the describe() columns the
    * mean/variance battery lacks: g₁ says which tail drags the mean
    * (heavy-right revenue, heavy-left latency), g₂ flags the
    * outlier-prone groups BEFORE a z-score rule is tuned on them.
    *
    * Power sums S₁..S₄ are exact DECIMAL(38,0) on the MILLI grid (the
    * 4th power forces the coarser grid: micro⁴ overflows 38 digits at
    * any realistic group size; milli⁴ leaves 10 orders of headroom).
    * Central moments and the two ratios are ONE pinned IEEE sequence
    * over the exactly-cast sums, so both engines agree bit-for-bit.
    * One map-side-combined aggregate; no second pass, no window.
    *
    * Returns per group: (group, n, mean, variance, skewness,
    * kurtosis_excess) — ratios null when m₂ degenerates.
    */
  def momentsByGroup(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val v = round(col(valCol) * 1e3).cast("long")
    val grid = df.filter(col(groupCol).isNotNull && col(valCol).isNotNull)
      .select(col(groupCol).as("g"), v.as("v"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("v"))).as("s1"),
        sum(dec(col("v")) * dec(col("v"))).as("s2"),
        sum(dec(col("v")) * dec(col("v")) * dec(col("v"))).as("s3"),
        sum(dec(col("v")) * dec(col("v")) * dec(col("v")) * dec(col("v")))
          .as("s4"))
    val nD = dbl(col("n"))
    val (s1, s2, s3, s4) = (dbl(col("s1")), dbl(col("s2")), dbl(col("s3")),
      dbl(col("s4")))
    val mean = s1 / nD / lit(1e3)
    val m2 = (nD * s2 - s1 * s1) / (nD * nD) / lit(1e6)
    val m3 = (nD * nD * s3 - lit(3.0) * nD * s1 * s2
      + lit(2.0) * s1 * s1 * s1) / (nD * nD * nD) / lit(1e9)
    val m4 = (nD * nD * nD * s4 - lit(4.0) * nD * nD * s1 * s3
      + lit(6.0) * nD * s1 * s1 * s2 - lit(3.0) * s1 * s1 * s1 * s1) /
      (nD * nD * nD * nD) / lit(1e12)
    grid.select(col("g").as("group"), col("n"),
        mean.as("mean"), m2.as("variance"),
        when(m2 > 0, m3 / sqrt(m2 * m2 * m2)).as("skewness"),
        when(m2 > 0, m4 / (m2 * m2) - lit(3.0)).as("kurtosis_excess"))
      .orderBy("group")
  }

  /** BENJAMINI-HOCHBERG FDR control across the per-segment A/B tests —
    * the multiple-comparison correction an experimentation platform runs
    * when one launch is read across many segments (testing 20 segments
    * at α = 0.05 "finds" one false effect on average; BH caps the
    * expected false-discovery fraction at α instead).
    *
    * Per segment: Welch z from exact DECIMAL(38,0) micro moments of the
    * two hashed arms (the q134/q214 pinned-IEEE contract). The two-sided
    * p uses the Abramowitz–Stegun 26.2.17 polynomial for the normal tail
    * — every constant and the operation ORDER are written identically in
    * both engines, and the result is immediately rounded to the 10⁻⁶
    * grid (p_micro), the same determinism budget as the micro-log
    * convention (both engines' libm exp agree far beyond 10⁻⁶). The
    * step-up rule then runs on exact integers: rank segments by
    * (p_micro, segment), pass_raw ⇔ p_micro·m ≤ rank·alphaMicro,
    * significant ⇔ rank ≤ max passing rank.
    *
    * Windows run over the |segments|-row grid only (bounded); the raw
    * scan is ONE conditional-moment aggregate.
    *
    * Returns per segment: (segment, n_a, n_b, z, p_micro, rank,
    * significant), ordered by rank.
    */
  /** Shared per-segment Welch z + A&S two-sided p over the hashed arms
    * — the scored stage both multiple-testing corrections ([[bhFdr]]
    * step-up, [[holmBonferroni]] step-down) rank. Returns one row per
    * segment: (seg, na, sa, qa, nb, sb, qb, z, p_micro), CacheScope-
    * registered (both consumers read it twice).
    */
  private def welchPMicroBySegment(df: DataFrame, segmentCol: String,
      userCol: String, valueCol: String, salt: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val base = df.filter(col(segmentCol).isNotNull &&
        col(userCol).isNotNull && col(valueCol).isNotNull)
      .select(col(segmentCol).as("seg"),
        (graft.functions.Hashing.h60(
          concat(lit(s"$salt:"), col(userCol).cast("string"))) % 2 === 0)
          .as("a"),
        round(col(valueCol) * 1e6).cast("long").as("v"))
    val grid = base.groupBy("seg").agg(
      sum(when(col("a"), 1L).otherwise(0L)).as("na"),
      sum(when(col("a"), dec(col("v"))).otherwise(dec(lit(0L)))).as("sa"),
      sum(when(col("a"), dec(col("v")) * dec(col("v")))
        .otherwise(dec(lit(0L)))).as("qa"),
      sum(when(!col("a"), 1L).otherwise(0L)).as("nb"),
      sum(when(!col("a"), dec(col("v"))).otherwise(dec(lit(0L)))).as("sb"),
      sum(when(!col("a"), dec(col("v")) * dec(col("v")))
        .otherwise(dec(lit(0L)))).as("qb"))
    // Welch z, pinned sequence: means and population variances per arm
    // in value units (micro / 1e6), se = sqrt(va/na + vb/nb)
    val ma = dbl(col("sa")) / dbl(col("na")) / lit(1e6)
    val mb = dbl(col("sb")) / dbl(col("nb")) / lit(1e6)
    val va = (dbl(col("na")) * dbl(col("qa")) - dbl(col("sa")) * dbl(col("sa"))) /
      (dbl(col("na")) * dbl(col("na"))) / lit(1e12)
    val vb = (dbl(col("nb")) * dbl(col("qb")) - dbl(col("sb")) * dbl(col("sb"))) /
      (dbl(col("nb")) * dbl(col("nb"))) / lit(1e12)
    val se = sqrt(va / dbl(col("na")) + vb / dbl(col("nb")))
    val z = when(col("na") > 0 && col("nb") > 0 && se > 0, (ma - mb) / se)
    // A&S 26.2.17 upper-tail polynomial, identical literal order in the
    // oracle; two-sided p rounded straight onto the micro grid
    val az = abs(col("z"))
    val kk = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = ((((lit(1.330274429) * kk + lit(-1.821255978)) * kk
      + lit(1.781477937)) * kk + lit(-0.356563782)) * kk + lit(0.319381530)) * kk
    val pTwo = lit(2.0) * lit(0.3989422804014327) *
      exp(lit(-0.5) * az * az) * poly
    graft.CacheScope.register(
      grid.withColumn("z", z)
        .withColumn("p_micro",
          when(col("z").isNotNull, round(pTwo * 1e6).cast("long"))))
  }

  def bhFdr(df: DataFrame, segmentCol: String, userCol: String,
      valueCol: String, salt: String, alphaMicro: Long = 50000L): DataFrame = {
    val scored = welchPMicroBySegment(df, segmentCol, userCol, valueCol,
      salt)
    val m = scored.agg(count(lit(1)).as("m"))
    val ranked = scored.crossJoin(broadcast(m))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("p_micro").asc_nulls_last, col("seg"))))
      .withColumn("__pass",
        col("p_micro").isNotNull &&
          col("p_micro") * col("m") <= col("rank") * alphaMicro)
    val iStar = ranked.agg(coalesce(max(when(col("__pass"), col("rank"))),
      lit(0)).as("i_star"))
    ranked.crossJoin(broadcast(iStar))
      .select(col("seg").as("segment"), col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"), col("z"), col("p_micro"),
        col("rank").cast("long").as("rank"),
        (col("rank") <= col("i_star")).as("significant"))
      .orderBy("rank")
  }

  /** BENJAMINI-YEKUTIELI step-up — [[bhFdr]] hardened for ARBITRARY
    * dependence among the tests (BH's FDR guarantee assumes positive
    * dependence; BY divides the threshold by the harmonic number
    * c(m) = Σ₁..m 1/i and holds under ANY correlation structure —
    * overlapping segments, shared users). Both verdicts emit side by
    * side: BY ⊆ BH by construction, and the gap IS the price of the
    * dependence insurance.
    *
    * Exactness: the BY comparison p·m·H ≤ rank·α·10¹² rides entirely on
    * integers — H = Σᵢ (10¹² div i) is the harmonic number on the exact
    * truncating 1e-12 grid (both engines sum the same m integer
    * quotients; m = |segments|, a bounded constant).
    *
    * Output per segment: (segment, n_a, n_b, z, p_micro, rank,
    * harmonic_12, significant_bh, significant_by), ranked by p.
    */
  def byFdr(df: DataFrame, segmentCol: String, userCol: String,
      valueCol: String, salt: String, alphaMicro: Long = 50000L): DataFrame = {
    val scored = welchPMicroBySegment(df, segmentCol, userCol, valueCol,
      salt)
    val m = scored.agg(count(lit(1)).as("m"))
    // harmonic number on the exact 1e-12 grid, built from the m-row
    // rank spine itself (no driver loop): H = sum over i <= m of
    // floor(1e12 / i)
    val ranked = scored.crossJoin(broadcast(m))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("p_micro").asc_nulls_last, col("seg"))))
    val harmonic = ranked
      .agg(sum(expr("1000000000000L div rank")).cast("long").as("h12"))
    val withH = ranked.crossJoin(broadcast(harmonic))
      .withColumn("__pass_bh",
        col("p_micro").isNotNull &&
          col("p_micro") * col("m") <= col("rank") * alphaMicro)
      .withColumn("__pass_by",
        col("p_micro").isNotNull &&
          col("p_micro").cast("decimal(38,0)") * col("m") * col("h12") <=
            col("rank").cast("decimal(38,0)") * alphaMicro *
              lit(1000000000000L))
    val iStars = withH.agg(
      coalesce(max(when(col("__pass_bh"), col("rank"))), lit(0))
        .as("i_bh"),
      coalesce(max(when(col("__pass_by"), col("rank"))), lit(0))
        .as("i_by"))
    withH.crossJoin(broadcast(iStars))
      .select(col("seg").as("segment"), col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"), col("z"), col("p_micro"),
        col("rank").cast("long").as("rank"),
        col("h12").as("harmonic_12"),
        (col("rank") <= col("i_bh")).as("significant_bh"),
        (col("rank") <= col("i_by")).as("significant_by"))
      .orderBy("rank")
  }

  /** HOLM-BONFERRONI STEP-DOWN — the FWER companion to [[bhFdr]]'s FDR
    * step-up on the SAME per-segment Welch p's: reject the i-th
    * smallest p only while EVERY j ≤ i clears p_j ≤ α/(m−j+1). FWER
    * control is the stricter contract a launch/no-launch decision
    * wants (BH bounds the expected false fraction; Holm bounds the
    * probability of ANY false rejection) — uniformly more powerful
    * than plain Bonferroni at no extra assumption.
    *
    * Exact arithmetic: the step-down condition is the running MAX of
    * p_micro·(m−rank+1) staying ≤ α_micro — pure BIGINT products over
    * the ranked |segments|-row grid; a null p (degenerate segment)
    * ranks last and breaks the chain from its position onward exactly
    * as an over-α p does.
    *
    * Scale shape: [[welchPMicroBySegment]]'s one moment aggregate, one
    * rank window + one running-max window over the bounded segment
    * grid. Output per segment: (segment, n_a, n_b, z, p_micro, rank,
    * significant), rank-ordered.
    */
  def holmBonferroni(df: DataFrame, segmentCol: String, userCol: String,
      valueCol: String, salt: String,
      alphaMicro: Long = 50000L): DataFrame = {
    val scored = welchPMicroBySegment(df, segmentCol, userCol, valueCol,
      salt)
    val m = scored.agg(count(lit(1)).as("m"))
    val wRank = Window.orderBy(col("p_micro").asc_nulls_last, col("seg"))
    val wRun = Window.orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.crossJoin(broadcast(m))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("__crit",
        when(col("p_micro").isNotNull,
          col("p_micro") * (col("m") - col("rank") + 1))
          .otherwise(lit(Long.MaxValue)))
      .withColumn("significant",
        max(col("__crit")).over(wRun) <= alphaMicro)
      .select(col("seg").as("segment"), col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"), col("z"), col("p_micro"),
        col("rank").cast("long").as("rank"), col("significant"))
      .orderBy("rank")
  }

  /** EXACT order statistics without a global sort: iterative histogram
    * selection. Each level aggregates a ≤`buckets`-bin histogram of the
    * candidate range per still-unresolved rank (map-side partial
    * combine — the shuffle carries ≤ |ranks|·buckets COUNT rows, never
    * data), the driver walks the cumulative counts to the bin holding
    * the rank, and the range narrows by a factor of `buckets`. A 64-bit
    * value domain resolves in ≤ 4 levels — exact medians/percentiles of
    * a 100 TB fact in a handful of scans, no sort, no data shuffle, no
    * driver collect of rows (q37's exact per-group percentile buffers
    * whole groups; q73's sketch trades exactness — this is the third
    * point: exact AND fixed-memory, paid in passes).
    *
    * `ranks` are 1-based positions in the ascending order of `valCol`
    * (long-grid values). Returns (rank_pos, value_at) — the rank-th
    * smallest — deterministic regardless of duplicates or partitioning.
    */
  def exactOrderStatistics(df: DataFrame, valCol: String, ranks: Seq[Long],
      buckets: Int = 65536, maxLevels: Int = 8): DataFrame = {
    require(ranks.nonEmpty && buckets >= 2)
    val spark = df.sparkSession
    val vals = graft.CacheScope.register(
      df.select(col(valCol).cast("long").as("v")).filter(col("v").isNotNull))
    val mm = vals.agg(count(lit(1)), min(col("v")), max(col("v"))).first()
    val n = mm.getLong(0)
    require(n > 0, "exactOrderStatistics: empty input")
    ranks.foreach(k => require(k >= 1 && k <= n,
      s"rank $k out of [1, $n]"))
    // open[i] = (lo, hi, remaining-rank-within-range) for ranks(i)
    val resolved = scala.collection.mutable.HashMap.empty[Int, Long]
    var open: Seq[(Int, Long, Long, Long)] =
      ranks.zipWithIndex.map { case (k, i) =>
        (i, mm.getLong(1), mm.getLong(2), k)
      }
    open.filter { case (_, lo, hi, _) => lo == hi }
      .foreach { case (i, lo, _, _) => resolved(i) = lo }
    open = open.filterNot { case (i, _, _, _) => resolved.contains(i) }
    var level = 0
    while (open.nonEmpty && level < maxLevels) {
      // bin width per range: ceil(width / buckets), ≥ 1
      val ranges = open.map { case (i, lo, hi, _) =>
        val width = hi - lo + 1 // widths > Long.Max can't arise off a real scan
        (i, lo, hi, math.max(1L, (width + buckets - 1) / buckets))
      }
      import spark.implicits._
      val rdf = broadcast(ranges.toDF("__ri", "__lo", "__hi", "__bw"))
      val hist = vals.join(rdf,
          col("v") >= col("__lo") && col("v") <= col("__hi"))
        .groupBy(col("__ri"),
          expr("(v - __lo) div __bw").as("__b")) // integer div: exact at any width
        .agg(count(lit(1)).as("__c"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (ri, rows) =>
          ri -> rows.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
        }
      open = open.flatMap { case (i, lo, hi, rem) =>
        val bw = math.max(1L, ((hi - lo + 1) + buckets - 1) / buckets)
        var left = rem
        val bins = hist(i)
        val (bin, before) = {
          var acc = 0L
          val hit = bins.find { case (_, c) =>
            val take = acc + c >= left; if (!take) acc += c; take
          }.get
          (hit._1, acc)
        }
        left = rem - before
        val lo2 = lo + bin * bw
        val hi2 = math.min(hi, lo + (bin + 1) * bw - 1)
        if (lo2 == hi2) { resolved(i) = lo2; None }
        else Some((i, lo2, hi2, left))
      }
      level += 1
    }
    require(open.isEmpty,
      s"exactOrderStatistics did not converge in $maxLevels levels")
    import spark.implicits._
    ranks.zipWithIndex.map { case (k, i) => (k, resolved(i)) }
      .toDF("rank_pos", "value_at").orderBy("rank_pos", "value_at")
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) between two named groups on an
    * integer-grid value column — the nonparametric member of the A/B
    * family ([[welchTTest]] assumes means matter, [[ksTest]] reports the
    * worst CDF gap; MWU asks "does one group stochastically dominate?",
    * the right test for skewed size/latency-like measures).
    *
    * Computed on the bounded distinct-VALUE grid, never on raw rows
    * (the [[emdPairwise]] shape): one shuffle to (value → n_a, n_b)
    * counts, a cumulative window over that grid, and the exact identity
    *   2·U_a = Σ_v n_a(v) · (2·cum_b(<v) + n_b(v))
    * (ties contribute half each, so DOUBLING keeps everything integral —
    * no midrank fractions). The normal-approximation z carries the full
    * tie correction Σ(t³−t) through DECIMAL(38,0); the only floats are
    * the final pinned divisions and one sqrt, bit-identical across
    * engines from the same exact integers.
    *
    * The global window runs over the distinct-value grid only (bounded
    * by the value domain, e.g. ≤ max document length for n_chars — the
    * q97 bounded-grid argument), not the corpus.
    *
    * Returns one row: (group_a, group_b, n_a, n_b, u2_a, tie_cubes,
    * z) where u2_a = 2·U_a exact and tie_cubes = Σ(t³−t) exact.
    */
  def mannWhitneyU(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull &&
        col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).as("g"), col(valueCol).cast("long").as("v"))
    val grid = base.groupBy("v").agg(
      count(when(col("g") === groupA, lit(1))).as("na"),
      count(when(col("g") === groupB, lit(1))).as("nb"))
    // distinct-value grid only: bounded by the value domain, not rows
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .withColumn("cum_b_le", sum("nb").over(w))
      .withColumn("cum_b_lt", col("cum_b_le") - col("nb"))
    def d(c: Column) = c.cast("decimal(38,0)")
    val agg = cum.agg(
      sum("na").cast("long").as("n_a"),
      sum("nb").cast("long").as("n_b"),
      sum(col("na") * (col("cum_b_lt") * 2 + col("nb"))).cast("long")
        .as("u2_a"),
      sum(d(col("na") + col("nb")) * d(col("na") + col("nb"))
          * d(col("na") + col("nb")) - d(col("na") + col("nb")))
        .cast("decimal(38,0)").as("__t3"))
    // z = (U_a − n_a·n_b/2) / sqrt(n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1))))
    //   — assembled from exact integers, two pinned divisions + one sqrt
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val n = (col("n_a") + col("n_b")).cast("double")
    val varU = na * nb / lit(12.0) *
      ((n + 1) - col("__t3").cast("double") / (n * (n - 1)))
    agg.select(lit(groupA).as("group_a"), lit(groupB).as("group_b"),
      col("n_a"), col("n_b"), col("u2_a"),
      col("__t3").cast("long").as("tie_cubes"),
      when(col("n_a") > 0 && col("n_b") > 0 && varU > 0,
        (col("u2_a").cast("double") - na * nb) / lit(2.0) / sqrt(varU))
        .as("z"))
  }

  /** One-way ANOVA F across ALL groups of a micro-grid measure — the
    * k-group generalization of [[welchTTest]] (equal-variance, omnibus
    * "do ANY means differ?"). One aggregation pass to per-group exact
    * integer moments (n, Σx_micro, Σx_micro² in DECIMAL(38,0) — map-side
    * partial combine, |groups| result rows), then per-group SSB/SSW
    * contributions micro-rounded from those exact integers (the
    * [[chiSquare]] per-cell convention: double math inside, rounded to a
    * long per group, exact BIGINT sum across groups — bit-identical in
    * any engine and any partitioning). F is assembled from the micro
    * sums with pinned final divisions.
    *
    * Returns one row: (k, n, ssb_micro, ssw_micro, df_between,
    * df_within, f).
    */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val base = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("g"),
        round(col(valueCol) * 1e6).cast("long").as("x"))
    def d(c: Column) = c.cast("decimal(38,0)")
    val perGroup = base.groupBy("g").agg(
      count(lit(1)).as("ng"),
      sum(col("x")).as("sg"),
      sum(d(col("x")) * d(col("x"))).cast("decimal(38,0)").as("qg"))
    // value-unit per-group terms from exact integers; micro-round each
    // group's contribution, then exact-sum (chiSquare's convention)
    val sgd = col("sg").cast("double") / lit(1e6)
    val qgd = col("qg").cast("double") / lit(1e12)
    val bTerm = round(sgd * sgd / col("ng").cast("double") * 1e6)
      .cast("long")
    val totals = perGroup.agg(
      count(lit(1)).as("k"),
      sum("ng").cast("long").as("n"),
      sum("sg").cast("long").as("__s"),
      sum(bTerm).as("__b_micro"),
      sum(round((qgd - sgd * sgd / col("ng").cast("double")) * 1e6)
        .cast("long")).as("ssw_micro"))
    val grand = col("__s").cast("double") / lit(1e6)
    val ssb = col("__b_micro") -
      round(grand * grand / col("n").cast("double") * 1e6).cast("long")
    totals.select(col("k"), col("n"),
        ssb.as("ssb_micro"), col("ssw_micro"),
        (col("k") - 1).as("df_between"), (col("n") - col("k")).as("df_within"))
      .withColumn("f",
        when(col("df_between") > 0 && col("df_within") > 0 &&
            col("ssw_micro") > 0,
          (col("ssb_micro").cast("double") / col("df_between").cast("double"))
            / (col("ssw_micro").cast("double") / col("df_within").cast("double"))))
  }

  /** Referential-integrity audit of one FK relationship: child rows whose
    * key has no parent (orphans) and parents never referenced (childless)
    * — the warehouse constraint check a star schema runs after every
    * load. Two aggregate-then-anti-join passes whose join sides are the
    * DISTINCT key relations (bounded by key cardinality, not fact rows);
    * null FKs are counted separately, not treated as orphans (SQL FK
    * semantics).
    *
    * Returns one row: (relationship, n_child, n_null_fk, n_orphan_rows,
    * n_distinct_orphan_keys, n_childless_parents).
    */
  def referentialAudit(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String, relName: String): DataFrame = {
    val ck = child.select(col(childKey).as("k"))
    val pk = graft.CacheScope.register(
      parent.select(col(parentKey).as("k")).distinct())
    val childKeys = ck.filter(col("k").isNotNull)
      .groupBy("k").agg(count(lit(1)).as("c"))
    val orphans = childKeys.join(pk, Seq("k"), "left_anti")
      .agg(coalesce(sum("c"), lit(0L)).as("n_orphan_rows"),
        count(lit(1)).as("n_distinct_orphan_keys"))
    val childless = pk.join(childKeys, Seq("k"), "left_anti")
      .agg(count(lit(1)).as("n_childless_parents"))
    val counts = ck.agg(count(lit(1)).as("n_child"),
      (count(lit(1)) - count(col("k"))).as("n_null_fk"))
    counts.crossJoin(broadcast(orphans)).crossJoin(broadcast(childless))
      .select(lit(relName).as("relationship"), col("n_child"),
        col("n_null_fk"), col("n_orphan_rows"),
        col("n_distinct_orphan_keys"), col("n_childless_parents"))
  }

  /** Truncated-Poisson(1) CDF thresholds on the 2⁶⁰ hash grid: weight
    * k(row, rep) = #{j : h60 ≥ T_j} reproduces P(k) = e⁻¹/k! for
    * k ≤ 7 (all mass above 8 — ~10⁻⁶ — truncates into k = 8). The
    * thresholds are fixed integer literals, so the sampler is EXACTLY
    * replayable in any engine — no float comparisons at eval time.
    */
  val poissonCdf60: Seq[Long] = {
    val two60 = 1152921504606846976.0 // 2^60
    var p = math.exp(-1.0)
    var c = p
    (0 to 7).map { j =>
      if (j > 0) { p /= j; c += p }
      (c * two60).toLong
    }
  }

  /** POISSON-BOOTSTRAP confidence interval for a mean (Chamandy et al.,
    * "Estimating Uncertainty for Massive Data Streams", Google 2012) —
    * the distributed bootstrap: instead of resampling n rows WITH
    * replacement (which needs coordinated global sampling), each row
    * enters replicate b with an independent Poisson(1) weight, an
    * o(1/√n)-accurate surrogate that needs only a deterministic
    * per-(row, replicate) hash. Everything is exactly replayable: the
    * weight is [[poissonCdf60]] integer threshold counts over
    * h60(salt:b:id), replicate means are truncating micro quotients of
    * exact integer sums, and the CI bounds are order statistics of the
    * `reps` replicate means with a (mean, b) deterministic tie-break.
    *
    * Scale shape: the explode(×reps) multiplies rows BEFORE map-side
    * partial aggregation, so the shuffle carries ≤ reps·partitions
    * partial rows, never reps×corpus; the rank window runs over the
    * reps-row grid only. An all-zero-weight replicate (probability
    * e^(−n·reps)) degenerates to the full-sample mean, keeping the
    * order statistics total.
    *
    * Returns one row: (n_rows, b_reps, mean_micro, ci_lo_micro,
    * ci_hi_micro) — a 95% percentile-bootstrap CI on the 1e6 grid.
    */
  def poissonBootstrapMeanCi(df: DataFrame, idCol: String, valCol: String,
      reps: Int, salt: String): DataFrame = {
    require(reps >= 4 && reps <= 4096, s"reps out of range: $reps")
    val base = graft.CacheScope.register(
      df.filter(col(idCol).isNotNull && col(valCol).isNotNull)
        .select(col(idCol).cast("string").as("__id"),
          col(valCol).cast("long").as("x")))
    def d(c: Column) = c.cast("decimal(38,0)")
    val full = broadcast(base.agg(
      count(lit(1)).as("n_rows"),
      expr("cast((cast(sum(x) as decimal(38,0)) * 1000000) div count(1) as bigint)")
        .as("mean_micro")))
    val h = graft.functions.Hashing.h60(
      concat(lit(s"$salt:"), col("b").cast("string"), lit(":"), col("__id")))
    val kExpr = poissonCdf60
      .map(t => when(h >= t, 1L).otherwise(0L)).reduce(_ + _)
    val repSums = base
      .select(col("__id"), col("x"),
        explode(sequence(lit(0), lit(reps - 1))).as("b"))
      .select(col("b"), col("x"), kExpr.as("k"))
      .groupBy("b")
      .agg(sum(d(col("k")) * d(col("x"))).cast("decimal(38,0)").as("skx"),
        sum(col("k")).as("sk"))
    val means = repSums.crossJoin(full)
      .select(col("b"),
        when(col("sk") > 0,
          expr("cast((skx * 1000000) div sk as bigint)"))
          .otherwise(col("mean_micro")).as("m"))
    // rank window over the reps-row replicate grid only
    val ranked = means.withColumn("rn",
      row_number().over(Window.orderBy(col("m"), col("b"))))
    val lo = math.max(1, math.ceil(0.025 * reps).toInt)
    val hi = math.min(reps, math.ceil(0.975 * reps).toInt)
    full.crossJoin(broadcast(
        ranked.filter(col("rn") === lo)
          .select(col("m").as("ci_lo_micro"))))
      .crossJoin(broadcast(
        ranked.filter(col("rn") === hi)
          .select(col("m").as("ci_hi_micro"))))
      .select(col("n_rows"), lit(reps.toLong).as("b_reps"),
        col("mean_micro"), col("ci_lo_micro"), col("ci_hi_micro"))
  }

  /** CHAPMAN capture–recapture estimate of a latent pair population from
    * two INDEPENDENT imperfect detectors — the dedup-recall QA trick:
    * run two different near-dup detectors (e.g. SimHash-banded and
    * shingle-containment — different failure modes), count each
    * detector's pairs and their overlap, and the Lincoln–Petersen/
    * Chapman estimator bounds how many true dup pairs BOTH missed:
    * N̂ = (n_a+1)(n_b+1)/(n_both+1) − 1 (Chapman 1951, the
    * bias-corrected form). n̂ − |A ∪ B| is the estimated blind spot —
    * the number a "we deduped everything" claim silently hides.
    *
    * Assumes detector independence (standard caveat); carried on the
    * exact integer grid: chapman_milli is the truncating
    * ((n_a+1)(n_b+1)·1000) div (n_both+1) − 1000, so both engines agree
    * bit-for-bit. One full-outer join of two pair relations (each
    * already sub-quadratic by its own blocking) + a scalar aggregate.
    *
    * Returns one row: (n_a, n_b, n_both, n_union, chapman_milli,
    * est_missed_milli).
    */
  def captureRecapture(pairsA: DataFrame, pairsB: DataFrame): DataFrame = {
    val a = pairsA.select("id_a", "id_b").distinct().withColumn("a", lit(1))
    val b = pairsB.select("id_a", "id_b").distinct().withColumn("b", lit(1))
    a.join(b, Seq("id_a", "id_b"), "full_outer")
      .agg(sum(coalesce(col("a"), lit(0))).cast("long").as("n_a"),
        sum(coalesce(col("b"), lit(0))).cast("long").as("n_b"),
        count(when(col("a").isNotNull && col("b").isNotNull, lit(1)))
          .as("n_both"),
        count(lit(1)).as("n_union"))
      .select(col("n_a"), col("n_b"), col("n_both"), col("n_union"),
        (expr("((n_a + 1) * (n_b + 1) * 1000) div (n_both + 1)") - 1000)
          .as("chapman_milli"))
      .withColumn("est_missed_milli",
        greatest(col("chapman_milli") - col("n_union") * 1000, lit(0L)))
  }

  /** Distribution-free 95% CI for the MEDIAN via order statistics — no
    * bootstrap, no resampling, NO full sort: the classic binomial
    * argument (the number of observations below the true median is
    * Binomial(n, ½)) gives ranks l = max(1, ⌊(n − 1.96√n)/2⌋) and
    * u = n + 1 − l whose order statistics bracket the median with ≥95%
    * coverage (normal approximation of the binomial quantile — the
    * textbook large-n form, deterministic in both engines: one sqrt,
    * one multiply, one floor of an exactly-representable n).
    *
    * The three ranks are then selected by [[exactOrderStatistics]]'s
    * iterative histogram — O(log_buckets(range)) scans, fixed memory —
    * so the whole CI costs no sort and no per-row state at any n: the
    * scalable alternative to q246's Poisson-bootstrap CI when the
    * statistic is the median rather than the mean.
    *
    * Returns (which, rank_pos, value_at) rows: ci_lo / median / ci_hi
    * (median rank = ⌊(n+1)/2⌋, the lower-middle convention).
    */
  def medianCi95(df: DataFrame, valCol: String): DataFrame = {
    val vals = graft.CacheScope.register(
      df.select(col(valCol).cast("long").as("v")).filter(col("v").isNotNull))
    val n = vals.count()
    require(n >= 16, s"medianCi95 needs n >= 16 for the normal-approx ranks: $n")
    val lo = math.max(1L,
      math.floor((n - 1.96 * math.sqrt(n.toDouble)) / 2.0).toLong)
    val hi = n + 1 - lo
    val med = (n + 1) / 2
    require(lo < med && med < hi, s"degenerate CI ranks ($lo, $med, $hi)")
    exactOrderStatistics(vals, "v", Seq(lo, med, hi))
      .withColumn("which",
        when(col("rank_pos") === lo, "ci_lo")
          .when(col("rank_pos") === hi, "ci_hi")
          .otherwise("median"))
      .select("which", "rank_pos", "value_at")
      .orderBy("rank_pos")
  }

  /** One declarative data-quality expectation (the dbt-test /
    * Great-Expectations rule vocabulary). Row-level semantics follow
    * dbt: range / set / regex rules skip NULLs (null-ness is its own
    * `NotNull` rule, so one bad cell never double-counts); `Unique`
    * counts every row beyond the first of each key group (NULL keys
    * group like values — documented, and trivially excluded by pairing
    * with a `NotNull` on the key).
    */
  sealed trait Expectation { def name: String }
  object Expectation {
    final case class NotNull(name: String, column: String) extends Expectation
    /** Inclusive numeric bounds on the 1e6-exact double cast. */
    final case class InRange(name: String, column: String,
        lo: Double, hi: Double) extends Expectation
    final case class InSet(name: String, column: String,
        values: Seq[String]) extends Expectation
    final case class Matches(name: String, column: String,
        regex: String) extends Expectation
    final case class Unique(name: String, columns: Seq[String]) extends Expectation
  }

  /** EXPECTATIONS AUDIT — the declarative per-load quality gate
    * (dbt tests / Great Expectations / Deequ's verification suite,
    * reduced to exact counts): every rule becomes one row
    * (rule, n_rows, n_violations, pass), so a load pipeline can assert
    * `WHERE NOT pass` is empty and a dashboard can trend violation
    * counts per rule over time.
    *
    * Scale shape: ALL row-level rules (not-null / range / set / regex)
    * share ONE map-side-combined aggregate over a single scan — adding a
    * rule adds a conditional sum, not a pass; each `Unique` rule is one
    * hash aggregate to its key grid followed by a count-only aggregate
    * (violations = Σ(c−1), i.e. rows beyond the first per key). The
    * per-rule result rows are 1-row relations unioned at the end —
    * driver-size, never data-size. Referential integrity stays in
    * [[referentialAudit]] (it needs a second relation).
    */
  def expectationsAudit(df: DataFrame,
      rules: Seq[Expectation]): DataFrame = {
    import Expectation._
    require(rules.nonEmpty, "expectationsAudit: no rules")
    require(rules.map(_.name).distinct.size == rules.size,
      "expectationsAudit: duplicate rule names")
    val src = graft.CacheScope.register(df)
    val rowRules: Seq[(String, Column)] = rules.collect {
      case NotNull(n, c) => n -> col(c).isNull
      case InRange(n, c, lo, hi) =>
        n -> (col(c).isNotNull &&
          (col(c).cast("double") < lo || col(c).cast("double") > hi))
      case InSet(n, c, vs) =>
        n -> (col(c).isNotNull && !col(c).cast("string").isin(vs: _*))
      case Matches(n, c, re) =>
        n -> (col(c).isNotNull && !col(c).cast("string").rlike(re))
    }
    val base =
      if (rowRules.isEmpty)
        src.agg(count(lit(1)).as("__n"))
      else
        src.agg(count(lit(1)).as("__n"),
          rowRules.zipWithIndex.map { case ((_, bad), i) =>
            sum(when(bad, 1L).otherwise(0L)).as(s"__v$i")
          }: _*)
    val wide = graft.CacheScope.register(base)
    val rowLevel: Option[DataFrame] =
      if (rowRules.isEmpty) None
      else Some(wide.select(col("__n"),
          explode(array(rowRules.zipWithIndex.map { case ((n, _), i) =>
            struct(lit(n).as("rule"),
              coalesce(col(s"__v$i"), lit(0L)).as("v"))
          }: _*)).as("__r"))
        .select(col("__r.rule").as("rule"), col("__n").as("n_rows"),
          col("__r.v").as("n_violations")))
    val uniques: Seq[DataFrame] = rules.collect {
      case Unique(n, cols0) =>
        src.groupBy(cols0.map(col): _*).agg(count(lit(1)).as("__c"))
          .agg(coalesce(sum(col("__c") - 1), lit(0L)).as("n_violations"))
          .crossJoin(broadcast(wide.select(col("__n").as("n_rows"))))
          .select(lit(n).as("rule"), col("n_rows"), col("n_violations"))
    }
    (rowLevel.toSeq ++ uniques).reduce(_.unionByName(_))
      .select(col("rule"), col("n_rows"),
        col("n_violations").cast("long").as("n_violations"),
        (col("n_violations") === 0).as("pass"))
      .orderBy("rule")
  }

  /** ROW QUARANTINE — the dead-letter side of [[expectationsAudit]]:
    * every row violating at least one ROW-LEVEL rule (not-null / range /
    * set / regex; uniqueness is a relation property, not a row property
    * — audit it with [[expectationsAudit]]), tagged with the sorted,
    * comma-joined names of the rules it violates. The load pattern:
    * clean rows continue, this relation lands in the quarantine table
    * for triage/replay — per-row blame, not just counts.
    *
    * One map-only projection (every rule predicate evaluates in the same
    * scan, no shuffle before the filter); emit-order of rule names is
    * the rule-list order, so the tag string is deterministic.
    *
    * Returns (idCol, violated_rules, n_violated) for violating rows
    * only, ordered by id.
    */
  def expectationsQuarantine(df: DataFrame, idCol: String,
      rules: Seq[Expectation]): DataFrame = {
    import Expectation._
    val rowRules: Seq[(String, Column)] = rules.collect {
      case NotNull(n, c) => n -> col(c).isNull
      case InRange(n, c, lo, hi) =>
        n -> (col(c).isNotNull &&
          (col(c).cast("double") < lo || col(c).cast("double") > hi))
      case InSet(n, c, vs) =>
        n -> (col(c).isNotNull && !col(c).cast("string").isin(vs: _*))
      case Matches(n, c, re) =>
        n -> (col(c).isNotNull && !col(c).cast("string").rlike(re))
    }
    require(rowRules.nonEmpty, "expectationsQuarantine: no row-level rules")
    val tags = array(rowRules.map { case (n, bad) =>
      when(bad, lit(n)).otherwise(lit(null).cast("string"))
    }: _*)
    df.select(col(idCol),
        filter(tags, x => x.isNotNull).as("__v"))
      .filter(size(col("__v")) > 0)
      .select(col(idCol), array_join(col("__v"), ",").as("violated_rules"),
        size(col("__v")).cast("long").as("n_violated"))
      .orderBy(idCol)
  }

  /** In-place partial-pivot Gaussian elimination for the tiny (m ≤ ~8)
    * Newton system — deterministic fixed op sequence on the driver.
    */
  private def solve(h0: Array[Array[Double]], g0: Array[Double]): Array[Double] = {
    val m = g0.length
    val a = Array.tabulate(m, m)((i, j) => h0(i)(j))
    val b = g0.clone()
    for (c <- 0 until m) {
      var piv = c
      for (r2 <- c + 1 until m) if (math.abs(a(r2)(c)) > math.abs(a(piv)(c))) piv = r2
      if (piv != c) { val t = a(piv); a(piv) = a(c); a(c) = t
        val tb = b(piv); b(piv) = b(c); b(c) = tb }
      require(math.abs(a(c)(c)) > 1e-300, "singular Newton system")
      for (r2 <- c + 1 until m) {
        val f = a(r2)(c) / a(c)(c)
        for (k <- c until m) a(r2)(k) -= f * a(c)(k)
        b(r2) -= f * b(c)
      }
    }
    val x = new Array[Double](m)
    for (c <- m - 1 to 0 by -1) {
      var s = b(c)
      for (k <- c + 1 until m) s -= a(c)(k) * x(k)
      x(c) = s / a(c)(c)
    }
    x
  }

  /** KRUSKAL-WALLIS H test across ALL groups of a micro-grid measure —
    * the rank-based (distribution-free) omnibus companion to [[anovaF]]
    * and the k-group generalization of [[mannWhitneyU]], robust to the
    * heavy-tailed measures (revenue, latency) where ANOVA's equal-
    * variance normality assumption fails. Computed on the bounded
    * distinct-VALUE grid, never on raw rows: doubled midranks keep
    * everything integral (value v with t ties below-count c_lt has
    * 2·r̄(v) = 2·c_lt + t + 1 exactly), per-group doubled rank sums
    * 2R_g accumulate in DECIMAL(38,0), and the rank-sum-of-squares term
    * Σ_g R_g²/n_g is pinned as the exact FLOOR quotient
    * (2R_g)² div (4·n_g) per group (documented convention — the sub-unit
    * floor residue is negligible against R_g² ≥ n² and identical in any
    * engine). H carries the full tie correction 1 − Σ(t³−t)/(n³−n); the
    * only floats are the final pinned divisions.
    *
    * Scale shape: one shuffle to (value, group) cells, one to the
    * value grid; the global cumulative window runs over the distinct-
    * value grid only (bounded by the value domain, the [[mannWhitneyU]]
    * argument), and the group relation is |groups| rows.
    *
    * Returns one row: (k, n, tie_cubes, sum_q, h) where sum_q =
    * Σ_g (2R_g)² div (4·n_g) exact and h is null when degenerate
    * (k < 2, n ≤ k, or all values tied).
    */
  def kruskalWallis(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val base = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("g"),
        round(col(valueCol) * 1e6).cast("long").as("v"))
    def d(c: Column) = c.cast("decimal(38,0)")
    val cells = base.groupBy("v", "g").agg(count(lit(1)).as("c"))
    val gridV = graft.CacheScope.register(
      base.groupBy("v").agg(count(lit(1)).as("t")))
    // distinct-value grid only: bounded by the value domain, not rows
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = gridV
      .withColumn("cum_lt", coalesce(sum("t").over(w), lit(0L)))
      .select(col("v"), (col("cum_lt") * 2 + col("t") + 1).as("r2"))
    val perGroup = cells.join(ranked, "v").groupBy("g").agg(
      sum("c").cast("long").as("ng"),
      sum(d(col("c")) * d(col("r2"))).cast("decimal(38,0)").as("r2g"))
    // exact floor quotient per group; exact integer sum across groups
    val qAgg = perGroup.agg(
      count(lit(1)).as("k"),
      expr("cast(sum((cast(r2g as decimal(38,0)) * r2g) div (4 * ng)) " +
        "as decimal(38,0))").as("__q"))
    val ties = gridV.agg(
      sum("t").cast("long").as("n"),
      sum(d(col("t")) * d(col("t")) * d(col("t")) - d(col("t")))
        .cast("long").as("tie_cubes"))
    val nD = col("n").cast("double")
    val hUnc = lit(12.0) * col("sum_q").cast("double") / (nD * (nD + 1)) -
      lit(3.0) * (nD + 1)
    val corr = lit(1.0) -
      col("tie_cubes").cast("double") / (nD * nD * nD - nD)
    ties.crossJoin(broadcast(qAgg))
      .select(col("k"), col("n"), col("tie_cubes"),
        col("__q").cast("long").as("sum_q"))
      .withColumn("h",
        // degeneracy guard in DECIMAL: n³ overflows a long past ~2.1M rows
        when(col("k") >= 2 && col("n") > col("k") &&
          d(col("tie_cubes")) <
            d(col("n")) * d(col("n")) * d(col("n")) - d(col("n")),
          hUnc / corr))
  }

  /** JONCKHEERE-TERPSTRA trend test — the ORDERED alternative for
    * INDEPENDENT groups (what [[pageTrend]] is to [[friedmanTest]],
    * this is to [[kruskalWallis]]): with groups in a hypothesized
    * order, J = Σ_{i<j} U_ij counts cross-group pairs that agree with
    * the ordering; monotone shift ⇒ J far above its null mean.
    *
    * Exactness: everything rides the DOUBLED grid — J2 = 2J =
    * Σ_{i<j} Σ_v c_j(v)·(2·cum_i(<v) + c_i(v)) over the per-group
    * cumulative count grids on the GLOBAL distinct-value spine (ties
    * count half, hence exactly +c_i(v) on the ×2 grid). The spine fans
    * out ×k through one broadcast (bounded-grid argument: the spine is
    * the distinct-VALUE domain, never rows); per-group cumulations are
    * k partitioned windows; the cross-group term is one equi-join on
    * the value. z uses the classic tie-free moments E[J2] =
    * (N² − Σnᵢ²)/2, Var[J2] = (N²(2N+3) − Σnᵢ²(2nᵢ+3))/18 (documented;
    * both engines replay the same formula), p two-sided via the shared
    * A&S polynomial.
    *
    * Output ONE row: (n_total, k_groups, j2_stat, z, p_micro,
    * significant).
    */
  def jonckheereTerpstra(df: DataFrame, groupCol: String,
      valueCol: String, order: Seq[String]): DataFrame = {
    require(order.nonEmpty && order.distinct == order,
      s"hypothesized order must be distinct: $order")
    def d(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val giExpr = order.zipWithIndex.foldLeft(lit(null).cast("long")) {
      case (acc, (g, i)) =>
        when(col(groupCol) === g, lit(i + 1L)).otherwise(acc)
    }
    val base = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(giExpr.as("gi"),
        round(col(valueCol) * 1e6).cast("long").as("v"))
      .filter(col("gi").isNotNull)
    val cells = graft.CacheScope.register(
      base.groupBy("gi", "v").agg(count(lit(1)).as("c")))
    val groups = cells.select("gi").distinct()
    val spine = cells.select("v").distinct()
    val w = Window.partitionBy("gi").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val grid = graft.CacheScope.register(
      spine.crossJoin(broadcast(groups))
        .join(cells, Seq("gi", "v"), "left")
        .select(col("gi"), col("v"), coalesce(col("c"), lit(0L)).as("c"))
        .withColumn("cum_lt", coalesce(sum("c").over(w), lit(0L))))
    val j2 = grid.as("i").join(grid.as("j"),
        col("i.v") === col("j.v") && col("i.gi") < col("j.gi"))
      .agg(sum(d(col("j.c")) *
          (d(col("i.cum_lt")) * 2 + d(col("i.c"))))
        .cast("long").as("j2_stat"))
    val sizes = cells.groupBy("gi").agg(sum("c").cast("long").as("ng"))
      .agg(count(lit(1)).cast("long").as("k"),
        sum(d(col("ng"))).cast("long").as("n"),
        sum(d(col("ng")) * d(col("ng"))).cast("long").as("sn2"),
        sum(d(col("ng")) * d(col("ng")) *
          (d(col("ng")) * 2 + 3)).cast("decimal(38,0)").as("sn23"))
    val nD = dbl(col("n"))
    val e2 = (nD * nD - dbl(col("sn2"))) / lit(2.0)
    val var2 = (nD * nD * (lit(2.0) * nD + 3) - dbl(col("sn23"))) /
      lit(18.0)
    val z = (dbl(col("j2_stat")) - e2) / sqrt(var2)
    val az = abs(z)
    val kk = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = ((((lit(1.330274429) * kk + lit(-1.821255978)) * kk
      + lit(1.781477937)) * kk + lit(-0.356563782)) * kk
      + lit(0.319381530)) * kk
    val tail = lit(0.3989422804014327) * exp(lit(-0.5) * az * az) * poly
    val ok = col("k") >= 2L && var2 > 0
    sizes.crossJoin(broadcast(j2))
      .select(col("n").as("n_total"), col("k").as("k_groups"),
        col("j2_stat"),
        when(ok, z).as("z"),
        when(ok, round(least(lit(1.0), lit(2.0) * tail) * 1e6)
          .cast("long")).as("p_micro"))
      .withColumn("significant",
        col("p_micro").isNotNull && col("p_micro") <= 50000L)
  }

  /** MCNEMAR test of paired binary outcomes — "did the same subjects
    * flip between condition A and condition B?", the within-subject
    * counterpart of the two-proportion z-test (which wrongly treats the
    * conditions as independent samples when they share subjects). Input
    * is one row per subject with two boolean columns; only the
    * DISCORDANT cells n10/n01 carry signal. The statistic is the
    * continuity-corrected (|n10 − n01| − 1)² / (n10 + n01), floored at
    * zero when the discordant counts tie exactly.
    *
    * Scale shape: one aggregation pass (map-side partial combine) to
    * four exact counts; the subject relation never shuffles beyond the
    * caller's pairing aggregate.
    *
    * Returns one row: (n11, n10, n01, n00, chi2_cc) with chi2_cc null
    * when no discordant pairs exist.
    */
  def mcnemar(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(aCol).cast("boolean")
    val b = col(bCol).cast("boolean")
    pairs.filter(a.isNotNull && b.isNotNull).agg(
        count(when(a && b, lit(1))).as("n11"),
        count(when(a && !b, lit(1))).as("n10"),
        count(when(!a && b, lit(1))).as("n01"),
        count(when(!a && !b, lit(1))).as("n00"))
      .withColumn("chi2_cc",
        when(col("n10") + col("n01") > 0, {
          val dd = greatest(abs(col("n10") - col("n01")) - 1, lit(0L))
            .cast("double")
          dd * dd / (col("n10") + col("n01")).cast("double")
        }))
  }

  /** MANTEL-HAENSZEL stratified 2×2 analysis: the pooled odds ratio
    * OR_MH = Σᵢ(aᵢdᵢ/nᵢ) / Σᵢ(bᵢcᵢ/nᵢ) and the continuity-corrected
    * MH chi-square across strata — the classic guard against Simpson's
    * paradox (a confounder-stratified effect estimate where the pooled
    * 2×2 table lies). Exposure and outcome are caller-supplied boolean
    * Columns; each stratum's fractional terms (ad/n, bc/n, the
    * hypergeometric mean (a+b)(a+c)/n and variance
    * (a+b)(c+d)(a+c)(b+d)/(n²(n−1))) are micro-rounded per stratum from
    * exact counts and exact-summed (the [[chiSquare]] per-cell
    * convention — bit-identical in any engine and any partitioning).
    * χ²_MH keeps the |Σa − ΣE[a]| deviation on the exact micro grid and
    * applies the 0.5 continuity correction as the integer 500000.
    *
    * Scale shape: one shuffle to |strata| four-count rows, then a
    * single-row exact-sum aggregate; raw rows are scanned once.
    *
    * Returns one row: (k_strata, n_total, sum_a, sum_ad_micro,
    * sum_bc_micro, sum_ea_micro, sum_var_micro, or_mh, chi2_mh); or_mh
    * is null when Σbc = 0, chi2_mh when ΣVar = 0.
    */
  def mantelHaenszel(df: DataFrame, stratumCol: String, exposure: Column,
      outcome: Column): DataFrame = {
    val base = df.select(col(stratumCol).as("st"),
        exposure.cast("boolean").as("e"), outcome.cast("boolean").as("o"))
      .filter(col("st").isNotNull && col("e").isNotNull && col("o").isNotNull)
    val cells = base.groupBy("st").agg(
      count(when(col("e") && col("o"), lit(1))).as("a"),
      count(when(col("e") && !col("o"), lit(1))).as("b"),
      count(when(!col("e") && col("o"), lit(1))).as("c"),
      count(when(!col("e") && !col("o"), lit(1))).as("d"))
    def D(c: Column) = c.cast("double")
    val nn = col("a") + col("b") + col("c") + col("d")
    val nD = D(nn)
    val adT = round(D(col("a")) * D(col("d")) / nD * 1e6).cast("long")
    val bcT = round(D(col("b")) * D(col("c")) / nD * 1e6).cast("long")
    val eaT = round(D(col("a") + col("b")) * D(col("a") + col("c"))
      / nD * 1e6).cast("long")
    val varT = when(nn > 1,
      round(D(col("a") + col("b")) * D(col("c") + col("d"))
        * D(col("a") + col("c")) * D(col("b") + col("d"))
        / (nD * nD * (nD - 1)) * 1e6).cast("long")).otherwise(lit(0L))
    val tot = cells.agg(
      count(lit(1)).as("k_strata"),
      sum(nn).cast("long").as("n_total"),
      sum("a").cast("long").as("sum_a"),
      sum(adT).as("sum_ad_micro"),
      sum(bcT).as("sum_bc_micro"),
      sum(eaT).as("sum_ea_micro"),
      sum(varT).as("sum_var_micro"))
    val devMicro =
      greatest(abs(col("sum_a") * 1000000L - col("sum_ea_micro")) - 500000L,
        lit(0L)).cast("double")
    tot
      .withColumn("or_mh", when(col("sum_bc_micro") > 0,
        col("sum_ad_micro").cast("double")
          / col("sum_bc_micro").cast("double")))
      .withColumn("chi2_mh", when(col("sum_var_micro") > 0,
        devMicro * devMicro
          / (lit(1e6) * col("sum_var_micro").cast("double"))))
  }

  /** COCHRAN-ARMITAGE TREND TEST of a binary outcome across ORDERED
    * categories — "does the positive rate rise monotonically with the
    * score?", strictly sharper than [[chiSquare]]'s any-difference
    * alternative when the categories carry an order (priority tiers,
    * quality buckets, dose levels). The statistic is assembled entirely
    * from five exact integer sums (N, R, Σsᵢrᵢ, Σsᵢnᵢ, Σsᵢ²nᵢ over the
    * |categories|-row grid): T·N = N·Σsr − R·Σsn and
    * N³·Var = R(N−R)(N·Σs²n − (Σsn)²), so z = (N·Σsr − R·Σsn)·√N /
    * √(R(N−R)·(N·Σs²n − (Σsn)²)) — exact DECIMAL(38,0) products, one
    * pinned double sequence, bit-identical in any engine.
    *
    * Scale shape: one map-side-combined shuffle to the category grid,
    * one single-row aggregate. Raw rows are scanned once.
    *
    * Returns one row: (k, n, r, sum_sr, sum_sn, sum_s2n, z) — z null
    * when the outcome or the score is degenerate.
    */
  def cochranArmitage(df: DataFrame, scoreCol: String,
      target: Column): DataFrame = {
    val base = df.select(col(scoreCol).cast("long").as("s"),
        target.cast("boolean").as("y"))
      .filter(col("s").isNotNull && col("y").isNotNull)
    val cells = base.groupBy("s").agg(
      count(lit(1)).as("n_i"),
      count(when(col("y"), lit(1))).as("r_i"))
    val agg = cells.agg(
      count(lit(1)).as("k"),
      sum("n_i").cast("long").as("n"),
      sum("r_i").cast("long").as("r"),
      sum(col("s") * col("r_i")).cast("long").as("sum_sr"),
      sum(col("s") * col("n_i")).cast("long").as("sum_sn"),
      sum(col("s") * col("s") * col("n_i")).cast("long").as("sum_s2n"))
    def d(c: Column) = c.cast("decimal(38,0)")
    val ts = d(col("n")) * d(col("sum_sr")) - d(col("r")) * d(col("sum_sn"))
    val vn = d(col("n")) * d(col("sum_s2n")) -
      d(col("sum_sn")) * d(col("sum_sn"))
    val rr = d(col("r")) * (d(col("n")) - d(col("r")))
    agg.withColumn("z",
      when(col("r") > 0 && col("r") < col("n") && vn.cast("double") > 0,
        ts.cast("double") * sqrt(col("n").cast("double"))
          / sqrt(rr.cast("double") * vn.cast("double"))))
  }

  /** HUBER ROBUST LOCATION by integer IRLS — the M-estimator midpoint
    * between the mean (efficient, outlier-fragile) and the median
    * (robust, inefficient): starting from the exact lower median,
    * each iteration reweights w = min(1, k/|x − μ|) and takes the
    * weighted mean. Weights live on the integer micro grid
    * (w_micro = 10⁶ inside the k-band, else (k_micro·10⁶) div |x−μ| —
    * FLOOR division, the documented convention), and each new μ is the
    * exact quotient (Σw·x·cnt) div (Σw·cnt) in DECIMAL(38,0), so every
    * iterate is bit-identical in any engine with NO float accumulation.
    * Positive-domain contract: `div` truncates while DuckDB `//`
    * floors, so the micro values must be ≥ 0 (shift upstream
    * otherwise) — same convention as [[Analytics.targetEncode]].
    *
    * Scale shape: one map-side-combined shuffle to the distinct-value
    * grid; the median cumulation and every IRLS pass run on that
    * bounded grid (the q97 argument) — `iters` is a constant, so the
    * whole estimator is O(iters) grid aggregates after one scan.
    *
    * Returns one row: (n, mu_0, mu_1, …, mu_iters) — mu_0 is the exact
    * lower median, mu_iters the final Huber location, all micro longs.
    */
  def huberLocation(df: DataFrame, valCol: String, kMicro: Long,
      iters: Int = 3): DataFrame = {
    require(kMicro > 0, s"kMicro must be positive: $kMicro")
    require(iters >= 1 && iters <= 6, s"iters out of range: $iters")
    val grid = graft.CacheScope.register(
      df.filter(col(valCol).isNotNull)
        .select(round(col(valCol) * 1e6).cast("long").as("x"))
        .groupBy("x").agg(count(lit(1)).as("cnt")))
    val n = grid.agg(coalesce(sum("cnt"), lit(0L)).cast("long").as("n"))
    // exact lower median off the bounded distinct-value grid
    val cumW = Window.orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = grid.withColumn("cum", sum("cnt").over(cumW))
      .crossJoin(broadcast(n))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .agg(min("x").as("mu_0"))
    var mus = List[DataFrame](med)
    for (j <- 1 to iters) {
      val prev = mus.head.select(col(s"mu_${j - 1}").as("mu"))
      val next = grid.crossJoin(broadcast(prev))
        .withColumn("d", abs(col("x") - col("mu")))
        .withColumn("w", when(col("d") <= kMicro, lit(1000000L))
          .otherwise(expr(s"(${kMicro}L * 1000000L) div d")))
        .agg(
          expr("cast(sum(cast(w as decimal(38,0)) * x * cnt) " +
            "as decimal(38,0))").as("swx"),
          expr("cast(sum(cast(w as decimal(38,0)) * cnt) " +
            "as decimal(38,0))").as("sw"))
        .select(expr(s"cast(swx div sw as long)").as(s"mu_$j"))
      mus = next :: mus
    }
    mus.reverse.reduce((a, b) => a.crossJoin(broadcast(b)))
      .crossJoin(broadcast(n))
      .select((col("n") +: (0 to iters).map(j => col(s"mu_$j"))): _*)
  }

  /** MAD ROBUST SCALE + OUTLIER AUDIT — median absolute deviation, the
    * robust-scale partner of [[huberLocation]] and the correct outlier
    * yardstick where [[outliersZScore]]'s σ is itself dragged by the
    * outliers it is meant to find (σ has breakdown point 0; MAD, 50%).
    * Everything stays on the exact integer micro grid: lower median and
    * deviation median off bounded distinct-value grids, the 3·1.4826·MAD
    * fence as the exact floor quotient (3·14826·MAD) div 10⁴ (1.4826 ≈
    * 1/Φ⁻¹(3/4), the normal-consistency constant on the 10⁻⁴ grid), and
    * the outlier count as an exact conditional sum — no floats anywhere.
    *
    * Scale shape: one shuffle to the distinct-value grid; the deviation
    * re-grid, both median cumulations, and the fence count all run on
    * value-domain-bounded relations (the q97 argument). Raw rows are
    * scanned once.
    *
    * Returns one row: (n, median_micro, mad_micro, threshold_micro,
    * n_outliers).
    */
  def madOutliers(df: DataFrame, valCol: String): DataFrame = {
    val grid = graft.CacheScope.register(
      df.filter(col(valCol).isNotNull)
        .select(round(col(valCol) * 1e6).cast("long").as("x"))
        .groupBy("x").agg(count(lit(1)).as("cnt")))
    val n = grid.agg(coalesce(sum("cnt"), lit(0L)).cast("long").as("n"))
    def lowerMedian(g: DataFrame, vCol: String, out: String): DataFrame = {
      val w = Window.orderBy(vCol)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("cum", sum("cnt").over(w))
        .crossJoin(broadcast(n))
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .agg(min(vCol).as(out))
    }
    val med = lowerMedian(grid, "x", "median_micro")
    val dev = grid.crossJoin(broadcast(med))
      .select(abs(col("x") - col("median_micro")).as("dx"), col("cnt"))
      .groupBy("dx").agg(sum("cnt").as("cnt"))
    val mad = lowerMedian(dev, "dx", "mad_micro")
      .withColumn("threshold_micro",
        expr("(3L * 14826L * mad_micro) div 10000L"))
    val outliers = grid.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .agg(coalesce(sum(when(
        abs(col("x") - col("median_micro")) > col("threshold_micro"),
        col("cnt")).otherwise(lit(0L))), lit(0L)).cast("long")
        .as("n_outliers"))
    n.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .crossJoin(broadcast(outliers))
      .select(col("n"), col("median_micro"), col("mad_micro"),
        col("threshold_micro"), col("n_outliers"))
  }

  /** APPROXIMATE-QUANTILE SKETCH CONTRACT: runs Spark's single-pass
    * `percentile_approx` (Greenwald-Khanna style, the only quantile a
    * 100 TB column gets — exact quantiles need a global sort) and
    * VERIFIES its rank guarantee against exact ranks computed from the
    * bounded distinct-value grid: the returned value's rank interval
    * [count(<v)+1, count(≤v)] must overlap the target rank q·n within
    * ±(n/accuracy + 1) (the sketch's ε·n band, one rank of slack for
    * the open/closed convention). The sketch output itself is engine-
    * specific, so the CONTRACT BOOLEANS are the oracle-checked surface
    * (the q31/q46 bound-check convention) — a regression in the sketch
    * path fails the gate even though no oracle can replay the sketch.
    *
    * Scale shape: one pass for the sketch aggregate, one map-side-
    * combined shuffle to the distinct-value grid, then a broadcast
    * |quantiles|-row probe join over that grid. No sort anywhere.
    *
    * Returns per requested quantile, ordered: (q_micro, n,
    * within_bound) — within_bound must be uniformly true.
    */
  def approxQuantileContract(df: DataFrame, valCol: String,
      quantiles: Seq[Double], accuracy: Int): DataFrame = {
    require(quantiles.nonEmpty && quantiles.forall(q => q > 0 && q < 1),
      s"quantiles must be in (0,1): $quantiles")
    require(accuracy >= 10, s"accuracy too low: $accuracy")
    val base = df.filter(col(valCol).isNotNull)
      .select(round(col(valCol) * 1e6).cast("long").as("x"))
    val grid = graft.CacheScope.register(
      base.groupBy("x").agg(count(lit(1)).as("cnt")))
    val n = grid.agg(coalesce(sum("cnt"), lit(0L)).cast("long").as("n"))
    val approx = base.agg(percentile_approx(col("x"),
      array(quantiles.map(lit(_)): _*), lit(accuracy)).as("vals"))
    val qmArr = array(quantiles.map(q => lit(Math.round(q * 1e6))): _*)
    val probes = approx.select(posexplode(col("vals")).as(Seq("i", "a")))
      .withColumn("q_micro", element_at(qmArr, col("i").cast("int") + 1))
    // exact rank interval of each returned value, off the bounded grid
    val ranks = grid.crossJoin(broadcast(probes))
      .groupBy("q_micro").agg(
        sum(when(col("x") < col("a"), col("cnt")).otherwise(lit(0L)))
          .cast("long").as("rank_lt"),
        sum(when(col("x") <= col("a"), col("cnt")).otherwise(lit(0L)))
          .cast("long").as("rank_le"))
    val nD = col("n").cast("double")
    val target = col("q_micro").cast("double") / lit(1e6) * nD
    val eps = nD / lit(accuracy.toDouble) + 1.0
    ranks.crossJoin(broadcast(n))
      .select(col("q_micro"), col("n"),
        ((col("rank_lt").cast("double") + 1 - eps <= target) &&
          (col("rank_le").cast("double") + eps >= target))
          .as("within_bound"))
      .orderBy("q_micro")
  }

  /** WEIGHT OF EVIDENCE / INFORMATION VALUE of a categorical feature
    * against a boolean target — the credit-scoring-vintage predictive-
    * power audit (IV < 0.02 useless, > 0.5 suspiciously strong) that
    * complements [[chiSquare]]'s independence test with a per-bin
    * direction and magnitude. WoE_bin = ln(pos_bin/posTot) −
    * ln(neg_bin/negTot), computed as the difference of two micro-rounded
    * logs of exact integer cross-products (pos_bin·negTot vs
    * neg_bin·posTot, multiplied in double per the overflow convention);
    * the IV contribution micro-rounds (pos_bin/posTot − neg_bin/negTot)
    * · WoE from those pinned values, and the total IV is the exact
    * integer sum of the per-bin micro contributions. Bins with a zero
    * cell get null WoE/IV (excluded from the total) rather than a
    * fabricated smoothing constant — callers who need smoothing add the
    * pseudo-counts upstream.
    *
    * Scale shape: one shuffle to |bins| rows, one broadcast one-row
    * total; raw rows are scanned once.
    *
    * Returns per bin, ordered: (bin, n_pos, n_neg, woe_micro, iv_micro,
    * iv_total_micro).
    */
  def woeIv(df: DataFrame, binCol: String, target: Column): DataFrame = {
    val base = df.select(col(binCol).as("bin"),
        target.cast("boolean").as("y"))
      .filter(col("bin").isNotNull && col("y").isNotNull)
    val bins = base.groupBy("bin").agg(
      count(when(col("y"), lit(1))).as("n_pos"),
      count(when(!col("y"), lit(1))).as("n_neg"))
    val tot = bins.agg(sum("n_pos").cast("long").as("__tp"),
      sum("n_neg").cast("long").as("__tn"))
    def lnMicro(c: Column): Column = round(log(c) * 1e6).cast("long")
    val withWoe = graft.CacheScope.register(
      bins.crossJoin(broadcast(tot))
        .withColumn("woe_micro",
          when(col("n_pos") > 0 && col("n_neg") > 0 &&
              col("__tp") > 0 && col("__tn") > 0,
            lnMicro(col("n_pos").cast("double") * col("__tn").cast("double"))
              - lnMicro(col("n_neg").cast("double")
                * col("__tp").cast("double"))))
        // guard on woe_micro: with an empty target class (__tn or __tp
        // zero) the raw divisions would raise DIVIDE_BY_ZERO under ANSI
        .withColumn("iv_micro",
          when(col("woe_micro").isNotNull,
            round((col("n_pos").cast("double") / col("__tp").cast("double")
              - col("n_neg").cast("double") / col("__tn").cast("double"))
              * col("woe_micro").cast("double")).cast("long"))))
    val total = withWoe.agg(
      coalesce(sum("iv_micro"), lit(0L)).as("iv_total_micro"))
    withWoe.crossJoin(broadcast(total))
      .select(col("bin"), col("n_pos"), col("n_neg"), col("woe_micro"),
        col("iv_micro"), col("iv_total_micro"))
      .orderBy("bin")
  }

  /** BROWN-FORSYTHE VARIANCE-HOMOGENEITY TEST (Levene's test with median
    * centers — the robust variant Brown & Forsythe 1974 recommend): the
    * precondition audit for q235's ANOVA F, whose p-value is only honest
    * when the group variances agree. Classic Levene on means is itself
    * dragged by the heavy tails it is supposed to detect; the median
    * variant is the one production check.
    *
    * Mechanics, every step engine-pinned: values land on the 10⁻⁶ grid;
    * each group's LOWER median comes off the per-group distinct-value
    * grid (cum ≥ (n+1) div 2 — the [[madOutliers]] convention); the
    * absolute deviations z = |x − med_g| are exact integers, their
    * per-group moments exact DECIMAL(38,0). The between/within sums of
    * squares are per-group IEEE terms over those exact moments, each
    * rounded HALF_UP to the UNIT grid and summed as BIGINT (the chi2/PSI
    * contribution scheme at the coarseness price-scale SS needs —
    * group-order-independent), and
    * W = ((N−k)/(k−1)) · between/within is the one final division pair.
    *
    * Scale shape: one shuffle to the (group, value) grid (map-side
    * combined counts — the shuffle carries distinct values, not rows),
    * per-group windows over that bounded grid, and |groups|-row
    * aggregates after. Output ONE row:
    * (n, k, between_sum, within_sum, df1, df2, w_stat).
    */
  def leveneBrownForsythe(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val grid = graft.CacheScope.register(
      df.filter(col(groupCol).isNotNull && col(valCol).isNotNull)
        .select(col(groupCol).as("g"),
          round(col(valCol) * 1e6).cast("long").as("x"))
        .groupBy("g", "x").agg(count(lit(1)).as("cnt")))
    val ng = grid.groupBy("g").agg(sum("cnt").cast("long").as("ng"))
    val wCum = Window.partitionBy("g").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = grid.withColumn("cum", sum("cnt").over(wCum))
      .join(ng, "g")
      .filter(col("cum") >= expr("(ng + 1) div 2"))
      .groupBy("g").agg(min("x").as("med"))
    // exact integer deviations and their exact per-group moments
    val zmom = grid.join(med, "g")
      .select(col("g"), col("cnt"), abs(col("x") - col("med")).as("z"))
      .groupBy("g").agg(
        sum("cnt").cast("long").as("ng"),
        sum(dec(col("cnt")) * dec(col("z"))).cast("decimal(38,0)").as("sz"),
        sum(dec(col("cnt")) * dec(col("z")) * dec(col("z")))
          .cast("decimal(38,0)").as("qz"))
    val tot = zmom.agg(count(lit(1)).as("k"),
      sum("ng").cast("long").as("n"),
      sum(col("sz")).cast("decimal(38,0)").as("szall"))
    // per-group IEEE terms in ORIGINAL units² (micro sums / 1e6), each
    // rounded to the UNIT grid and summed as BIGINT (group-order-free).
    // The unit grid, not micro: price-scale SS terms run ~10¹³, so a
    // micro-grid long would overflow and the double round would already
    // be past 2^53. Exactness window: |SS term| < 2^53 per group.
    val terms = zmom.crossJoin(broadcast(tot))
      .select(
        round(
          dbl(col("ng")) *
            (dbl(col("sz")) / dbl(col("ng")) / lit(1e6)
              - dbl(col("szall")) / dbl(col("n")) / lit(1e6)) *
            (dbl(col("sz")) / dbl(col("ng")) / lit(1e6)
              - dbl(col("szall")) / dbl(col("n")) / lit(1e6)))
          .cast("long").as("b_unit"),
        round((dbl(col("ng")) * dbl(col("qz"))
          - dbl(col("sz")) * dbl(col("sz")))
          / dbl(col("ng")) / lit(1e12)).cast("long").as("w_unit"))
      .agg(sum("b_unit").cast("long").as("between_sum"),
        sum("w_unit").cast("long").as("within_sum"))
    tot.crossJoin(broadcast(terms))
      .select(col("n"), col("k").cast("long").as("k"),
        col("between_sum"), col("within_sum"),
        (col("k") - 1).cast("long").as("df1"),
        (col("n") - col("k")).cast("long").as("df2"),
        when(col("k") >= 2 && col("n") > col("k") &&
            col("within_sum") > 0,
          (col("n") - col("k")).cast("double") /
            (col("k") - 1).cast("double") *
            col("between_sum").cast("double") /
            col("within_sum").cast("double")).as("w_stat"))
  }

  /** JARQUE-BERA NORMALITY TEST per group — the gate in front of every
    * test in the battery that assumes Gaussian residuals (q134/q235/
    * q245): JB = n·(g₁²/6 + g₂²/24) from the same exact-DECIMAL raw
    * moments as [[momentsByGroup]] (10⁻³ value grid), with the χ²₂
    * survival p = exp(−JB/2) — CLOSED FORM, no polynomial approximation
    * needed for two degrees of freedom — rounded to the 10⁻⁶ grid.
    *
    * Scale shape: ONE map-side-combined moment aggregate per group; no
    * second scan, no window. Output per group:
    * (group, n, skewness, kurtosis_excess, jb, p_micro), ordered.
    */
  def jarqueBera(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val v = round(col(valCol) * 1e3).cast("long")
    val grid = df.filter(col(groupCol).isNotNull && col(valCol).isNotNull)
      .select(col(groupCol).as("g"), v.as("v"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("v"))).as("s1"),
        sum(dec(col("v")) * dec(col("v"))).as("s2"),
        sum(dec(col("v")) * dec(col("v")) * dec(col("v"))).as("s3"),
        sum(dec(col("v")) * dec(col("v")) * dec(col("v")) * dec(col("v")))
          .as("s4"))
    val nD = dbl(col("n"))
    val (s1, s2, s3, s4) = (dbl(col("s1")), dbl(col("s2")), dbl(col("s3")),
      dbl(col("s4")))
    // central moments in original units — the q272 pinned IEEE sequence
    val m2 = (nD * s2 - s1 * s1) / (nD * nD) / lit(1e6)
    val m3 = (nD * nD * s3 - lit(3.0) * nD * s1 * s2
      + lit(2.0) * s1 * s1 * s1) / (nD * nD * nD) / lit(1e9)
    val m4 = (nD * nD * nD * s4 - lit(4.0) * nD * nD * s1 * s3
      + lit(6.0) * nD * s1 * s1 * s2 - lit(3.0) * s1 * s1 * s1 * s1) /
      (nD * nD * nD * nD) / lit(1e12)
    val sk = m3 / sqrt(m2 * m2 * m2)
    val ex = m4 / (m2 * m2) - lit(3.0)
    val jb = nD * (sk * sk / lit(6.0) + ex * ex / lit(24.0))
    grid.select(col("g").as("group"), col("n"),
        when(m2 > 0, sk).as("skewness"),
        when(m2 > 0, ex).as("kurtosis_excess"),
        when(m2 > 0, jb).as("jb"),
        when(m2 > 0, round(exp(lit(-0.5) * jb) * 1e6).cast("long"))
          .as("p_micro"))
      .orderBy("group")
  }

  /** MURPHY DECOMPOSITION of the Brier score — reliability (calibration
    * error), resolution (how much the bins separate the outcome), and
    * uncertainty (the outcome's own variance): the three numbers that
    * say WHY a probability score is good or bad, where q166's per-bin
    * table only shows the raw curve. Identity emitted as a column:
    * brier = reliability − resolution + uncertainty + within_var, where
    * within_var is the within-bin forecast variance the binned
    * decomposition cannot see (zero iff every bin's forecasts are
    * constant).
    *
    * Exactness: the raw Brier numerator is an EXACT integer micro² sum
    * (q166's brier_num_sum); reliability/resolution are per-bin IEEE
    * terms over exact bin counts, each rounded to the 10⁻⁶ grid and
    * summed as BIGINT (bin-order-free); uncertainty is one IEEE
    * expression of two exact integers.
    *
    * Scale shape: inherits [[calibrationBins]]' one-shuffle bin grid;
    * everything after is a ≤`bins`-row aggregate. Output ONE row.
    */
  def brierDecomposition(df: DataFrame, labelCol: Column, pMicroCol: Column,
      bins: Int = 10): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    val b = graft.CacheScope.register(
      calibrationBins(df, labelCol, pMicroCol, bins))
    // the total's count gets its own name up front: the crossJoin below
    // would otherwise make `n` ambiguous against the per-bin column
    val tot2 = b.agg(sum("n").cast("long").as("n_tot"),
      sum("k").cast("long").as("k_pos"),
      sum("brier_num_sum").cast("long").as("brier_num"))
    val terms2 = b.crossJoin(broadcast(tot2))
      .select(
        round((dbl(col("n")) *
          (dbl(col("sum_p_micro")) / dbl(col("n")) / lit(1e6)
            - dbl(col("k")) / dbl(col("n"))) *
          (dbl(col("sum_p_micro")) / dbl(col("n")) / lit(1e6)
            - dbl(col("k")) / dbl(col("n")))) * 1e6).cast("long")
          .as("rel_micro"),
        round((dbl(col("n")) *
          (dbl(col("k")) / dbl(col("n"))
            - dbl(col("k_pos")) / dbl(col("n_tot"))) *
          (dbl(col("k")) / dbl(col("n"))
            - dbl(col("k_pos")) / dbl(col("n_tot")))) * 1e6).cast("long")
          .as("res_micro"))
      .agg(sum("rel_micro").cast("long").as("rel_micro_sum"),
        sum("res_micro").cast("long").as("res_micro_sum"))
    tot2.crossJoin(broadcast(terms2))
      .select(col("n_tot").as("n"), col("k_pos"),
        (dbl(col("brier_num")) / dbl(col("n_tot")) / lit(1e12)).as("brier"),
        (dbl(col("rel_micro_sum")) / dbl(col("n_tot")) / lit(1e6))
          .as("reliability"),
        (dbl(col("res_micro_sum")) / dbl(col("n_tot")) / lit(1e6))
          .as("resolution"),
        (dbl(col("k_pos")) / dbl(col("n_tot")) *
          (lit(1.0) - dbl(col("k_pos")) / dbl(col("n_tot"))))
          .as("uncertainty"),
        (dbl(col("brier_num")) / dbl(col("n_tot")) / lit(1e12)
          - (dbl(col("rel_micro_sum")) / dbl(col("n_tot")) / lit(1e6)
            - dbl(col("res_micro_sum")) / dbl(col("n_tot")) / lit(1e6)
            + dbl(col("k_pos")) / dbl(col("n_tot")) *
              (lit(1.0) - dbl(col("k_pos")) / dbl(col("n_tot")))))
          .as("within_var"))
  }

  /** STANDARDIZED EFFECT SIZES for every group pair — Cohen's d (pooled
    * sd), Hedges' g (the small-sample bias correction J = 1 − 3/(4m−9)),
    * and Glass's Δ (control = the first group's sd): the magnitude
    * companion to q134's Welch t — a launch readout needs "how big",
    * not just "how unlikely", and at warehouse row counts every
    * difference is significant while most are negligible.
    *
    * Exactness: per-group moments are exact DECIMAL(38,0) on the 10⁻⁶
    * grid (the [[welchTTest]] contract); every derived statistic is a
    * pinned IEEE sequence over those exact integers — no cross-row
    * double summation anywhere.
    *
    * Scale shape: ONE moment aggregate, then a broadcast self-join over
    * the |groups|-row table (BNLJ on the tiny aggregate only). Output
    * per ordered pair (group_a < group_b).
    */
  def effectSizes(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(groupCol).isNotNull && col(valCol).isNotNull)
      .select(col(groupCol).as("g"),
        round(col(valCol) * 1e6).cast("long").as("v"))
    val agg = base.groupBy("g").agg(
      count(lit(1)).as("n"),
      sum(dec(col("v"))).cast("decimal(38,0)").as("s"),
      sum(dec(col("v")) * dec(col("v"))).cast("decimal(38,0)").as("q"))
    val a = agg.select(col("g").as("group_a"), col("n").as("n_a"),
      col("s").as("s_a"), col("q").as("q_a"))
    val b = agg.select(col("g").as("group_b"), col("n").as("n_b"),
      col("s").as("s_b"), col("q").as("q_b"))
    val joined = a.join(broadcast(b), col("group_a") < col("group_b"))
    def stats(side: String) = {
      val n = col(s"n_$side").cast("double")
      val s = col(s"s_$side").cast("double")
      val q = col(s"q_$side").cast("double")
      val mean = s / n / lit(1e6)
      // unbiased variance in original units²
      val v = (n * q - s * s) / (n * (n - lit(1.0))) / lit(1e12)
      (n, mean, v)
    }
    val (na, ma, va) = stats("a")
    val (nb, mb, vb) = stats("b")
    val pooled = ((na - lit(1.0)) * va + (nb - lit(1.0)) * vb) /
      (na + nb - lit(2.0))
    val ok = col("n_a") >= 2 && col("n_b") >= 2
    val d = (ma - mb) / sqrt(pooled)
    val j = lit(1.0) - lit(3.0) / (lit(4.0) * (na + nb) - lit(9.0))
    joined.select(col("group_a"), col("group_b"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        ma.as("mean_a"), mb.as("mean_b"),
        when(ok && pooled > 0, d).as("cohens_d"),
        when(ok && pooled > 0, j * d).as("hedges_g"),
        when(ok && va > 0, (ma - mb) / sqrt(va)).as("glass_delta"))
      .orderBy("group_a", "group_b")
  }

  /** CRONBACH'S ALPHA internal-consistency coefficient over K item
    * columns — "do these K measurements move together enough to be one
    * scale?": α = K/(K−1) · (1 − Σ σ²ᵢ / σ²_total), the reliability
    * audit a feature-engineering pipeline runs before collapsing
    * correlated signals (quality sub-scores, rating facets) into one
    * composite.
    *
    * Exactness: each item and the row-sum land on the 10⁻⁶ grid; ONE
    * aggregate carries every (Σv, Σv²) as exact DECIMAL(38,0); the K
    * per-item population variances are a FIXED-ORDER IEEE chain over
    * those exact integers (K is a literal column list, never a cross-
    * row double sum), and α is the one final expression. Rows with ANY
    * null item are dropped (listwise deletion — the classical
    * convention).
    *
    * Scale shape: one map-side-combined aggregate pass; output ONE row
    * (n, k, sum_item_var, total_var, alpha).
    */
  def cronbachAlpha(df: DataFrame, items: Seq[String]): DataFrame = {
    require(items.size >= 2, "cronbachAlpha needs at least 2 items")
    def dec(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val valid = items.map(col(_).isNotNull).reduce(_ && _)
    val micro = items.map(i => round(col(i) * 1e6).cast("long").as(s"__$i"))
    val base = df.filter(valid).select(micro: _*)
    val rowSum = items.map(i => col(s"__$i")).reduce(_ + _)
    val aggs = items.flatMap(i => Seq(
      sum(dec(col(s"__$i"))).cast("decimal(38,0)").as(s"s_$i"),
      sum(dec(col(s"__$i")) * dec(col(s"__$i"))).cast("decimal(38,0)")
        .as(s"q_$i"))) ++ Seq(
      sum(dec(rowSum)).cast("decimal(38,0)").as("s_tot"),
      sum(dec(rowSum) * dec(rowSum)).cast("decimal(38,0)").as("q_tot"),
      count(lit(1)).as("n"))
    val m = base.agg(aggs.head, aggs.tail: _*)
    val nD = dbl(col("n"))
    def popVar(s: Column, q: Column) =
      (nD * dbl(q) - dbl(s) * dbl(s)) / (nD * nD) / lit(1e12)
    // fixed left-to-right chain over the K literal items — pinned order
    val sumItemVar = items.map(i => popVar(col(s"s_$i"), col(s"q_$i")))
      .reduce(_ + _)
    val totVar = popVar(col("s_tot"), col("q_tot"))
    val kD = lit(items.size.toDouble)
    m.select(col("n"), lit(items.size.toLong).as("k"),
      sumItemVar.as("sum_item_var"), totVar.as("total_var"),
      when(col("n") >= 2 && totVar > 0,
        kD / (kD - lit(1.0)) * (lit(1.0) - sumItemVar / totVar))
        .as("alpha"))
  }

  /** FIRST-ORDER PARTIAL CORRELATION r(x,y | z) — the association left
    * between x and y once the shared driver z is regressed out:
    * (r_xy − r_xz·r_yz) / √((1 − r²_xz)(1 − r²_yz)). The confounder
    * audit for q99's raw correlation matrix — a strong x~y cell means
    * nothing when both ride the same third column.
    *
    * Exactness: one aggregate carries all nine (Σ, Σ², Σ·cross) moments
    * as exact DECIMAL(38,0) on the 10⁻⁶ grid; each pairwise r and the
    * partial are pinned IEEE sequences over those exact integers.
    *
    * Scale shape: ONE map-side-combined aggregate pass; output ONE row
    * (n, r_xy, r_xz, r_yz, r_xy_given_z).
    */
  def partialCorrelation(df: DataFrame, xCol: String, yCol: String,
      zCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(zCol).isNotNull)
      .select(round(col(xCol) * 1e6).cast("long").as("x"),
        round(col(yCol) * 1e6).cast("long").as("y"),
        round(col(zCol) * 1e6).cast("long").as("z"))
    val m = base.agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).cast("decimal(38,0)").as("sx"),
      sum(dec(col("y"))).cast("decimal(38,0)").as("sy"),
      sum(dec(col("z"))).cast("decimal(38,0)").as("sz"),
      sum(dec(col("x")) * dec(col("x"))).cast("decimal(38,0)").as("sxx"),
      sum(dec(col("y")) * dec(col("y"))).cast("decimal(38,0)").as("syy"),
      sum(dec(col("z")) * dec(col("z"))).cast("decimal(38,0)").as("szz"),
      sum(dec(col("x")) * dec(col("y"))).cast("decimal(38,0)").as("sxy"),
      sum(dec(col("x")) * dec(col("z"))).cast("decimal(38,0)").as("sxz"),
      sum(dec(col("y")) * dec(col("z"))).cast("decimal(38,0)").as("syz"))
    val nD = dbl(col("n"))
    def cov(sab: Column, sa: Column, sb: Column) =
      nD * dbl(sab) - dbl(sa) * dbl(sb)
    def r(sab: Column, sa: Column, sb: Column, saa: Column, sbb: Column) =
      cov(sab, sa, sb) /
        sqrt(cov(saa, sa, sa) * cov(sbb, sb, sb))
    val rxy = r(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
    val rxz = r(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
    val ryz = r(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
    val denomOk = cov(col("sxx"), col("sx"), col("sx")) > 0 &&
      cov(col("syy"), col("sy"), col("sy")) > 0 &&
      cov(col("szz"), col("sz"), col("sz")) > 0
    val part = (rxy - rxz * ryz) /
      sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz))
    m.select(col("n"),
      when(denomOk, rxy).as("r_xy"),
      when(denomOk, rxz).as("r_xz"),
      when(denomOk, ryz).as("r_yz"),
      when(denomOk && abs(rxz) < 1.0 && abs(ryz) < 1.0, part)
        .as("r_xy_given_z"))
  }

  /** MIXTURE SEQUENTIAL PROBABILITY RATIO TEST (mSPRT, Johari et al.
    * 2017) — the ALWAYS-VALID p-value that lets an experiment be peeked
    * at continuously: under H₀ the mixture likelihood ratio Λ is a
    * martingale, so p = min(1, 1/Λ) holds at EVERY stopping time, where
    * q134/q271's fixed-horizon p is only valid at one pre-registered n.
    * Two-sample mean form with a N(0, τ²) effect prior:
    *
    *   Λ = √(se²/(se² + τ²)) · exp(Δ̄²·τ² / (2·se²·(se² + τ²)))
    *
    * with Δ̄ = mean_a − mean_b and se² = va/na + vb/nb from the exact
    * DECIMAL micro moments of the two hashed arms (the bhFdr machinery).
    * Every step is a pinned IEEE sequence; p is rounded to the 10⁻⁶
    * grid (the micro-log/exp determinism budget). A diverging exponent
    * drives Λ → ∞ and p → 0 through ordinary IEEE infinity arithmetic —
    * deterministically in both engines.
    *
    * Scale shape: ONE conditional-moment aggregate per segment; output
    * per segment (segment, n_a, n_b, delta, p_micro, significant),
    * ordered by segment.
    */
  def msprt(df: DataFrame, segmentCol: String, userCol: String,
      valueCol: String, salt: String, tauSq: Double,
      alphaMicro: Long = 50000L): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val base = df.filter(col(segmentCol).isNotNull &&
        col(userCol).isNotNull && col(valueCol).isNotNull)
      .select(col(segmentCol).as("seg"),
        (graft.functions.Hashing.h60(
          concat(lit(s"$salt:"), col(userCol).cast("string"))) % 2 === 0)
          .as("a"),
        round(col(valueCol) * 1e6).cast("long").as("v"))
    val grid = base.groupBy("seg").agg(
      sum(when(col("a"), 1L).otherwise(0L)).as("na"),
      sum(when(col("a"), dec(col("v"))).otherwise(dec(lit(0L)))).as("sa"),
      sum(when(col("a"), dec(col("v")) * dec(col("v")))
        .otherwise(dec(lit(0L)))).as("qa"),
      sum(when(!col("a"), 1L).otherwise(0L)).as("nb"),
      sum(when(!col("a"), dec(col("v"))).otherwise(dec(lit(0L)))).as("sb"),
      sum(when(!col("a"), dec(col("v")) * dec(col("v")))
        .otherwise(dec(lit(0L)))).as("qb"))
    val ma = dbl(col("sa")) / dbl(col("na")) / lit(1e6)
    val mb = dbl(col("sb")) / dbl(col("nb")) / lit(1e6)
    val va = (dbl(col("na")) * dbl(col("qa")) - dbl(col("sa")) * dbl(col("sa"))) /
      (dbl(col("na")) * dbl(col("na"))) / lit(1e12)
    val vb = (dbl(col("nb")) * dbl(col("qb")) - dbl(col("sb")) * dbl(col("sb"))) /
      (dbl(col("nb")) * dbl(col("nb"))) / lit(1e12)
    val se2 = va / dbl(col("na")) + vb / dbl(col("nb"))
    val delta = ma - mb
    val lam = sqrt(se2 / (se2 + lit(tauSq))) *
      exp(delta * delta * lit(tauSq) /
        (lit(2.0) * se2 * (se2 + lit(tauSq))))
    val p = least(lit(1.0), lit(1.0) / lam)
    val ok = col("na") > 0 && col("nb") > 0 && se2 > 0
    grid.select(col("seg").as("segment"),
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        when(ok, delta).as("delta"),
        when(ok, round(p * 1e6).cast("long")).as("p_micro"),
        when(ok, round(p * 1e6).cast("long") <= alphaMicro)
          .as("significant"))
      .orderBy("segment")
  }

  /** CONVERSION Z-TEST — the experiment-arm reading of the two-
    * proportion z: units (users) are first COLLAPSED to one converted
    * bit each (bool_or — repeat events must not multiply-count), then
    * the hashed arms' rates are compared. [[twoProportionZ]] (q214)
    * tests two NAMED populations row-level; this is the per-unit
    * hashed-assignment funnel readout, with the A&S p emitted:
    * pooled-variance z
    * (p̂₁ − p̂₂)/√(p̂(1−p̂)(1/n₁ + 1/n₂)), two-sided p through the A&S
    * 26.2.17 tail polynomial on the 10⁻⁶ grid (the bhFdr budget).
    *
    * Exactness: conversion is a per-unit boolean aggregate (bool_or),
    * so every input to the IEEE chain is an exact BIGINT count.
    *
    * Scale shape: one shuffle to the unit grid (map-side combined),
    * one 1-row conditional-count aggregate. Output ONE row:
    * (n_a, n_b, k_a, k_b, z, p_micro).
    */
  def conversionZTest(df: DataFrame, unitCol: String, salt: String,
      successCol: Column): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    val units = df.filter(col(unitCol).isNotNull)
      .groupBy(col(unitCol).as("u"))
      .agg(max(when(successCol, 1L).otherwise(0L)).as("conv"))
      .select(
        (graft.functions.Hashing.h60(
          concat(lit(s"$salt:"), col("u").cast("string"))) % 2 === 0)
          .as("a"),
        col("conv"))
    val g = units.agg(
      sum(when(col("a"), 1L).otherwise(0L)).as("na"),
      sum(when(col("a"), col("conv")).otherwise(0L)).as("ka"),
      sum(when(!col("a"), 1L).otherwise(0L)).as("nb"),
      sum(when(!col("a"), col("conv")).otherwise(0L)).as("kb"))
    val (na, ka, nb, kb) = (dbl(col("na")), dbl(col("ka")),
      dbl(col("nb")), dbl(col("kb")))
    val p1 = ka / na
    val p2 = kb / nb
    val pp = (ka + kb) / (na + nb)
    val se = sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb))
    val z = (p1 - p2) / se
    val az = abs(z)
    val kk = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = ((((lit(1.330274429) * kk + lit(-1.821255978)) * kk
      + lit(1.781477937)) * kk + lit(-0.356563782)) * kk
      + lit(0.319381530)) * kk
    val pTwo = lit(2.0) * lit(0.3989422804014327) *
      exp(lit(-0.5) * az * az) * poly
    val ok = col("na") > 0 && col("nb") > 0 && se > 0
    g.select(col("na").cast("long").as("n_a"),
      col("nb").cast("long").as("n_b"),
      col("ka").cast("long").as("k_a"), col("kb").cast("long").as("k_b"),
      when(ok, z).as("z"),
      when(ok, round(pTwo * 1e6).cast("long")).as("p_micro"))
  }

  /** COVARIATE BALANCE AUDIT — the standardized mean difference
    * SMD = (x̄₁ − x̄₂)/√((s₁² + s₂²)/2) per covariate between the hashed
    * arms, with the |SMD| ≤ 0.1 verdict (the conventional imbalance
    * threshold): the pre-experiment sanity check that the assignment
    * hash did not correlate with anything — run BEFORE believing any
    * lift readout (q245's CUPED adjusts variance; this catches a broken
    * randomization outright).
    *
    * Exactness: ONE aggregate carries per-covariate conditional
    * DECIMAL(38,0) micro moments for both arms; each SMD is a pinned
    * IEEE sequence; the wide row unpivots through a constant `stack`.
    *
    * Scale shape: one map-side-combined aggregate pass regardless of
    * covariate count; output |covariates| rows
    * (covariate, n_a, n_b, mean_a, mean_b, smd, balanced), ordered.
    */
  def covariateBalance(df: DataFrame, unitCol: String, salt: String,
      covariates: Seq[String]): DataFrame = {
    require(covariates.nonEmpty)
    def dec(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val arm = (graft.functions.Hashing.h60(
      concat(lit(s"$salt:"), col(unitCol).cast("string"))) % 2 === 0)
      .as("__a")
    val base = df.filter(col(unitCol).isNotNull)
      .select((arm +: covariates.map(c =>
        round(col(c) * 1e6).cast("long").as(s"__$c"))): _*)
    val aggs = covariates.flatMap { c =>
      val v = col(s"__$c")
      val ok = v.isNotNull
      Seq(
        sum(when(col("__a") && ok, 1L).otherwise(0L)).as(s"na_$c"),
        sum(when(col("__a") && ok, dec(v)).otherwise(dec(lit(0L))))
          .as(s"sa_$c"),
        sum(when(col("__a") && ok, dec(v) * dec(v)).otherwise(dec(lit(0L))))
          .as(s"qa_$c"),
        sum(when(!col("__a") && ok, 1L).otherwise(0L)).as(s"nb_$c"),
        sum(when(!col("__a") && ok, dec(v)).otherwise(dec(lit(0L))))
          .as(s"sb_$c"),
        sum(when(!col("__a") && ok, dec(v) * dec(v)).otherwise(dec(lit(0L))))
          .as(s"qb_$c"))
    }
    val wide = base.agg(aggs.head, aggs.tail: _*)
    val rows = covariates.map { c =>
      def side(p: String) = {
        val n = dbl(col(s"n${p}_$c"))
        val s = dbl(col(s"s${p}_$c"))
        val q = dbl(col(s"q${p}_$c"))
        val mean = s / n / lit(1e6)
        // unbiased variance in original units²
        val v = (n * q - s * s) / (n * (n - lit(1.0))) / lit(1e12)
        (n, mean, v)
      }
      val (na, ma, va) = side("a")
      val (nb, mb, vb) = side("b")
      val smd = (ma - mb) / sqrt((va + vb) / lit(2.0))
      val ok = col(s"na_$c") >= 2 && col(s"nb_$c") >= 2 && (va + vb) > 0
      struct(lit(c).as("covariate"),
        col(s"na_$c").cast("long").as("n_a"),
        col(s"nb_$c").cast("long").as("n_b"),
        when(col(s"na_$c") >= 1, ma).as("mean_a"),
        when(col(s"nb_$c") >= 1, mb).as("mean_b"),
        when(ok, smd).as("smd"),
        when(ok, abs(smd) <= lit(0.1)).as("balanced"))
    }
    wide.select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.*"))
      .orderBy("covariate")
  }

  /** DELTA-METHOD CI for a RATIO METRIC R = ΣX/ΣY over i.i.d. units —
    * the correct error bar for revenue-per-order, tokens-per-document,
    * CTR: naive per-row variance is WRONG for a ratio of sums (the
    * denominator is random too). First-order Taylor:
    *
    *   var̂(R) = (v_x − 2R·c_xy + R²·v_y) / (n·ȳ²)
    *
    * with sample (co)variances from ONE exact-DECIMAL moment pass on
    * the 10⁻⁶ grid; R, se and the ±1.959964·se CI are a pinned IEEE
    * chain over those exact integers.
    *
    * Scale shape: one map-side-combined aggregate; output ONE row
    * (n, sum_x_micro, sum_y_micro, ratio, se, ci_lo, ci_hi).
    */
  def deltaMethodRatioCI(df: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(round(col(xCol) * 1e6).cast("long").as("x"),
        round(col(yCol) * 1e6).cast("long").as("y"))
    val m = base.agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).cast("decimal(38,0)").as("sx"),
      sum(dec(col("y"))).cast("decimal(38,0)").as("sy"),
      sum(dec(col("x")) * dec(col("x"))).cast("decimal(38,0)").as("sxx"),
      sum(dec(col("y")) * dec(col("y"))).cast("decimal(38,0)").as("syy"),
      sum(dec(col("x")) * dec(col("y"))).cast("decimal(38,0)").as("sxy"))
    val nD = dbl(col("n"))
    // sample (co)variances in original units², n−1 denominator
    val vx = (nD * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))) /
      (nD * (nD - lit(1.0))) / lit(1e12)
    val vy = (nD * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))) /
      (nD * (nD - lit(1.0))) / lit(1e12)
    val cxy = (nD * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) /
      (nD * (nD - lit(1.0))) / lit(1e12)
    val my = dbl(col("sy")) / nD / lit(1e6)
    val r = dbl(col("sx")) / dbl(col("sy"))
    val varR = (vx - lit(2.0) * r * cxy + r * r * vy) / (nD * my * my)
    val se = sqrt(varR)
    val ok = col("n") >= 2 && col("sy") =!= 0 && varR >= 0
    m.select(col("n"),
      col("sx").cast("long").as("sum_x_micro"),
      col("sy").cast("long").as("sum_y_micro"),
      when(col("sy") =!= 0, r).as("ratio"),
      when(ok, se).as("se"),
      when(ok, r - lit(1.959964) * se).as("ci_lo"),
      when(ok, r + lit(1.959964) * se).as("ci_hi"))
  }

  /** DELETE-ONE-BUCKET JACKKNIFE for the same ratio metric — the
    * resampling cross-check of [[deltaMethodRatioCI]] (the delta method
    * is a first-order approximation; the jackknife sees the actual
    * nonlinearity): units land in `buckets` deterministic hash buckets,
    * θ₍ᵢ₎ = (ΣX − Xᵢ)/(ΣY − Yᵢ) leaves one bucket out, and
    *
    *   var̂ = (B−1)/B · Σᵢ (θ₍ᵢ₎ − θ̄)²
    *
    * Per-bucket sums are exact DECIMAL integers; θ's are pinned IEEE;
    * each squared deviation is rounded to the 10⁻¹² grid and summed as
    * BIGINT (bucket-order-free — the chi2/PSI contribution scheme).
    *
    * Scale shape: one shuffle to the `buckets`-row grid (map-side
    * combined), windows-free two-pass assembly over those B rows.
    * Output ONE row: (n, n_buckets, ratio, se_jack).
    */
  def jackknifeRatio(df: DataFrame, unitCol: String, xCol: String,
      yCol: String, salt: String, buckets: Int = 32): DataFrame = {
    require(buckets >= 2)
    def dec(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val perBucket = graft.CacheScope.register(
      df.filter(col(unitCol).isNotNull && col(xCol).isNotNull &&
          col(yCol).isNotNull)
        .select(
          pmod(graft.functions.Hashing.h60(
            concat(lit(s"$salt:"), col(unitCol).cast("string"))),
            lit(buckets.toLong)).as("b"),
          round(col(xCol) * 1e6).cast("long").as("x"),
          round(col(yCol) * 1e6).cast("long").as("y"))
        .groupBy("b")
        .agg(count(lit(1)).as("nb"),
          sum(dec(col("x"))).cast("decimal(38,0)").as("bx"),
          sum(dec(col("y"))).cast("decimal(38,0)").as("by")))
    val tot = perBucket.agg(sum("nb").cast("long").as("n"),
      count(lit(1)).cast("long").as("n_buckets"),
      sum(col("bx")).cast("decimal(38,0)").as("tx"),
      sum(col("by")).cast("decimal(38,0)").as("ty"))
    // θ₍ᵢ₎ per bucket — pinned IEEE over exact integer sums
    val thetas = graft.CacheScope.register(
      perBucket.crossJoin(broadcast(tot))
        .select(col("b"), col("n"), col("n_buckets"), col("tx"), col("ty"),
          when(dbl(col("ty")) - dbl(col("by")) =!= 0.0,
            (dbl(col("tx")) - dbl(col("bx"))) /
              (dbl(col("ty")) - dbl(col("by")))).as("theta")))
    // a bucket holding ALL of Y makes its leave-one-out ratio undefined
    // — that bucket drops out of the jackknife sum (counted via bcnt)
    val bar = thetas.agg(count(col("theta")).as("bcnt"),
      sum(round(col("theta") * 1e6).cast("long")).cast("long").as("tsum"))
    // θ̄ from micro-rounded thetas (order-free); deviations on the pico
    // grid summed as BIGINT — bucket-order-independent
    val dev = thetas.crossJoin(broadcast(bar))
      .select(col("bcnt"), when(col("theta").isNotNull, round(
        (col("theta") - col("tsum").cast("double") /
          col("bcnt").cast("double") / lit(1e6)) *
        (col("theta") - col("tsum").cast("double") /
          col("bcnt").cast("double") / lit(1e6)) * 1e12).cast("long"))
        .as("d2"))
      .agg(sum("d2").cast("long").as("d2sum"),
        max("bcnt").cast("long").as("bcnt"))
    // (B−1)/B uses bcnt — the count of DEFINED thetas — not n_buckets:
    // a bucket whose removal zeroes the denominator drops out of both
    // the mean and the deviation sum, so scaling by the raw bucket count
    // would bias se_jack in that degenerate case (ADVICE r9)
    val bD = col("bcnt").cast("double")
    val varJ = (bD - lit(1.0)) / bD *
      col("d2sum").cast("double") / lit(1e12)
    tot.crossJoin(broadcast(dev))
      .select(col("n"), col("n_buckets"),
        when(col("ty") =!= 0,
          col("tx").cast("double") / col("ty").cast("double")).as("ratio"),
        when(col("bcnt") >= 2 && col("d2sum") >= 0, sqrt(varJ))
          .as("se_jack"))
  }

  /** QUANTILE TREATMENT EFFECTS — the per-decile difference of the two
    * hashed arms' EXACT value quantiles: the distributional readout a
    * mean test cannot give (a launch can leave the mean flat while
    * compressing the tails, or lift only the top decile). Quantile
    * convention pinned to the ceil rank: rank_τ = max(1, ⌈τ·n⌉) =
    * (k·n + 9) div 10 for decile k — the exact value both engines agree
    * on by integer arithmetic; each arm's quantiles come from
    * [[exactOrderStatistics]] (iterative histogram selection — exact
    * WITHOUT a global sort, the q229 scale path).
    *
    * Scale shape: one arm-tagging pass, then two bounded-memory
    * histogram-selection runs (a handful of ≤buckets-row aggregates
    * each); the decile spine is a 9-row broadcast. Output per decile:
    * (decile, n_a, n_b, rank_a, rank_b, q_a_micro, q_b_micro,
    * qte_micro), ordered.
    */
  def quantileTreatmentEffects(df: DataFrame, unitCol: String,
      valueCol: String, salt: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = graft.CacheScope.register(
      df.filter(col(unitCol).isNotNull && col(valueCol).isNotNull)
        .select(
          (graft.functions.Hashing.h60(
            concat(lit(s"$salt:"), col(unitCol).cast("string"))) % 2 === 0)
            .as("a"),
          round(col(valueCol) * 1e6).cast("long").as("v")))
    val armA = graft.CacheScope.register(base.filter(col("a")).select("v"))
    val armB = graft.CacheScope.register(base.filter(!col("a")).select("v"))
    val na = armA.count()
    val nb = armB.count()
    require(na > 0 && nb > 0, "quantileTreatmentEffects: an arm is empty")
    def rank(k: Int, n: Long): Long = math.max(1L, (k * n + 9) / 10)
    val deciles = (1 to 9).map(k => (k.toLong, rank(k, na), rank(k, nb)))
    val qa = exactOrderStatistics(armA, "v",
      deciles.map(_._2).distinct)
    val qb = exactOrderStatistics(armB, "v",
      deciles.map(_._3).distinct)
    val spine = deciles.toDF("decile", "rank_a", "rank_b")
    spine
      .join(qa.withColumnRenamed("rank_pos", "rank_a")
        .withColumnRenamed("value_at", "q_a_micro"), "rank_a")
      .join(qb.withColumnRenamed("rank_pos", "rank_b")
        .withColumnRenamed("value_at", "q_b_micro"), "rank_b")
      .select(col("decile"), lit(na).as("n_a"), lit(nb).as("n_b"),
        col("rank_a"), col("rank_b"), col("q_a_micro"), col("q_b_micro"),
        (col("q_a_micro") - col("q_b_micro")).as("qte_micro"))
      .orderBy("decile")
  }

  /** MUTUAL-INFORMATION FEATURE RANKING — each candidate measure is
    * binned into `bins` fixed-width buckets over its own exact range
    * (the psiDrift bucket convention, pure integer arithmetic) and
    * scored by [[mutualInformation]] against the target label; features
    * come back ordered by the exact integer-micro MI sum. The standard
    * filter-method feature selection for a training pipeline, built so
    * the ranking is bit-reproducible (the per-cell integer-product logs
    * make MI order-independent where a double accumulation is not).
    *
    * Scale shape: per feature, one bounds aggregate broadcast back and
    * the three MI contingency aggregates — a fixed number of map-side-
    * combined passes per feature, unioned into a |features|-row result.
    * Output: (feature, n, mi_micro_sum, nmi), MI-descending.
    */
  def miFeatureRanking(df: DataFrame, targetCol: Column,
      features: Seq[String], bins: Int = 4): DataFrame = {
    require(features.nonEmpty && bins >= 2)
    val scored = features.map { f =>
      val v = round(col(f) * 1e6).cast("long")
      val base = df.filter(col(f).isNotNull && targetCol.isNotNull)
        .select(v.as("__v"), targetCol.as("__t"))
      val bounds = base.agg(min("__v").as("mn"), max("__v").as("mx"))
      val binned = base.crossJoin(broadcast(bounds))
        .select(least(lit(bins - 1L),
          expr(s"((__v - mn) * $bins) div (mx - mn + 1)")).as("__bin"),
          col("__t"))
      mutualInformation(binned, "__bin", "__t")
        .select(lit(f).as("feature"), col("n"), col("mi_micro_sum"),
          col("nmi"))
    }
    scored.reduce(_ unionAll _)
      .orderBy(desc("mi_micro_sum"), col("feature"))
  }

  /** 2×2 ODDS RATIO with Woolf CI and YULE'S Q — the epidemiology-
    * standard association readout for a binary exposure × binary
    * outcome (arm × converted): OR = ad/bc, log-OR se =
    * √(1/a+1/b+1/c+1/d) (Woolf 1955), Yule's Q = (ad−bc)/(ad+bc) the
    * [−1,1]-normalized form. The RELATIVE effect q310's two-proportion
    * z (absolute difference) doesn't expose. A zero cell applies the
    * Haldane–Anscombe +0.5 correction to the log-OR chain and flags
    * `corrected`.
    *
    * One boolean-grid aggregate (4 exact cells); everything after is a
    * pinned IEEE chain over those integers. Output ONE row:
    * (n, n_exposed_outcome, n_exposed_no, n_unexposed_outcome,
    * n_unexposed_no, odds_ratio, log_or, se_log_or, ci_lo, ci_hi,
    * yules_q, corrected).
    */
  def oddsRatio2x2(df: DataFrame, exposure: Column,
      outcome: Column): DataFrame = {
    val cells = df.filter(exposure.isNotNull && outcome.isNotNull)
      .agg(
        sum(when(exposure && outcome, 1L).otherwise(0L)).cast("long")
          .as("a"),
        sum(when(exposure && !outcome, 1L).otherwise(0L)).cast("long")
          .as("b"),
        sum(when(!exposure && outcome, 1L).otherwise(0L)).cast("long")
          .as("c"),
        sum(when(!exposure && !outcome, 1L).otherwise(0L)).cast("long")
          .as("d"))
    def dbl(c: Column) = c.cast("double")
    val corrected = col("a") === 0 || col("b") === 0 || col("c") === 0 ||
      col("d") === 0
    // Haldane–Anscombe: +0.5 on every cell when any is zero
    def adj(c: Column) = when(corrected, dbl(c) + lit(0.5)).otherwise(dbl(c))
    val or = adj(col("a")) * adj(col("d")) / (adj(col("b")) * adj(col("c")))
    val se = sqrt(lit(1.0) / adj(col("a")) + lit(1.0) / adj(col("b")) +
      lit(1.0) / adj(col("c")) + lit(1.0) / adj(col("d")))
    val lor = log(or)
    val adbc = dbl(col("a")) * dbl(col("d"))
    val bcad = dbl(col("b")) * dbl(col("c"))
    cells
      .select((col("a") + col("b") + col("c") + col("d")).as("n"),
        col("a").as("n_exposed_outcome"), col("b").as("n_exposed_no"),
        col("c").as("n_unexposed_outcome"), col("d").as("n_unexposed_no"),
        or.as("odds_ratio"), lor.as("log_or"), se.as("se_log_or"),
        exp(lor - lit(1.959964) * se).as("ci_lo"),
        exp(lor + lit(1.959964) * se).as("ci_hi"),
        when(adbc + bcad > 0, (adbc - bcad) / (adbc + bcad)).as("yules_q"),
        corrected.as("corrected"))
  }

  /** STOREY'S π₀ — the estimated fraction of TRUE NULLS among the
    * per-segment hypotheses (Storey 2002): π̂₀ = #{p > λ}/((1−λ)·m),
    * capped at 1. The companion number q271's BH and q321's Holm leave
    * implicit: BH controls FDR AS IF every null were true; π̂₀ < 1
    * says how much of the p mass is genuine signal (and is the
    * q-value correction factor). Runs on the SAME
    * [[welchPMicroBySegment]] p's as both corrections.
    *
    * All-integer: the count above λ and the capped truncating division
    * both ride the micro grid. Output ONE row: (m, lambda_micro,
    * n_above_lambda, pi0_micro, est_true_nulls).
    */
  def storeyPi0(df: DataFrame, segmentCol: String, userCol: String,
      valueCol: String, salt: String,
      lambdaMicro: Long = 500000L): DataFrame = {
    require(lambdaMicro > 0 && lambdaMicro < 1000000L)
    val scored = welchPMicroBySegment(df, segmentCol, userCol, valueCol,
      salt)
    scored.agg(count(lit(1)).cast("long").as("m"),
        sum(when(col("p_micro") > lambdaMicro, 1L).otherwise(0L))
          .cast("long").as("n_above_lambda"))
      .select(col("m"), lit(lambdaMicro).as("lambda_micro"),
        col("n_above_lambda"),
        when(col("m") > 0, least(lit(1000000L),
          expr(s"(n_above_lambda * 1000000000000L) div " +
            s"((1000000L - $lambdaMicro) * m)"))).as("pi0_micro"))
      .withColumn("est_true_nulls",
        when(col("pi0_micro").isNotNull,
          expr("(pi0_micro * m) div 1000000L")))
  }

  /** CLIFF'S DELTA — the ordinal effect size behind [[mannWhitneyU]]:
    * δ = (#(a>b) − #(a<b)) / (n_a·n_b) ∈ [−1, 1], "how often does a
    * random A observation beat a random B one", the magnitude readout
    * the U test's p-value lacks (and the robust companion to q298's
    * Cohen d — no variance, no normality). Derived EXACTLY from the
    * U machinery's integers: δ = (2U_a − n_a·n_b)/(n_a·n_b) (2U_a
    * counts wins twice and ties once, so subtracting the pair total
    * leaves wins − losses). One pinned IEEE division; the standard
    * |δ| bands (0.147/0.33/0.474 — Romano et al. 2006) label it.
    *
    * Output ONE row: (group_a, group_b, n_a, n_b, u2_a, delta,
    * magnitude).
    */
  def cliffsDelta(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    val u = mannWhitneyU(df, groupCol, valueCol, groupA, groupB)
    val nab = col("n_a").cast("double") * col("n_b").cast("double")
    val delta = (col("u2_a").cast("double") - nab) / nab
    val ad = abs(delta)
    u.select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
      col("u2_a"),
      when(col("n_a") > 0 && col("n_b") > 0, delta).as("delta"),
      when(col("n_a") > 0 && col("n_b") > 0,
        when(ad < 0.147, lit("negligible"))
          .when(ad < 0.33, lit("small"))
          .when(ad < 0.474, lit("medium"))
          .otherwise(lit("large"))).as("magnitude"))
  }

  /** KRIPPENDORFF'S ALPHA (nominal metric) — chance-corrected agreement
    * that, unlike [[fleissKappa]], accepts UNBALANCED panels (units with
    * different rater counts) and drops unpairable units (m_u < 2)
    * instead of nulling out: α = 1 − (n−1)·D_o / D_e with
    *
    *   D_o = Σ_u Σ_c n_uc·(m_u − n_uc)/(m_u − 1),
    *   D_e = Σ_c n_c·(n − n_c),
    *
    * n the pairable-value total and n_c the category margins. Each
    * unit's D_o term is a pinned IEEE expression micro-rounded and
    * summed as BIGINT (the chi2 per-cell scheme — unit-order-free);
    * D_e is exact integer. Two aggregates over the (unit, category)
    * grid; |categories|-row assembly.
    *
    * Output ONE row: (n_units, n_values, d_o_micro, d_e, alpha).
    */
  def krippendorffAlpha(df: DataFrame, subjectCol: String,
      categoryCol: String): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val cells = graft.CacheScope.register(
      df.filter(col(subjectCol).isNotNull && col(categoryCol).isNotNull)
        .groupBy(col(subjectCol).as("s"),
          col(categoryCol).cast("string").as("c"))
        .agg(count(lit(1)).as("nuc")))
    val withM = cells
      .join(cells.groupBy("s").agg(sum("nuc").cast("long").as("mu")), "s")
      .filter(col("mu") >= 2) // pairable units only
    val dO = withM
      .select(round(dbl(col("nuc")) * (dbl(col("mu")) - dbl(col("nuc"))) /
          (dbl(col("mu")) - lit(1.0)) * 1e6).cast("long").as("term"),
        col("s"), col("nuc"))
      .agg(sum("term").cast("long").as("d_o_micro"),
        countDistinct("s").cast("long").as("n_units"),
        sum("nuc").cast("long").as("n_values"))
    val margins = withM.groupBy("c").agg(sum("nuc").cast("long").as("nc"))
    val dE = margins
      .crossJoin(broadcast(
        margins.agg(sum("nc").cast("long").as("n"))))
      .agg(sum(d(col("nc")) * (d(col("n")) - d(col("nc"))))
        .cast("decimal(38,0)").as("d_e"))
    dO.crossJoin(broadcast(dE))
      .select(col("n_units"), col("n_values"), col("d_o_micro"),
        col("d_e").cast("long").as("d_e"),
        when(col("d_e") > 0 && col("n_values") >= 2,
          lit(1.0) - (dbl(col("n_values")) - lit(1.0)) *
            col("d_o_micro").cast("double") / lit(1e6) /
            col("d_e").cast("double")).as("alpha"))
  }

  /** FLEISS' KAPPA — chance-corrected agreement for m raters per
    * subject (Fleiss 1971), the multi-rater generalization of q167's
    * two-rater Cohen κ: the "do my independent quality signals agree
    * beyond chance" audit when a labeling pipeline stacks several
    * heuristic raters. Input is the long ratings relation (subject,
    * category) with ONE ROW PER RATER-VOTE; m must be constant across
    * subjects (`balanced` reports it, κ nulls when violated — unequal
    * panels need Krippendorff, out of scope).
    *
    * Exact assembly: per-subject category counts n_ic are integers;
    * P̄'s numerator Σᵢ Σ_c n_ic(n_ic−1) and P̄_e's numerator Σ_c T_c²
    * (T_c the category column totals) are exact DECIMAL sums; κ is a
    * three-division pinned IEEE chain over them. Two aggregates on the
    * (subject, category) grid; everything after is |categories|-row.
    *
    * Output ONE row: (n_subjects, m_raters, p_bar, p_e, kappa,
    * balanced).
    */
  def fleissKappa(df: DataFrame, subjectCol: String,
      categoryCol: String): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val cells = graft.CacheScope.register(
      df.filter(col(subjectCol).isNotNull && col(categoryCol).isNotNull)
        .groupBy(col(subjectCol).as("s"),
          col(categoryCol).cast("string").as("c"))
        .agg(count(lit(1)).as("nic")))
    val perSubject = cells.groupBy("s")
      .agg(sum("nic").cast("long").as("m"),
        sum(d(col("nic")) * (d(col("nic")) - 1)).cast("decimal(38,0)")
          .as("agree"))
    val subj = perSubject.agg(
      count(lit(1)).cast("long").as("n_subjects"),
      min("m").cast("long").as("m_min"),
      max("m").cast("long").as("m_max"),
      sum(col("agree")).cast("decimal(38,0)").as("agree_sum"))
    val catTotals = cells.groupBy("c")
      .agg(sum("nic").cast("long").as("tc"))
      .agg(sum(d(col("tc")) * d(col("tc"))).cast("decimal(38,0)")
        .as("tc2_sum"))
    subj.crossJoin(broadcast(catTotals))
      .select(col("n_subjects"), col("m_max").as("m_raters"),
        col("agree_sum"), col("tc2_sum"),
        (col("m_min") === col("m_max")).as("balanced"))
      .withColumn("__nm",
        dbl(col("n_subjects")) * dbl(col("m_raters")))
      .withColumn("p_bar",
        when(col("balanced") && col("m_raters") >= 2,
          dbl(col("agree_sum")) / (dbl(col("n_subjects")) *
            dbl(col("m_raters")) * (dbl(col("m_raters")) - lit(1.0)))))
      .withColumn("p_e",
        when(col("balanced") && col("m_raters") >= 2,
          dbl(col("tc2_sum")) / (col("__nm") * col("__nm"))))
      .select(col("n_subjects"), col("m_raters"), col("p_bar"), col("p_e"),
        when(col("p_e").isNotNull && col("p_e") < 1.0,
          (col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")))
          .as("kappa"),
        col("balanced"))
  }

  /** SYMMETRIC TRIMMED MEAN per group — the robust location estimate
    * between the mean (trim 0) and the median (trim 50): drop the
    * lowest and highest t = (n·trimPct) div 100 observations BY EXACT
    * RANK and average the rest. The outlier-resistant KPI readout the
    * raw mean can't give on heavy-tailed value columns (one whale order
    * moves the mean; it cannot move the 10%-trimmed mean).
    *
    * Entirely off the per-group distinct-value grid: ranks come from a
    * per-group cumulative count (partitioned window — the q292 lower-
    * median machinery, never a global sort), the kept copy count per
    * distinct value is the integer overlap of its rank interval
    * (prev, cum] with the kept band (t, n−t], and the trimmed mean is
    * ONE IEEE division over exact DECIMAL sums — engine-replayable.
    *
    * Scale shape: one map-side-combined shuffle to the (group, value)
    * grid, one partitioned window over it, one |groups|-row aggregate.
    * Output per group: (group, n, n_trim_each, n_kept, trimmed_mean,
    * raw_mean), ordered by group.
    */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
      trimPct: Int): DataFrame = {
    require(trimPct >= 0 && trimPct < 50, s"trimPct in [0, 50): $trimPct")
    def d(c: Column) = c.cast("decimal(38,0)")
    val grid = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("g"),
        round(col(valueCol) * 1e6).cast("long").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = grid.groupBy("g").agg(sum("cnt").cast("long").as("n"))
    val ranked = grid
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("prev", col("cum") - col("cnt"))
      .join(totals, "g")
      .withColumn("t", expr(s"(n * $trimPct) div 100"))
      // copies of this distinct value inside the kept rank band (t, n−t]
      .withColumn("keep",
        greatest(lit(0L),
          least(col("cum"), col("n") - col("t")) -
            greatest(col("prev"), col("t"))))
    ranked.groupBy("g")
      .agg(max("n").cast("long").as("n"),
        max("t").cast("long").as("n_trim_each"),
        sum("keep").cast("long").as("n_kept"),
        sum(d(col("v")) * d(col("keep"))).cast("decimal(38,0)").as("__sk"),
        sum(d(col("v")) * d(col("cnt"))).cast("decimal(38,0)").as("__sa"))
      .select(col("g").as(groupCol), col("n"), col("n_trim_each"),
        col("n_kept"),
        when(col("n_kept") > 0, col("__sk").cast("double") /
          col("n_kept").cast("double") / lit(1e6)).as("trimmed_mean"),
        when(col("n") > 0, col("__sa").cast("double") /
          col("n").cast("double") / lit(1e6)).as("raw_mean"))
      .orderBy(groupCol)
  }

  /** HASH-REPLAYABLE PERMUTATION TEST for the two-arm mean difference —
    * the assumption-free companion to [[welchTTest]]: instead of a
    * normal approximation, re-assign every unit's arm B times by a
    * seeded hash (replicate b flips unit u by h60("salt:perm:b:u") % 2,
    * so distinct salts draw INDEPENDENT replicate sets, not one shared
    * set) and
    * count how many replicate mean-differences reach the observed one.
    * p = (1 + #{b : |T_b| ≥ |T_obs|}) / (B + 1) — the add-one Monte
    * Carlo estimator (Phipson & Smyth 2010), valid at any B. Because
    * the "random" permutations are seeded hashes, both engines generate
    * THE SAME replicate set — the p-value is exact-replayable, not a
    * seed-lottery.
    *
    * Each replicate statistic is two IEEE divisions over exact integer
    * micro sums, rounded ONCE to the micro grid (pinned); the
    * comparison is then integer. Scale shape: the unit relation fans
    * out ×B through one explode (no join), straight into a map-side-
    * combined (b, arm) aggregate — B·units rows shuffled as 2B partial
    * rows per partition, never raw data; B is a small constant.
    *
    * Output ONE row: (n_units, b_reps, t_obs_micro, n_ge, p_micro,
    * significant at α = 0.05).
    */
  def permutationTest(df: DataFrame, unitCol: String, valueCol: String,
      salt: String, bReps: Int): DataFrame = {
    require(bReps >= 19, s"bReps too small for any useful p: $bReps")
    def d(c: Column) = c.cast("decimal(38,0)")
    val units = graft.CacheScope.register(
      df.filter(col(unitCol).isNotNull && col(valueCol).isNotNull)
        .groupBy(col(unitCol).cast("string").as("u"))
        .agg(sum(round(col(valueCol) * 1e6).cast("long")).cast("long")
          .as("x")))
    def tStat(g: DataFrame): DataFrame = g
      .agg(
        sum(when(col("a"), 1L).otherwise(0L)).cast("long").as("na"),
        sum(when(!col("a"), 1L).otherwise(0L)).cast("long").as("nb"),
        sum(when(col("a"), d(col("x"))).otherwise(d(lit(0))))
          .cast("decimal(38,0)").as("sa"),
        sum(when(!col("a"), d(col("x"))).otherwise(d(lit(0))))
          .cast("decimal(38,0)").as("sb"))
      .select(col("na"), col("nb"),
        when(col("na") > 0 && col("nb") > 0,
          round(col("sa").cast("double") / col("na").cast("double") -
            col("sb").cast("double") / col("nb").cast("double"))
            .cast("long")).as("t_micro"))
    val obs = tStat(units.select(col("x"),
      (pmod(graft.functions.Hashing.h60(
        concat(lit(s"$salt:"), col("u"))), lit(2L)) === 0).as("a")))
    val reps = units
      .select(explode(expr(s"sequence(0L, ${bReps - 1}L)")).as("b"),
        col("u"), col("x"))
      .select(col("b"), col("x"),
        (pmod(graft.functions.Hashing.h60(concat(lit(s"$salt:perm:"),
          col("b").cast("string"), lit(":"), col("u"))), lit(2L)) === 0)
          .as("a"))
      .groupBy("b")
      .agg(
        sum(when(col("a"), 1L).otherwise(0L)).cast("long").as("na"),
        sum(when(!col("a"), 1L).otherwise(0L)).cast("long").as("nb"),
        sum(when(col("a"), d(col("x")))).cast("decimal(38,0)").as("sa"),
        sum(when(!col("a"), d(col("x")))).cast("decimal(38,0)").as("sb"))
      .select(col("b"),
        when(col("na") > 0 && col("nb") > 0,
          round(col("sa").cast("double") / col("na").cast("double") -
            col("sb").cast("double") / col("nb").cast("double"))
            .cast("long")).as("t_micro"))
    val nTot = units.agg(count(lit(1)).cast("long").as("n_units"))
    val counted = reps.crossJoin(broadcast(obs.select(
        col("t_micro").as("t_obs_micro"))))
      .agg(coalesce(sum(when(abs(col("t_micro")) >=
          abs(col("t_obs_micro")), 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n_ge"))
    nTot.crossJoin(broadcast(obs.select(col("t_micro").as("t_obs_micro"))))
      .crossJoin(broadcast(counted))
      .select(col("n_units"), lit(bReps.toLong).as("b_reps"),
        col("t_obs_micro"),
        col("n_ge"),
        expr(s"((1L + n_ge) * 1000000L) div ${bReps + 1}L").as("p_micro"))
      .withColumn("significant", col("p_micro") <= 50000L)
  }

  /** WILCOXON SIGNED-RANK test of a paired before/after shift — the
    * rank-based companion to a paired t: per unit, d = (post-period
    * micro sum) − (pre-period micro sum) around `cutTs`; zero
    * differences drop (the standard convention), |d| gets tie-aware
    * midranks, and W⁺ = Σ ranks of positive d is tested against its
    * null mean n(n+1)/4 with the tie-corrected normal approximation.
    * Where [[welchTTest]] assumes the shift lives in the mean and
    * [[permutationTest]] buys exactness with B replays, signed-rank is
    * the one-pass robust middle: outlier-insensitive, no replication.
    *
    * Exactness: everything rides the DOUBLED-rank integer grid (2r̄ =
    * 2·|{|d| smaller}| + ties + 1 — the [[spearman]] convention), so
    * W2 = 2W⁺, its null mean n(n+1)/2, and the tie term Σ(t³−t) are
    * exact BIGINTs; z = (W2 − n(n+1)/2) / sqrt(n(n+1)(2n+1)/6 −
    * Σ(t³−t)/12) is one pinned IEEE sequence (the ×2 grid scales both
    * moments by 2), and p is the shared A&S 26.2.17 polynomial.
    *
    * Scale shape: one shuffle to the unit grid, midranks over the
    * DISTINCT-|d| grid (value-bounded, not row-bounded), one final
    * 1-row assembly.
    *
    * Output ONE row: (n_pairs, n_pos, n_neg, w2_plus, z, p_micro,
    * significant), z/p null when n < 2 or the variance degenerates.
    */
  def wilcoxonSignedRank(df: DataFrame, unitCol: String, tsCol: String,
      valueCol: String, cutTs: String): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val cut = to_timestamp(lit(cutTs))
    val units = df
      .filter(col(unitCol).isNotNull && col(tsCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(unitCol).as("u"))
      .agg((sum(when(col(tsCol) >= cut,
          round(col(valueCol) * 1e6).cast("long")).otherwise(0L)) -
        sum(when(col(tsCol) < cut,
          round(col(valueCol) * 1e6).cast("long")).otherwise(0L)))
        .cast("long").as("dd"))
      .filter(col("dd") =!= 0L)
      .select(col("u"), abs(col("dd")).as("ad"),
        (col("dd") > 0).as("pos"))
    val gridV = graft.CacheScope.register(
      units.groupBy("ad").agg(count(lit(1)).as("t"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("tp")))
    val w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    val ranked = gridV
      .withColumn("cum_lt", coalesce(sum("t").over(w), lit(0L)))
      .select(col("ad"), col("t"), col("tp"),
        (col("cum_lt") * 2 + col("t") + 1).as("r2"))
    val agg = ranked.agg(
      sum("t").cast("long").as("n"),
      sum("tp").cast("long").as("n_pos"),
      sum(d(col("tp")) * d(col("r2"))).cast("long").as("w2_plus"),
      sum(d(col("t")) * d(col("t")) * d(col("t")) - d(col("t")))
        .cast("long").as("tie_cubes"))
    val nD = dbl(col("n"))
    val num = dbl(col("w2_plus")) - nD * (nD + 1) / lit(2.0)
    val variance = nD * (nD + 1) * (lit(2.0) * nD + 1) / lit(6.0) -
      dbl(col("tie_cubes")) / lit(12.0)
    val z = num / sqrt(variance)
    val az = abs(z)
    val kk = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = ((((lit(1.330274429) * kk + lit(-1.821255978)) * kk
      + lit(1.781477937)) * kk + lit(-0.356563782)) * kk
      + lit(0.319381530)) * kk
    val tail = lit(0.3989422804014327) * exp(lit(-0.5) * az * az) * poly
    val ok = col("n") >= 2L && variance > 0
    agg.select(col("n").as("n_pairs"), col("n_pos"),
      (col("n") - col("n_pos")).as("n_neg"), col("w2_plus"),
      when(ok, z).as("z"),
      when(ok, round(least(lit(1.0), lit(2.0) * tail) * 1e6).cast("long"))
        .as("p_micro"))
      .withColumn("significant",
        col("p_micro").isNotNull && col("p_micro") <= 50000L)
  }

  /** FRIEDMAN test — "do k treatments differ, judged WITHIN each
    * block": the repeated-measures / randomized-block companion to
    * [[kruskalWallis]] (which wrongly pools when every block has its
    * own level). Cells are per-(block, treatment) micro sums; only
    * COMPLETE blocks (all k treatments present) enter, per the test's
    * definition; ranks are within-block tie-aware midranks, and the
    * statistic is Conover's tie-robust form χ² = (k−1)·Σⱼ(Rⱼ −
    * b(k+1)/2)² / (A − C) with A = Σ r² over all cells and C =
    * b·k·(k+1)²/4 (reduces to the classic 12/(bk(k+1))·ΣRⱼ² − 3b(k+1)
    * when tie-free).
    *
    * Exactness: the ×2 midrank grid clears every fraction — with
    * R2ⱼ = 2Rⱼ and A2 = Σ(2r)², χ² = (k−1)·Σⱼ(R2ⱼ − b(k+1))² /
    * (A2 − b·k·(k+1)²): numerator and denominator are exact BIGINTs,
    * ONE final IEEE division. Scale shape: one shuffle to the (block,
    * treatment) cell grid, within-block windows over ≤ k rows, one
    * k-row treatment aggregate.
    *
    * Output ONE row: (n_blocks, k_treatments, chi2, dof), chi2 null
    * when blocks < 2, treatments < 2, or all ranks tie (A2 = bk(k+1)²).
    */
  def friedmanTest(df: DataFrame, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val cells0 = graft.CacheScope.register(df
      .filter(col(blockCol).isNotNull && col(treatCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(blockCol).as("blk"), col(treatCol).as("tr"))
      .agg(sum(round(col(valueCol) * 1e6).cast("long")).cast("long")
        .as("v")))
    val kAll = cells0.select(countDistinct(col("tr")).as("k"))
    val complete = cells0.groupBy("blk")
      .agg(count(lit(1)).as("__kb"))
      .crossJoin(broadcast(kAll))
      .filter(col("__kb") === col("k"))
      .select("blk")
    val cells = graft.CacheScope.register(
      cells0.join(complete, "blk"))
    // within-block ×2 midranks over the (blk, v) grid (≤ k rows/block)
    val gv = cells.groupBy("blk", "v").agg(count(lit(1)).as("t"))
    val w = Window.partitionBy("blk").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val r2 = gv.withColumn("cum_lt", coalesce(sum("t").over(w), lit(0L)))
      .select(col("blk"), col("v"),
        (col("cum_lt") * 2 + col("t") + 1).as("r2"))
    val rankedCells = graft.CacheScope.register(
      cells.join(r2, Seq("blk", "v")))
    val perTreat = rankedCells.groupBy("tr")
      .agg(sum(d(col("r2"))).cast("long").as("r2j"),
        count(lit(1)).cast("long").as("b"))
    val aTot = graft.CacheScope.register(rankedCells.agg(
      sum(d(col("r2")) * d(col("r2"))).cast("long").as("a2"),
      countDistinct(col("blk")).cast("long").as("b"),
      countDistinct(col("tr")).cast("long").as("k")))
    val num = perTreat.crossJoin(broadcast(aTot.select(
        col("b").as("__b"), col("k").as("__k"))))
      .select((d(col("r2j")) - d(col("__b")) * d(col("__k") + 1))
        .as("__dev"))
      .agg(sum(col("__dev") * col("__dev")).cast("decimal(38,0)")
        .as("num2"))
    aTot.crossJoin(broadcast(num))
      .select(col("b").as("n_blocks"), col("k").as("k_treatments"),
        col("a2"), col("num2").cast("long").as("num2"))
      .withColumn("dof", col("k_treatments") - 1)
      .withColumn("chi2", {
        val denom = dbl(col("a2")) - dbl(col("n_blocks")) *
          dbl(col("k_treatments")) *
          dbl(col("k_treatments") + 1) * dbl(col("k_treatments") + 1)
        when(col("n_blocks") >= 2 && col("k_treatments") >= 2 &&
          denom > 0,
          dbl(col("num2")) * dbl(col("dof")) / denom)
      })
      .select("n_blocks", "k_treatments", "dof", "chi2")
  }

  /** HILL TAIL-INDEX estimator per group — "HOW heavy is this
    * distribution's tail": over the top-k order statistics x₍₁₎ ≥ … ≥
    * x₍ₖ₎ ≥ x₍ₖ₊₁₎, H = (1/k)·Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) estimates 1/α of a
    * power-law tail (Hill 1975); α ≲ 2 means infinite variance — the
    * "will a mean ever converge" diagnostic that [[dispersionTest]]'s
    * finite-variance index can't see.
    *
    * Determinism + scale: the top-(k+1) sample per group comes from the
    * bounded [[graft.functions.MinKLongStringAggregator]] fed
    * (−valueMicro, id-as-string) — at most k+1 rows per group per task
    * on the shuffle, NO per-group sort; ties break on the STRING id
    * (mirrored by the oracle's ORDER BY CAST(id AS VARCHAR)). Logs are
    * micro-rounded BIGINTs of the micro values (the constant ln(10⁶)
    * shift cancels in the difference), so H is a ratio of exact
    * integers with one final division.
    *
    * Returns per group: (group, k, n_tail_max_micro, n_tail_min_micro,
    * threshold_micro, hill, alpha) — hill/alpha null when the group has
    * fewer than k+1 positive values or the threshold ties the whole
    * tail (H = 0).
    */
  def hillTailIndex(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k=$k too small for a tail estimate")
    def d(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val minK = udaf(new graft.functions.MinKLongStringAggregator(k + 1))
    val base = df
      .filter(col(groupCol).isNotNull && col(idCol).isNotNull &&
        col(valueCol).isNotNull && col(valueCol) > 0)
      .select(col(groupCol).as("g"),
        round(col(valueCol) * 1e6).cast("long").as("vm"),
        col(idCol).cast("string").as("id"))
    val top = graft.CacheScope.register(base.groupBy("g")
      .agg(minK(-col("vm"), col("id")).as("__top"))
      .select(col("g"), posexplode(col("__top")).as(Seq("__i", "__kv")))
      .select(col("g"), (col("__i") + 1).cast("long").as("rnk"),
        (-col("__kv._1")).as("vm"))
      .withColumn("lx", round(log(dbl(col("vm"))) * 1e6).cast("long")))
    val tail = top.filter(col("rnk") <= k).groupBy("g")
      .agg(count(lit(1)).cast("long").as("n_tail"),
        max("vm").cast("long").as("n_tail_max_micro"),
        min("vm").cast("long").as("n_tail_min_micro"),
        sum(d(col("lx"))).cast("long").as("__slx"))
    val thr = top.filter(col("rnk") === k + 1)
      .select(col("g"), col("vm").as("threshold_micro"),
        col("lx").as("__lxk"))
    tail.join(thr, Seq("g"), "left")
      .select(col("g").as(groupCol), lit(k.toLong).as("k"),
        col("n_tail_max_micro"), col("n_tail_min_micro"),
        col("threshold_micro"), {
          val hill = (dbl(col("__slx")) -
            dbl(col("n_tail")) * dbl(col("__lxk"))) /
            dbl(col("n_tail")) / lit(1e6)
          when(col("n_tail") === k && col("threshold_micro").isNotNull &&
            hill > 0, hill).as("hill")
        })
      .withColumn("alpha",
        when(col("hill").isNotNull, lit(1.0) / col("hill")))
      .orderBy(groupCol)
  }

  /** COCHRAN'S Q test — "do k binary treatments differ, judged WITHIN
    * each subject": the k-treatment generalization of [[mcnemar]] (and
    * the binary-outcome face of [[friedmanTest]]). Input is one row per
    * (block, treatment) with a boolean outcome; only COMPLETE blocks
    * (all k treatments) enter. Q = (k−1)·(k·ΣCⱼ² − N²) / (k·N − ΣR_b²)
    * with Cⱼ = per-treatment success totals, R_b = per-block totals,
    * N = ΣX — every term an exact BIGINT, ONE final division; dof =
    * k−1. Degenerates to null when every block is all-success /
    * all-failure (denominator 0).
    *
    * Scale shape: one shuffle to the (block, treatment) cell grid, one
    * block aggregate, one treatment aggregate — no windows at all.
    *
    * Output ONE row: (n_blocks, k_treatments, n_success, dof, q_stat).
    */
  def cochranQ(df: DataFrame, blockCol: String, treatCol: String,
      outcomeCol: String): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val cells0 = graft.CacheScope.register(df
      .filter(col(blockCol).isNotNull && col(treatCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .groupBy(col(blockCol).as("blk"), col(treatCol).as("tr"))
      .agg(max(col(outcomeCol).cast("boolean").cast("int")).cast("long")
        .as("x")))
    val kAll = cells0.select(countDistinct(col("tr")).as("k"))
    val complete = cells0.groupBy("blk").agg(count(lit(1)).as("__kb"))
      .crossJoin(broadcast(kAll))
      .filter(col("__kb") === col("k")).select("blk")
    val cells = graft.CacheScope.register(cells0.join(complete, "blk"))
    val perBlock = cells.groupBy("blk")
      .agg(sum("x").cast("long").as("rb"))
    val perTreat = cells.groupBy("tr")
      .agg(sum("x").cast("long").as("cj"))
    val tAgg = perTreat.agg(count(lit(1)).cast("long").as("k"),
      sum(d(col("cj")) * d(col("cj"))).cast("long").as("c2"),
      sum(d(col("cj"))).cast("long").as("nsucc"))
    val bAgg = perBlock.agg(count(lit(1)).cast("long").as("b"),
      sum(d(col("rb")) * d(col("rb"))).cast("long").as("r2"))
    tAgg.crossJoin(broadcast(bAgg))
      .select(col("b").as("n_blocks"), col("k").as("k_treatments"),
        col("nsucc").as("n_success"), (col("k") - 1).as("dof"), {
          val denom = dbl(col("k")) * dbl(col("nsucc")) - dbl(col("r2"))
          when(col("b") >= 2 && col("k") >= 2 && denom > 0,
            dbl(col("k") - 1) *
              (dbl(col("k")) * dbl(col("c2")) -
                dbl(col("nsucc")) * dbl(col("nsucc"))) / denom)
            .as("q_stat")
        })
  }

  /** PAGE'S L TREND test — the ORDERED-alternative refinement of
    * [[friedmanTest]] (exactly as [[cochranArmitage]] refines the
    * chi-square): given a HYPOTHESIZED treatment ordering, L =
    * Σⱼ j·Rⱼ over within-block midranks is large when the ranks climb
    * with the hypothesis; Friedman asks "any difference", Page asks
    * "THIS monotone difference" and wins power when the hypothesis is
    * right. Complete blocks only; the normal approximation uses the
    * classic moments E[L] = b·k(k+1)²/4, Var[L] = b·(k³−k)²/(144(k−1))
    * (tie-free form — documented; ties on micro sums are measure-zero
    * in practice and BOTH engines apply the same formula).
    *
    * Exactness: the ×2 midrank grid makes L2 = 2L an exact BIGINT; the
    * z assembly (L2 − b·k(k+1)²/2) / sqrt(b·(k³−k)²/(36(k−1))) is one
    * pinned IEEE sequence, p two-sided via the shared A&S polynomial.
    *
    * Output ONE row: (n_blocks, k_treatments, l2_stat, z, p_micro,
    * significant).
    */
  def pageTrend(df: DataFrame, blockCol: String, treatCol: String,
      valueCol: String, order: Seq[String]): DataFrame = {
    require(order.nonEmpty && order.distinct == order,
      s"hypothesized order must be distinct: $order")
    def d(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val jExpr = order.zipWithIndex.foldLeft(lit(null).cast("long")) {
      case (acc, (t, i)) => when(col("tr") === t, lit(i + 1L)).otherwise(acc)
    }
    val cells0 = graft.CacheScope.register(df
      .filter(col(blockCol).isNotNull && col(treatCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(blockCol).as("blk"), col(treatCol).as("tr"))
      .agg(sum(round(col(valueCol) * 1e6).cast("long")).cast("long")
        .as("v"))
      .withColumn("j", jExpr)
      .filter(col("j").isNotNull)) // treatments outside the hypothesis drop
    val complete = cells0.groupBy("blk").agg(count(lit(1)).as("__kb"))
      .filter(col("__kb") === order.size).select("blk")
    val cells = graft.CacheScope.register(cells0.join(complete, "blk"))
    val gv = cells.groupBy("blk", "v").agg(count(lit(1)).as("t"))
    val w = Window.partitionBy("blk").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val r2 = gv.withColumn("cum_lt", coalesce(sum("t").over(w), lit(0L)))
      .select(col("blk"), col("v"),
        (col("cum_lt") * 2 + col("t") + 1).as("r2"))
    val agg = cells.join(r2, Seq("blk", "v"))
      .agg(countDistinct(col("blk")).cast("long").as("b"),
        sum(d(col("j")) * d(col("r2"))).cast("long").as("l2"))
    val k = order.size.toLong
    val bD = dbl(col("b"))
    val kD = lit(k.toDouble)
    val e2 = bD * kD * (kD + 1) * (kD + 1) / lit(2.0)
    val var2 = bD * (kD * kD * kD - kD) * (kD * kD * kD - kD) /
      (lit(36.0) * (kD - 1))
    val z = (dbl(col("l2")) - e2) / sqrt(var2)
    val az = abs(z)
    val kk = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = ((((lit(1.330274429) * kk + lit(-1.821255978)) * kk
      + lit(1.781477937)) * kk + lit(-0.356563782)) * kk
      + lit(0.319381530)) * kk
    val tail = lit(0.3989422804014327) * exp(lit(-0.5) * az * az) * poly
    val ok = col("b") >= 2L && k >= 2
    agg.select(col("b").as("n_blocks"), lit(k).as("k_treatments"),
      col("l2").as("l2_stat"),
      when(ok, z).as("z"),
      when(ok, round(least(lit(1.0), lit(2.0) * tail) * 1e6).cast("long"))
        .as("p_micro"))
      .withColumn("significant",
        col("p_micro").isNotNull && col("p_micro") <= 50000L)
  }

  /** KENDALL'S W coefficient of concordance — "how much do b judges
    * AGREE on the ranking of k items": the effect-size face of
    * [[friedmanTest]] (W = χ²_F / (b·(k−1))), 0 = no agreement,
    * 1 = every judge ranks identically. Where Fleiss' kappa
    * ([[fleissKappa]]) measures agreement on CATEGORIES, W measures
    * agreement on ORDER — the right audit for "do my quality heuristics
    * rank sources the same way". Ties and completeness handling are
    * exactly Friedman's (Conover's tie-robust form underneath).
    *
    * Output ONE row: (n_judges, k_items, chi2, w), null when Friedman
    * degenerates.
    */
  def kendallW(df: DataFrame, judgeCol: String, itemCol: String,
      valueCol: String): DataFrame =
    friedmanTest(df, judgeCol, itemCol, valueCol)
      .select(col("n_blocks").as("n_judges"),
        col("k_treatments").as("k_items"), col("chi2"),
        when(col("chi2").isNotNull && col("n_blocks") > 0 &&
          col("dof") > 0,
          col("chi2") / (col("n_blocks") * col("dof")).cast("double"))
          .as("w"))

  /** POISSON OVERDISPERSION test per group — "are these event counts
    * clumpier than random": per-unit event counts x_u against the
    * Poisson null (variance = mean) via the index of dispersion, with
    * the exact-integer identity χ² = Σ(x − x̄)²/x̄ = (n·Σx² − N²)/N (no
    * means materialized, no rounding until the final z), dof = n − 1,
    * and Fisher's √(2χ²) − √(2·dof − 1) normal approximation for the
    * one-sided overdispersion p. D > 1 means burst/clump (retries, bot
    * storms, template floods); D < 1 means suspicious regularity. Note
    * the unit relation is zero-truncated by construction (a unit with
    * no events is invisible), so D tests the OBSERVED-unit counts.
    *
    * Output per group: (group, n_units, n_events, chi2_micro,
    * dispersion_index_micro, z, p_micro, overdispersed) — chi2 and D
    * on the exact truncating micro grid, z/p null when n < 2 or N = 0.
    */
  def dispersionTest(df: DataFrame, groupCol: String,
      unitCol: String): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: Column) = c.cast("double")
    val perUnit = df.filter(col(groupCol).isNotNull && col(unitCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(unitCol).as("u"))
      .agg(count(lit(1)).cast("long").as("x"))
    val agg = perUnit.groupBy("g")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(d(col("x"))).cast("long").as("nn"),
        sum(d(col("x")) * d(col("x"))).cast("decimal(38,0)").as("q"))
    val ok = col("n") >= 2L && col("nn") > 0L
    val chi2 = (dbl(col("n")) * dbl(col("q")) -
      dbl(col("nn")) * dbl(col("nn"))) / dbl(col("nn"))
    val z = sqrt(lit(2.0) * chi2) -
      sqrt(lit(2.0) * dbl(col("n") - 1) - lit(1.0))
    val az = abs(z)
    val kk = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = ((((lit(1.330274429) * kk + lit(-1.821255978)) * kk
      + lit(1.781477937)) * kk + lit(-0.356563782)) * kk
      + lit(0.319381530)) * kk
    val tail = lit(0.3989422804014327) * exp(lit(-0.5) * az * az) * poly
    val pOne = when(z > 0, tail).otherwise(lit(1.0) - tail)
    agg.select(col("g").as(groupCol), col("n").as("n_units"),
      col("nn").as("n_events"),
      when(ok, expr("cast((cast(n as decimal(38,0)) * q - " +
        "cast(nn as decimal(38,0)) * nn) * 1000000 div nn as bigint)"))
        .as("chi2_micro"),
      when(ok && col("n") > 1, expr("cast((cast(n as decimal(38,0)) * q - " +
        "cast(nn as decimal(38,0)) * nn) * 1000000 div " +
        "(cast(nn as decimal(38,0)) * (n - 1)) as bigint)"))
        .as("dispersion_index_micro"),
      when(ok, z).as("z"),
      when(ok, round(least(lit(1.0), pOne) * 1e6).cast("long"))
        .as("p_micro"))
      .withColumn("overdispersed",
        col("p_micro").isNotNull && col("p_micro") <= 50000L &&
          col("dispersion_index_micro") > 1000000L)
      .orderBy(groupCol)
  }
}
