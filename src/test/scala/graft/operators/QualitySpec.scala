package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class QualitySpec extends SparkSpec {

  test("spearman: monotone nonlinear = exactly 1, reversed = -1, " +
      "tie-aware hand example") {
    import spark.implicits._
    val mono = (1 to 6).map(i => ("m", i.toDouble, (i * i * i).toDouble))
    val anti = (1 to 6).map(i => ("a", i.toDouble, -i.toDouble))
    val tied = Seq(("t", 1.0, 1.0), ("t", 2.0, 2.0), ("t", 2.0, 3.0),
      ("t", 3.0, 4.0))
    val df = (mono ++ anti ++ tied).toDF("g", "x", "y")
    val out = Quality.spearman(df, "g", "x", "y")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out("m") == 1.0)  // x³ is monotone: rank-perfect despite r² < 1
    assert(out("a") == -1.0)
    // x=[1,2,2,3] → 2r̄=[2,5,5,8]; y untied → [2,4,6,8];
    // ρ = 72/√(72·80) — the exact IEEE value
    assert(out("t") == 72.0 / math.sqrt(72.0 * 80.0))
  }

  test("spearman r² vs rho: x³ group separates monotone from linear") {
    import spark.implicits._
    val df = (1 to 6).map(i => ("m", i.toDouble, (i * i * i).toDouble))
      .toDF("g", "x", "y")
    val r2 = Quality.olsRegression(df, "g", "x", "y")
      .collect()(0).getAs[Double]("r2")
    assert(r2 < 1.0 && r2 > 0.8) // linear fit imperfect; rank fit perfect
  }

  test("kendallTau: hand-counted concordant/discordant/ties and exact " +
      "tau-b") {
    import spark.implicits._
    // x=[1,2,2,3], y=[1,3,2,4] over o=1..4:
    // pairs (1,2)(1,3)(1,4)(2,4)(3,4) concordant; (2,3) tied in x
    val df = Seq(("g", 1L, 1.0, 1.0), ("g", 2L, 2.0, 3.0),
      ("g", 3L, 2.0, 2.0), ("g", 4L, 3.0, 4.0)).toDF("g", "o", "x", "y")
    val r = Quality.kendallTau(df, "g", "o", "x", "y").collect()(0)
    assert(r.getAs[Long]("n_pairs") == 6L)
    assert(r.getAs[Long]("concordant") == 5L)
    assert(r.getAs[Long]("discordant") == 0L)
    assert(r.getAs[Long]("tied_x") == 1L)
    assert(r.getAs[Long]("tied_y") == 0L)
    assert(r.getAs[Double]("tau_b") == 5.0 / math.sqrt(5.0 * 6.0))
  }

  test("kendallTau: all-tied series yields null tau (zero denominator)") {
    import spark.implicits._
    val df = Seq(("g", 1L, 7.0, 1.0), ("g", 2L, 7.0, 2.0),
      ("g", 3L, 7.0, 3.0)).toDF("g", "o", "x", "y")
    val r = Quality.kendallTau(df, "g", "o", "x", "y").collect()(0)
    assert(r.getAs[Long]("tied_x") == 3L)
    assert(r.isNullAt(r.fieldIndex("tau_b")))
  }

  test("emdPairwise: all mass shifted one of two buckets = exactly 0.5; " +
      "identical distributions = 0") {
    import spark.implicits._
    val df = (Seq.fill(4)(("a", 0L)) ++ Seq.fill(2)(("b", 9L)) ++
      Seq.fill(3)(("c", 0L))).toDF("g", "x")
    val out = Quality.emdPairwise(df, "g", "x", buckets = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("emd")).toMap
    // a: cum [4,4]; b: cum [0,2] → Σ|cumA·nB−cumB·nA| = 8 → 8/(4·2)/2
    assert(out(("a", "b")) == 0.5)
    assert(out(("a", "c")) == 0.0) // same shape, different sizes
    assert(out(("b", "c")) == 0.5)
  }

  test("twoProportionZ: pooled-variance hand example exact; degenerate " +
      "pooled rate yields null z") {
    import spark.implicits._
    val df = (Seq.fill(2)(("a", true)) ++ Seq.fill(2)(("a", false)) ++
      Seq.fill(4)(("b", false)) ++ Seq.fill(3)(("c", true)))
      .toDF("g", "hit")
    val out = Quality.twoProportionZ(df, "g", col("hit"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        Option(r.getAs[Any]("z")).map(_.asInstanceOf[Double])).toMap
    // a: 2/4, b: 0/4 → pp=.25; z = .5/sqrt(.25·.75·(1/4+1/4))
    assert(out(("a", "b")) ==
      Some(0.5 / math.sqrt(0.25 * 0.75 * (0.25 + 0.25))))
    // b: 0/4 vs c: 3/3 all-hit → pp=3/7, defined z; a-c defined too
    assert(out(("b", "c")).isDefined && out(("b", "c")).get < 0)
  }

  test("twoProportionZ: both groups all-hit (pooled rate 1) → null z") {
    import spark.implicits._
    val df = (Seq.fill(3)(("a", true)) ++ Seq.fill(2)(("b", true)))
      .toDF("g", "hit")
    val r = Quality.twoProportionZ(df, "g", col("hit")).collect()(0)
    assert(r.isNullAt(r.fieldIndex("z")))
  }

  test("missingness counts nulls per column as a long table " +
      "(test_detect_missing_values)") {
    import spark.implicits._
    val df = Seq(
      (Some(1.0), Some("a")),
      (None: Option[Double], Some("b")),
      (None: Option[Double], None: Option[String])
    ).toDF("temperature", "name")
    val out = Quality.missingness(df, Seq("temperature", "name"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("temperature" -> 2L, "name" -> 1L))
  }

  test("zscoreOutliers flags an injected spike with population std " +
      "(test_detect_outliers_flags_extreme_values)") {
    import spark.implicits._
    // 9 normal readings + one 1000-degree spike (the reference's test shape)
    val df = ((1 to 9).map(i => 10.0 + i * 0.1) :+ 1000.0).toDF("temperature")
    val out = Quality.zscoreOutliers(df, Seq("temperature"), 2.0)
    assert(out.collect().map(_.getAs[Double]("temperature")).toSeq == Seq(1000.0))
  }

  test("zscoreOutliers on a constant column flags nothing (sd=0 → NaN z, " +
      "no ANSI error)") {
    import spark.implicits._
    val df = Seq.fill(5)(42.0).toDF("temperature")
    assert(Quality.zscoreOutliers(df, Seq("temperature"), 1.0).count() == 0)
  }

  test("duplicateAudit reports keys with count > 1, descending") {
    import spark.implicits._
    val df = Seq(("S1", "t1"), ("S1", "t1"), ("S1", "t1"), ("S2", "t1"),
      ("S2", "t2"), ("S2", "t2")).toDF("station_id", "ts")
    val out = Quality.duplicateAudit(df, Seq(col("station_id"), col("ts")))
      .orderBy(desc("n")).collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n") == 3L)
  }

  test("trailingCount bounds the window to days back from the max timestamp") {
    import spark.implicits._
    val df = Seq("2024-01-01 00:00:00", "2024-06-01 00:00:00",
      "2024-12-31 00:00:00").map(java.sql.Timestamp.valueOf).toDF("ts")
    // 365-day trailing window from 2024-12-31 covers all of 2024
    assert(Quality.trailingCount(df, "ts", 365).collect()(0).getLong(0) == 3L)
    assert(Quality.trailingCount(df, "ts", 30).collect()(0).getLong(0) == 1L)
  }

  test("madOutlierStats: robust to the wild value a z-score fence is not") {
    import spark.implicits._
    // 9 values near 100 plus one at 10000: median 100, MAD small, the
    // wild row flagged; the wild row cannot drag the fence (unlike mean/sd)
    val vals = Seq(98, 99, 100, 100, 100, 100, 101, 101, 102, 10000)
    val df = vals.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
      .toDF("grp", "id", "v")
    val r = Quality.madOutlierStats(df, "grp", "v", 3.0).collect()(0)
    assert(r.getAs[Long]("n") == 10)
    assert(r.getAs[Double]("median_val") == 100.0)
    assert(r.getAs[Double]("mad") == 1.0)
    assert(r.getAs[Long]("n_outliers") == 1) // only the 10000 (adev 9900 > 3*MAD)
  }

  test("approxQuantilesByGroup: rank error within n/accuracy of the " +
      "exact quantiles (the q73 contract)") {
    import spark.implicits._
    val n = 2000
    val acc = 100
    // heavy-tailed values so approx vs exact can actually differ
    val df = (0 until n).map(i => ("g", (i * i).toLong)).toDF("grp", "v")
    val sorted = (0 until n).map(i => (i.toLong * i)).sorted
    val out = graft.operators.Sketches.approxQuantilesByGroup(df, "grp", "v", acc)
      .collect()(0)
    val slack = n / acc + 1
    for ((p, got) <- Seq(0.5 -> out.getAs[Long]("p50"), 0.9 -> out.getAs[Long]("p90"))) {
      val r = math.ceil(p * n).toInt - 1
      val lo = sorted(math.max(0, r - slack))
      val hi = sorted(math.min(n - 1, r + slack))
      assert(got >= lo && got <= hi, s"p=$p got=$got not in [$lo,$hi]")
    }
    assert(out.getAs[Long]("max_val") == sorted.last)
  }

  test("andersonDarling2: identical samples score exactly 0; disjoint " +
      "samples match the hand-computed A2 = 5/3") {
    import spark.implicits._
    // identical per-value counts with n1 = n2: every deviation
    // N*M - n*B = 0 -> A2 exactly 0
    val same = Seq((true, 1L), (false, 1L), (true, 2L), (false, 2L))
      .toDF("g", "v")
    val r0 = Quality.andersonDarling2(same, col("g"), col("v"))
      .collect().head
    assert(r0.getAs[Long]("a2_micro_sum") == 0L)
    assert(r0.getAs[Double]("a2") == 0.0)
    // fully separated: s1 = {1,2}, s2 = {3,4} -> terms 1/6, 1/2, 1/6
    // per sample, A2 = 2*(5/6) = 5/3 (micro-rounded per term)
    val disj = Seq((true, 1L), (true, 2L), (false, 3L), (false, 4L))
      .toDF("g", "v")
    val r1 = Quality.andersonDarling2(disj, col("g"), col("v"))
      .collect().head
    assert(r1.getAs[Long]("n_grid") == 3L) // the last grid point drops
    assert(r1.getAs[Long]("a2_micro_sum") == 1666668L)
    assert(math.abs(r1.getAs[Double]("a2") - 5.0 / 3.0) < 1e-5)
  }

  test("kendallW: unanimous judges score exactly 1; split judges score " +
      "0; ties route through Friedman's machinery") {
    import spark.implicits._
    val unanimous = (1 to 3).flatMap(j => Seq(
      (s"j$j", "A", 1.0), (s"j$j", "B", 2.0), (s"j$j", "C", 3.0)))
      .toDF("judge", "item", "v")
    val r = Quality.kendallW(unanimous, "judge", "item", "v")
      .collect().head
    assert(r.getAs[Long]("n_judges") == 3L && r.getAs[Long]("k_items") == 3L)
    assert(r.getAs[Double]("w") == 1.0)
    // two judges in exact opposition: rank sums equalize -> W = 0
    val split = Seq(
      ("j1", "A", 1.0), ("j1", "B", 2.0), ("j1", "C", 3.0),
      ("j2", "A", 3.0), ("j2", "B", 2.0), ("j2", "C", 1.0))
      .toDF("judge", "item", "v")
    val rs = Quality.kendallW(split, "judge", "item", "v").collect().head
    assert(rs.getAs[Double]("w") == 0.0)
  }

  test("gTest: hand-computed 2x2 fixture; perfectly independent table " +
      "reads ~0; G tracks 2N*MI") {
    import spark.implicits._
    // 2x2 with counts (a1,b1)=30 (a1,b2)=10 (a2,b1)=10 (a2,b2)=30:
    // n=80, marginals all 40; G = 2*sum O*ln(O*80/1600)
    val rows = (
      Seq.fill(30)(("a1", "b1")) ++ Seq.fill(10)(("a1", "b2")) ++
      Seq.fill(10)(("a2", "b1")) ++ Seq.fill(30)(("a2", "b2"))
    ).toDF("a", "b")
    val r = Quality.gTest(rows, "a", "b").collect().head
    val expect = 2.0 * (2 * 30 * math.log(30.0 * 80 / 1600) +
      2 * 10 * math.log(10.0 * 80 / 1600))
    assert(r.getAs[Long]("n") == 80L && r.getAs[Long]("dof") == 1L)
    assert(math.abs(r.getAs[Double]("g_stat") - expect) < 1e-3)
    // independence: every O = E exactly -> every dl = 0 -> G = 0
    val indep = (
      Seq.fill(20)(("a1", "b1")) ++ Seq.fill(20)(("a1", "b2")) ++
      Seq.fill(20)(("a2", "b1")) ++ Seq.fill(20)(("a2", "b2"))
    ).toDF("a", "b")
    val ri = Quality.gTest(indep, "a", "b").collect().head
    assert(ri.getAs[Long]("g_micro_sum") == 0L)
  }

  test("byFdr: BY rejections are always a subset of BH; harmonic number " +
      "exact on the 1e-12 grid") {
    val ev = graft.GraftSession.table(spark, "/root/testdata/sf0.001",
      "events")
    val out = Quality.byFdr(ev, "event_type", "user_id", "value", "spec-by")
      .collect()
    assert(out.nonEmpty)
    val m = out.length
    val expectH = (1 to m).map(i => 1000000000000L / i).sum
    assert(out.forall(_.getAs[Long]("harmonic_12") == expectH))
    // BY is strictly more conservative: never rejects what BH keeps
    assert(out.forall(r => !r.getAs[Boolean]("significant_by") ||
      r.getAs[Boolean]("significant_bh")))
    graft.CacheScope.releaseAll()
  }

  test("jonckheereTerpstra: fully separated increasing groups hit max " +
      "J2; reversed hypothesis flips the z sign; ties count once") {
    import spark.implicits._
    // g1 = {1,2}, g2 = {3,4}, g3 = {5,6}: every cross pair agrees ->
    // J = 3 pairs * 4 = 12, J2 = 24; E[J2] = (36-12)/2 = 12;
    // Var[J2] = (36*15 - 3*4*7)/18 = 456/18
    val rows = Seq(("g1", 1.0), ("g1", 2.0), ("g2", 3.0), ("g2", 4.0),
      ("g3", 5.0), ("g3", 6.0)).toDF("g", "v")
    val order = Seq("g1", "g2", "g3")
    val r = Quality.jonckheereTerpstra(rows, "g", "v", order)
      .collect().head
    assert(r.getAs[Long]("n_total") == 6L && r.getAs[Long]("k_groups") == 3L)
    assert(r.getAs[Long]("j2_stat") == 24L)
    assert(math.abs(r.getAs[Double]("z") -
      12.0 / math.sqrt(456.0 / 18.0)) < 1e-12)
    val rev = Quality.jonckheereTerpstra(rows, "g", "v", order.reverse)
      .collect().head
    assert(rev.getAs[Long]("j2_stat") == 0L)
    assert(math.abs(rev.getAs[Double]("z") +
      12.0 / math.sqrt(456.0 / 18.0)) < 1e-12)
    // a tie across groups counts ONCE on the x2 grid: g1={1}, g2={1}
    val tied = Seq(("g1", 1.0), ("g2", 1.0)).toDF("g", "v")
    val rt = Quality.jonckheereTerpstra(tied, "g", "v",
      Seq("g1", "g2")).collect().head
    assert(rt.getAs[Long]("j2_stat") == 1L)
  }

  test("hillTailIndex: exact geometric tail gives H = 2.5 ln2 at k = 4; " +
      "groups without k+1 values report null") {
    import spark.implicits._
    // x_i = 2^i, i = 1..25: top-5 are 2^25..2^21, so
    // H = mean(4,3,2,1)·ln2 = 2.5·ln2 (micro-log rounding ~1e-6)
    val rows = (1 to 25).map(i => ("big", i.toLong, math.pow(2.0, i))) ++
      Seq(("tiny", 1L, 8.0), ("tiny", 2L, 4.0), ("tiny", 3L, 2.0))
    val df = rows.toDF("g", "id", "v")
    val out = Quality.hillTailIndex(df, "g", "id", "v", 4)
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val h = out("big").getAs[Double]("hill")
    assert(math.abs(h - 2.5 * math.log(2.0)) < 1e-4, s"hill=$h")
    assert(math.abs(out("big").getAs[Double]("alpha") - 1.0 / h) < 1e-12)
    assert(out("big").getAs[Long]("threshold_micro") ==
      (math.pow(2.0, 21) * 1e6).toLong)
    // 3 values < k+1 = 5: no threshold order statistic -> null estimate
    assert(out("tiny").isNullAt(out("tiny").fieldIndex("hill")))
  }

  test("cochranQ: hand-computed 4x3 fixture Q = 8/3; all-success " +
      "degenerates to null; incomplete blocks drop") {
    import spark.implicits._
    val rows = Seq(
      ("b1", "t1", true), ("b1", "t2", true), ("b1", "t3", false),
      ("b2", "t1", true), ("b2", "t2", false), ("b2", "t3", false),
      ("b3", "t1", true), ("b3", "t2", true), ("b3", "t3", true),
      ("b4", "t1", true), ("b4", "t2", false), ("b4", "t3", true))
      .toDF("blk", "tr", "x")
    val r = Quality.cochranQ(rows, "blk", "tr", "x").collect().head
    assert(r.getAs[Long]("n_blocks") == 4L &&
      r.getAs[Long]("k_treatments") == 3L &&
      r.getAs[Long]("n_success") == 8L && r.getAs[Long]("dof") == 2L)
    // Q = 2*(3*24 - 64)/(3*8 - 18) = 16/6
    assert(math.abs(r.getAs[Double]("q_stat") - 16.0 / 6.0) < 1e-12)
    // every block all-success: kN - sum(R^2) = 0 -> null
    val allTrue = rows.withColumn("x", lit(true))
    val rd = Quality.cochranQ(allTrue, "blk", "tr", "x").collect().head
    assert(rd.isNullAt(rd.fieldIndex("q_stat")))
    // a block missing a treatment is excluded entirely
    val withPartial = rows.union(
      Seq(("b5", "t1", true)).toDF("blk", "tr", "x"))
    val rp = Quality.cochranQ(withPartial, "blk", "tr", "x").collect().head
    assert(rp.getAs[Long]("n_blocks") == 4L)
    assert(math.abs(rp.getAs[Double]("q_stat") - 16.0 / 6.0) < 1e-12)
  }

  test("pageTrend: perfectly monotone blocks hit max L with z = " +
      "6/sqrt(6); anti-monotone flips the sign") {
    import spark.implicits._
    val mono = (1 to 3).flatMap(b => Seq(
      (s"b$b", "t1", 1.0), (s"b$b", "t2", 2.0), (s"b$b", "t3", 3.0)))
      .toDF("blk", "tr", "v")
    val order = Seq("t1", "t2", "t3")
    val r = Quality.pageTrend(mono, "blk", "tr", "v", order).collect().head
    // R_j = 3j -> L = 3*(1+4+9) = 42 = max, L2 = 84; E[L] = 36,
    // Var[L] = 3*(24^2)/288 = 6 -> z = 6/sqrt(6)
    assert(r.getAs[Long]("n_blocks") == 3L &&
      r.getAs[Long]("l2_stat") == 84L)
    assert(math.abs(r.getAs[Double]("z") - 6.0 / math.sqrt(6.0)) < 1e-12)
    assert(r.getAs[Boolean]("significant"))
    val anti = Quality.pageTrend(mono, "blk", "tr", "v", order.reverse)
      .collect().head
    assert(math.abs(anti.getAs[Double]("z") + 6.0 / math.sqrt(6.0)) < 1e-12)
  }

  test("wilcoxonSignedRank: hand-computed W+ on distinct and tied " +
      "differences; zero differences drop") {
    import spark.implicits._
    // units u1..u5 with d = +1 +2 -3 +4 +5 (pre rows value 0 are
    // implicit: no pre events, post sum = d); u6 has d = 0 (pre 7, post
    // 7) and must drop. W+ = 1+2+4+5 = 12 -> w2_plus = 24.
    val rows = Seq(
      ("u1", "2024-01-20 00:00:00", 1.0), ("u2", "2024-01-20 00:00:00", 2.0),
      ("u3", "2024-01-20 00:00:00", -3.0), ("u4", "2024-01-20 00:00:00", 4.0),
      ("u5", "2024-01-20 00:00:00", 5.0),
      ("u6", "2024-01-10 00:00:00", 7.0), ("u6", "2024-01-20 00:00:00", 7.0))
      .toDF("user_id", "__ts", "value")
      .withColumn("ts", to_timestamp(col("__ts")))
    val r = Quality.wilcoxonSignedRank(rows, "user_id", "ts", "value",
      "2024-01-16 00:00:00").collect().head
    assert(r.getAs[Long]("n_pairs") == 5L && r.getAs[Long]("n_pos") == 4L)
    assert(r.getAs[Long]("w2_plus") == 24L)
    // z = (24 - 15) / sqrt(5*6*11/6) = 9/sqrt(55)
    assert(math.abs(r.getAs[Double]("z") - 9.0 / math.sqrt(55.0)) < 1e-12)
    // tied |d|: d = +1 -1 +2 -> midranks 1.5 1.5 3; W+ = 4.5, W2 = 9
    val tied = Seq(("a", 1.0), ("b", -1.0), ("c", 2.0))
      .toDF("user_id", "value")
      .withColumn("ts", to_timestamp(lit("2024-01-20 00:00:00")))
    val rt = Quality.wilcoxonSignedRank(tied, "user_id", "ts", "value",
      "2024-01-16 00:00:00").collect().head
    assert(rt.getAs[Long]("w2_plus") == 9L)
    // var2 = 3*4*7/6 - (2^3-2)/12 = 14 - 0.5; z = 3/sqrt(13.5)
    assert(math.abs(rt.getAs[Double]("z") - 3.0 / math.sqrt(13.5)) < 1e-12)
  }

  test("friedmanTest: textbook tie-free chi2 = 6; constant blocks " +
      "degenerate to null; incomplete blocks drop") {
    import spark.implicits._
    // 3 blocks, 3 treatments, C > B > A in every block -> ranks 1/2/3,
    // R = (3, 6, 9), chi2 = 12/(3*3*4)*(9+36+81) - 3*3*4 = 6
    val rows = (1 to 3).flatMap(b => Seq(
      (s"b$b", "A", 1.0), (s"b$b", "B", 2.0), (s"b$b", "C", 3.0)))
      .toDF("blk", "tr", "v")
    val r = Quality.friedmanTest(rows, "blk", "tr", "v").collect().head
    assert(r.getAs[Long]("n_blocks") == 3L &&
      r.getAs[Long]("k_treatments") == 3L && r.getAs[Long]("dof") == 2L)
    assert(math.abs(r.getAs[Double]("chi2") - 6.0) < 1e-12)
    // an incomplete block (missing treatment C) is excluded
    val withPartial = rows.union(
      Seq(("b4", "A", 9.0), ("b4", "B", 1.0)).toDF("blk", "tr", "v"))
    val rp = Quality.friedmanTest(withPartial, "blk", "tr", "v")
      .collect().head
    assert(rp.getAs[Long]("n_blocks") == 3L)
    assert(math.abs(rp.getAs[Double]("chi2") - 6.0) < 1e-12)
    // all-equal values: every rank ties, denominator 0 -> null
    val const = rows.withColumn("v", lit(5.0))
    val rc = Quality.friedmanTest(const, "blk", "tr", "v").collect().head
    assert(rc.isNullAt(rc.fieldIndex("chi2")))
  }

  test("dispersionTest: exact chi2 identity — regular counts read " +
      "underdispersed, one whale reads overdispersed") {
    import spark.implicits._
    // group A: 4 units x 2 events each (perfectly regular, chi2 = 0);
    // group B: units with counts 1,1,1,97 (one whale)
    val rows = (
      (1 to 4).flatMap(u => Seq.fill(2)(("A", s"a$u"))) ++
      Seq(("B", "b1"), ("B", "b2"), ("B", "b3")) ++
      Seq.fill(97)(("B", "b4"))
    ).toDF("g", "u")
    val out = Quality.dispersionTest(rows, "g", "u")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("n_units") == 4L && a.getAs[Long]("n_events") == 8L)
    assert(a.getAs[Long]("chi2_micro") == 0L)
    assert(!a.getAs[Boolean]("overdispersed"))
    val b = out("B")
    // chi2 = (4*9412 - 100^2)/100 = 276.48 exactly
    assert(b.getAs[Long]("chi2_micro") == 276480000L)
    assert(b.getAs[Long]("dispersion_index_micro") == 92160000L)
    assert(b.getAs[Boolean]("overdispersed"))
  }

  test("spaceSavingMergeCheck: hand-computed merge law on a tiny corpus " +
      "(r10 verdict #5 — the batch face of the streaming Space-Saving)") {
    import spark.implicits._
    // one bucket, m = 2: even side counts a3 b2 c1 -> floor 1, counters
    // a(4,1) b(3,1); odd side d3 a1 c1 -> floor 1, counters d(4,1)
    // a(2,1); merged a=6 d=5 b=4 -> keep a, d; exact a4 b2 c2 d3, N=11
    val docs = Seq(
      (0L, "a a b c"), (2L, "a b"),
      (1L, "a d d c"), (3L, "d")).toDF("doc_id", "text")
    val out = graft.operators.Sketches
      .spaceSavingMergeCheck(docs, "doc_id", "text", buckets = 1, m = 2)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_bucket") == 11L)
    assert(r.getAs[Long]("n_tokens_exact") == 4L)
    assert(r.getAs[Long]("n_counters") == 2L)
    assert(r.getAs[Long]("floor_even") == 1L &&
      r.getAs[Long]("floor_odd") == 1L)
    assert(r.getAs[String]("top_token") == "a")
    assert(r.getAs[Long]("top_count") == 6L &&
      r.getAs[Long]("top_err") == 2L)
    assert(r.getAs[Long]("n_bound_violations") == 0L &&
      r.getAs[Long]("n_retention_misses") == 0L)
    assert(r.getAs[Boolean]("state_ok") && r.getAs[Boolean]("bounds_ok") &&
      r.getAs[Boolean]("retention_ok"))
  }

  test("spaceSavingMergeCheck: bounds, state cap, and retention hold on " +
      "the real corpus at aggressive truncation (m = 4)") {
    val docs = graft.GraftSession.table(spark, "/root/testdata/sf0.001",
      "documents")
    val out = graft.operators.Sketches
      .spaceSavingMergeCheck(docs, "doc_id", "text", buckets = 2, m = 4)
      .collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getAs[Boolean]("state_ok"), s"state bound broken: $r")
      assert(r.getAs[Boolean]("bounds_ok"), s"SS bounds broken: $r")
      assert(r.getAs[Boolean]("retention_ok"), s"retention broken: $r")
      // aggressive m on a real vocabulary MUST truncate (floors bind) —
      // otherwise this test is vacuous
      assert(r.getAs[Long]("floor_even") > 0L &&
        r.getAs[Long]("floor_odd") > 0L, s"floors never bound: $r")
    }
    graft.CacheScope.releaseAll()
  }

  test("heavyHittersCms: estimates never undercount and overshoot by " +
      "at most eps*N (the q74 contract)") {
    import spark.implicits._
    // zipf-ish: token t_i appears ~ n/i times
    val words = (1 to 40).flatMap(i => Seq.fill(400 / i)(s"t$i"))
    val docs = words.grouped(25).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val eps = 0.01
    val total = words.size
    val out = graft.operators.Sketches.heavyHittersCms(docs, "text", 10, eps, 0.99)
      .collect()
    assert(out.length == 10)
    val exactTop = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    out.foreach { r =>
      val (tok, nEx, nCms) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(nEx == exactTop(tok))
      assert(nCms >= nEx, s"$tok: CMS undercounted $nCms < $nEx")
      assert(nCms <= nEx + math.ceil(eps * total).toLong,
        s"$tok: CMS overshoot $nCms vs $nEx + ${eps * total}")
    }
    // the exact column really is the descending top-10
    assert(out.map(_.getLong(1)).toSeq == out.map(_.getLong(1)).sortBy(-_).toSeq)
  }

  test("winsorize: values clip into the per-group quantile band, rows and " +
      "other columns survive") {
    import spark.implicits._
    // group a: 0..10 with p0=0, p1=10 quantiles at lo=0.1/hi=0.9 → [1.0, 9.0]
    val df = ((0 to 10).map(i => ("a", i.toLong, i.toDouble)) :+
      (("b", 99L, 5.0))).toDF("g", "id", "v")
    val out = graft.operators.Quality.winsorize(df, "g", "v", 0.1, 0.9)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("v"), r.getAs[Double]("v_winsorized"))).toMap
    assert(out.size == 12)               // every row kept
    assert(out(0L) == ((0.0, 1.0)))      // below lo → clipped up
    assert(out(5L) == ((5.0, 5.0)))      // inside band → untouched
    assert(out(10L) == ((10.0, 9.0)))    // above hi → clipped down
    assert(out(99L) == ((5.0, 5.0)))     // singleton group: lo = hi = value
  }

  test("percentileGate drops each group's bottom decile, ties share a verdict") {
    import spark.implicits._
    // group a: 10 distinct scores → exactly the lowest is dropped at 0.1
    // group b: all-tied scores → cume_dist = 1 for every row, all kept
    val rows = (1 to 10).map(i => (i.toLong, "a", i.toDouble)) ++
      (11 to 14).map(i => (i.toLong, "b", 7.0))
    val out = Quality.percentileGate(rows.toDF("id", "grp", "score"),
        "grp", "score", 0.1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("kept"))).toMap
    assert(!out(1L))                       // lowest of a: cume_dist 0.1, dropped
    assert((2L to 10L).forall(out(_)))     // rest of a kept
    assert((11L to 14L).forall(out(_)))    // tied group all kept
  }

  test("groupedPearson: exact +1/-1 on linear integer columns per group, " +
      "null on zero variance, nulls drop pairwise") {
    import spark.implicits._
    val rows =
      (1L to 10L).map(i => ("up", Some(i), Some(3 * i + 7))) ++
      (1L to 10L).map(i => ("down", Some(i), Some(100 - 2 * i))) ++
      Seq(("flat", Some(5L), Some(1L)), ("flat", Some(5L), Some(2L)),
        ("up", None, Some(99L)), ("up", Some(99L), None))  // dropped rows
    val out = Quality.groupedPearson(
        rows.toDF("grp", "x", "y"), "grp", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    assert(out("up") == ((10L, Some(1.0))))
    assert(out("down") == ((10L, Some(-1.0))))
    assert(out("flat") == ((2L, None)), "zero x-variance must be null, not NaN")
  }

  test("pearsonMatrix: r = +1 / -1 on linear columns, null on a constant") {
    import spark.implicits._
    val rows = (1 to 20).map(i =>
      (i.toDouble, 2.0 * i + 3, -0.5 * i + 7, 42.0))
    val out = Quality.pearsonMatrix(
        rows.toDF("x", "y_pos", "y_neg", "c"),
        Seq("x", "y_pos", "y_neg", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    assert(out(("x", "y_pos")).get == 1.0)
    assert(out(("x", "y_neg")).get == -1.0)
    assert(out(("x", "c")).isEmpty)       // zero variance → null, not NaN
    assert(out(("y_pos", "y_neg")).get == -1.0)
  }

  test("pearsonMatrix is pairwise-complete: a null in either column drops " +
      "the ROW for that pair only") {
    import spark.implicits._
    // (1,1),(2,2) correlate perfectly; the (null,3) row must be excluded
    // from the x-y pair — a global-count implementation would mix moments
    // over different row sets and report r = -0.5 here
    val df = Seq((Option(1.0), Option(1.0)), (Option(2.0), Option(2.0)),
      (Option.empty[Double], Option(3.0))).toDF("x", "y")
    val row = Quality.pearsonMatrix(df, Seq("x", "y")).collect()(0)
    assert(row.getAs[Long]("n") == 2L)
    assert(row.getAs[Double]("r") == 1.0)
  }

  test("profileTable: exact nulls/distincts per column, micro min/max only " +
      "for numerics") {
    import spark.implicits._
    val df = Seq((1L, Option("a"), Option(1.5)), (2L, Option("a"), None),
      (3L, Option.empty[String], Option(2.5))).toDF("id", "s", "v")
    val out = Quality.profileTable(df, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]))).toMap
    assert(out("id") == ((3L, 0L, 3L, Some(1000000L), Some(3000000L))))
    assert(out("s") == ((3L, 1L, 1L, None, None)))
    assert(out("v") == ((3L, 1L, 2L, Some(1500000L), Some(2500000L))))
  }

  test("olsRegression: exact fit on a perfect line, complete-case nulls, " +
      "constant-x group degenerates to null") {
    import spark.implicits._
    val df = Seq(
      // group a: y = 2x + 1 exactly → slope 2, intercept 1, r2 1
      ("a", Option(1.0), Option(3.0)), ("a", Option(2.0), Option(5.0)),
      ("a", Option(3.0), Option(7.0)),
      // an incomplete row never enters the moments (complete-case)
      ("a", Option(4.0), Option.empty[Double]),
      // group b: constant x → var(x)=0 → null slope/intercept/r2
      ("b", Option(5.0), Option(1.0)), ("b", Option(5.0), Option(2.0)))
      .toDF("g", "x", "y")
    val out = Quality.olsRegression(df, "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), Option(r.get(2)), Option(r.get(3)),
          Option(r.get(4))))).toMap
    assert(out("a")._1 == 3L)
    assert(out("a")._2 == Some(2.0) && out("a")._3 == Some(1.0) &&
      out("a")._4 == Some(1.0))
    assert(out("b") == ((2L, None, None, None)))
  }

  test("welchTTest: equal-variance symmetric fixture reduces to the pooled " +
      "t; zero-variance group yields null t") {
    import spark.implicits._
    val df = Seq(
      // a: mean 2, var 1 (n=3); b: mean 5, var 1 (n=3)
      ("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 4.0), ("b", 5.0), ("b", 6.0),
      // c: constant → zero variance → t/df null against anyone
      ("c", 7.0), ("c", 7.0)).toDF("g", "x")
    val out = Quality.welchTTest(df, "g", "x")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Double]("mean_a"), r.getAs[Double]("mean_b"),
          Option(r.get(6)).map(_.asInstanceOf[Double]),
          Option(r.get(7)).map(_.asInstanceOf[Double])))).toMap
    assert(out.size == 3)
    val (na, nb, ma, mb, tOpt, dfOpt) = out(("a", "b"))
    assert(na == 3L && nb == 3L && ma == 2.0 && mb == 5.0)
    // t = (2-5)/sqrt(1/3+1/3) and Welch df = 4 for the symmetric case
    val tExp = -3.0 / math.sqrt(2.0 / 3.0)
    assert(math.abs(tOpt.get - tExp) < 1e-9)
    assert(math.abs(dfOpt.get - 4.0) < 1e-9)
    // c has zero variance: se2 > 0 fails for (b,c) only if b also had
    // zero variance — (a,c)/(b,c) keep a positive se2 from a/b's side,
    // so t exists; means are exact
    assert(out(("a", "c"))._4 == 7.0 && out(("b", "c"))._4 == 7.0)
  }

  test("psiDrift: identical halves give near-zero PSI, a shifted current " +
      "half drives positive contributions") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(hour: Int) = Timestamp.valueOf(f"2024-01-01 $hour%02d:00:00")
    // ref half (hours 0-9): values around 10; cur half (hours 10-19):
    // half around 10, half shifted to 90 -> mass moves to the top bucket
    val rows =
      (0 until 10).map(h => (ts(h), 10.0 + h % 3)) ++
      (10 until 15).map(h => (ts(h), 10.0 + h % 3)) ++
      (15 until 20).map(h => (ts(h), 90.0))
    val df = rows.toDF("ts", "value")
    val out = Quality.psiDrift(df, "ts", "value", 10)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    // bottom bucket: ref keeps all 10, cur only 5 -> negative-direction
    // drift still yields a POSITIVE contribution (sign-matched product)
    val (cRef0, cCur0, contrib0) = out(0)
    assert(cRef0 == 10L && cCur0 == 5L && contrib0 > 0L)
    // top bucket: ref 0, cur 5 -> large positive contribution
    val (cRef9, cCur9, contrib9) = out(9)
    assert(cRef9 == 0L && cCur9 == 5L && contrib9 > contrib0)
    assert(out.values.forall(_._3 >= 0L), "PSI contributions are never negative")
  }

  test("datasetCard: hand-computed per-source stats (counts, percentiles, " +
      "entropy, dup share)") {
    import spark.implicits._
    val docs = Seq(
      // src a: 4 docs, two exact dups, langs en/en/de/de, lens 2,2,2,3
      (1L, "a", "en", "x y"), (2L, "a", "en", "x y"),
      (3L, "a", "de", "p q"), (4L, "a", "de", "p q r"),
      // src b: 1 doc, single lang -> entropy 0, no dups
      (5L, "b", "en", "m n o")
    ).toDF("doc_id", "source", "lang", "text")
    val out = Quality.datasetCard(docs, "source", "lang", "doc_id", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getAs[Long]("n_docs") == 4L && a.getAs[Long]("n_tokens") == 9L)
    assert(a.getAs[Int]("tok_p50") == 2 && a.getAs[Int]("tok_p90") == 3)
    // two equally-likely langs -> H = ln 2
    assert(math.abs(a.getAs[Double]("lang_entropy_micro") -
      math.log(2) * 1e6) < 1.0)
    assert(a.getAs[Long]("dup_docs") == 2L &&
      a.getAs[Double]("dup_share") == 0.5)
    val b = out("b")
    assert(math.abs(b.getAs[Double]("lang_entropy_micro")) < 1.0)
    assert(b.getAs[Long]("dup_docs") == 0L)
  }

  test("groupedWilson: closed-form interval matches a hand computation " +
      "and brackets the rate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = (Seq.fill(3)(("a", true)) ++ Seq.fill(22)(("a", false)) ++
      Seq.fill(5)(("b", true))).toDF("src", "hit")
    val out = Quality.groupedWilson(df, "src", col("hit"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getAs[Double]("rate"),
          r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))).toMap
    val (n, k, rate, lo, hi) = out("a")
    assert(n == 25L && k == 3L && rate == 0.12)
    val z = 1.96; val zz = z * z; val p = 3.0 / 25
    val denom = 1.0 + zz / 25
    val center = (p + zz / (2.0 * 25)) / denom
    val half = (z * math.sqrt(p * (1.0 - p) / 25 + zz / (4.0 * 25 * 25))) / denom
    assert(lo == center - half && hi == center + half)
    assert(lo > 0 && lo < rate && rate < hi && hi < 1)
    // all-hit group: interval still proper (Wilson never exceeds [0,1])
    val (_, _, rb, lob, hib) = out("b")
    assert(rb == 1.0 && lob > 0.5 && hib <= 1.0)
  }

  test("quantileNormalize maps each group's CDF onto the global " +
      "inverse-CDF and preserves within-group order") {
    import spark.implicits._
    // group lo = {1,2,3,4}, group hi = {11,12,13,14}; global CDF over all
    // eight: lo's quartiles map onto global scores at fractions
    // 1/8..4/8, hi's onto 5/8..8/8
    val df = (Seq(1, 2, 3, 4).map(("lo", _)) ++
      Seq(11, 12, 13, 14).map(("hi", _))).toDF("src", "score")
    val out = Quality.quantileNormalize(df, "src", "score")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // lo: fractions 0.25/0.5/0.75/1.0 -> global scores 2/4/12/14
    assert(out(("lo", 1L)) == 2L && out(("lo", 2L)) == 4L)
    assert(out(("lo", 3L)) == 12L && out(("lo", 4L)) == 14L)
    // hi: same fractions -> identical normalized ladder (rank-preserving)
    assert(out(("hi", 11L)) == 2L && out(("hi", 14L)) == 14L)
    // monotone within each group
    val lo = Seq(1L, 2L, 3L, 4L).map(s => out(("lo", s)))
    assert(lo == lo.sorted)
  }

  test("mutualInformation: exact 0 for independent facets, NMI exactly 1 " +
      "for a bijective dependency, entropies match the closed form, " +
      "nulls dropped") {
    import spark.implicits._
    // independent 2x2 uniform: every micro-log term cancels EXACTLY
    val indep = Seq(("x", "u"), ("x", "v"), ("y", "u"), ("y", "v"))
      .toDF("a", "b")
    val r0 = Quality.mutualInformation(indep, "a", "b").collect()(0)
    assert(r0.getLong(0) == 4L)
    assert(r0.getLong(1) == 0L)
    // H = n·lnµ(n) − Σ n_a·lnµ(n_a) for uniform 2-way over 4 rows
    val h = 4L * math.round(math.log(4.0) * 1e6) -
      2 * (2L * math.round(math.log(2.0) * 1e6))
    assert(r0.getLong(2) == h && r0.getLong(3) == h)
    // bijective a↔b (plus a null row that must be dropped): MI = H, NMI = 1
    val dep = Seq(Some("x") -> "u", Some("x") -> "u", Some("y") -> "v",
      Option.empty[String] -> "w")
      .toDF("a", "b")
    val r1 = Quality.mutualInformation(dep, "a", "b").collect()(0)
    assert(r1.getLong(0) == 3L)
    assert(r1.getLong(1) == r1.getLong(2) && r1.getLong(2) == r1.getLong(3))
    assert(r1.getDouble(4) == 1.0)
  }

  test("logisticCalibrator: separation direction, monotone log-likelihood, " +
      "perfect accuracy on a margin-separated set, null rows dropped") {
    import spark.implicits._
    // y = 1 iff x > 0, margin 1: cleanly separable on one feature
    val rows = ((-50 to -1).map(i => (i / 10.0 - 1.0, 0.0)) ++
      (1 to 50).map(i => (i / 10.0 + 1.0, 1.0)) ++
      Seq((Double.NaN, 1.0))).map { case (x, y) => (x, y) }
    val df = rows.toDF("x", "y")
    val out = Quality.logisticCalibrator(df, "y", Seq("x"), iters = 5)
      .orderBy("iter").collect()
    assert(out.length == 5)
    val lls = out.map(_.getLong(1))
    assert(lls.zip(lls.tail).forall { case (a, b) => b >= a },
      s"log-likelihood not monotone: ${lls.mkString(",")}")
    val beta = out.last
    val b1 = beta.getSeq[Double](3).head
    assert(b1 > 0, s"separation direction wrong: beta_x = $b1")
    // every training point classified correctly by the final model
    val b0 = beta.getDouble(2)
    rows.filterNot(_._1.isNaN).foreach { case (x, y) =>
      val p = 1.0 / (1.0 + math.exp(-(b0 + b1 * x)))
      assert((p > 0.5) == (y == 1.0), s"x=$x p=$p y=$y")
    }
  }

  test("logisticCalibrator: coefficients BIT-IDENTICAL across partitionings " +
      "and equal to a local reference of the same fixed-point reduction") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = (1 to 400).map { _ =>
      val x1 = rng.nextDouble() * 4 - 2
      val x2 = rng.nextDouble() * 4 - 2
      val p = 1.0 / (1.0 + math.exp(-(0.5 + 1.5 * x1 - 0.7 * x2)))
      (x1, x2, if (rng.nextDouble() < p) 1.0 else 0.0)
    }
    val df = rows.toDF("x1", "x2", "y")
    def fit(d: org.apache.spark.sql.DataFrame) =
      Quality.logisticCalibrator(d, "y", Seq("x1", "x2"), iters = 3)
        .orderBy("iter").collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getSeq[Double](3)))
    val a = fit(df)
    val b = fit(df.repartition(17))
    assert(a.toSeq == b.toSeq, "not partition-deterministic")

    // local reference: identical per-row doubles, 1e-9 quantization,
    // order-independent BigInt sums, same ridge + solve
    var beta = Array(0.0, 0.0, 0.0)
    val ridge = 1e-6
    def sigmoid(eta: Double) = 1.0 / (1.0 + math.exp(-eta))
    def clamp(p: Double) = math.min(math.max(p, 1e-12), 1.0 - 1e-12)
    for (it <- 0 until 3) {
      val feats = rows.map { case (x1, x2, y) => (Array(1.0, x1, x2), y) }
      // Spark's round() on doubles is BigDecimal HALF_UP — mirror it
      // exactly (math.round floors at negative .5 boundaries)
      def q(c: Double) = BigInt(java.math.BigDecimal.valueOf(c * 1e9)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact())
      val g = Array.tabulate(3) { j =>
        feats.map { case (x, y) =>
          // mirror the operator's column algebra exactly:
          // beta-major eta sum, clamp, r*x_j
          val eta = (0 until 3).map(k => beta(k) * x(k)).sum
          val p = clamp(sigmoid(eta))
          q((y - p) * x(j))
        }.sum
      }
      val h = Array.tabulate(3, 3) { (j, k) =>
        val jj = math.min(j, k); val kk = math.max(j, k)
        feats.map { case (x, _) =>
          val eta = (0 until 3).map(t => beta(t) * x(t)).sum
          val p = clamp(sigmoid(eta))
          q(p * (1.0 - p) * x(jj) * x(kk))
        }.sum
      }
      def toD(b: BigInt) = new java.math.BigDecimal(b.bigInteger)
        .movePointLeft(9).doubleValue()
      val hm = Array.tabulate(3, 3)((j, k) =>
        toD(h(j)(k)) + (if (j == k) ridge else 0.0))
      val gv = g.map(toD)
      // same partial-pivot solve via the public surface: reuse by fitting?
      // the solve is private — re-derive with a local copy of the algorithm
      val delta = localSolve(hm, gv)
      beta = beta.zipWithIndex.map { case (v, j) => v + delta(j) }
    }
    val sparkBetas = a.last._2 +: a.last._3
    assert(sparkBetas.toSeq == beta.toSeq,
      s"spark ${sparkBetas.mkString(",")} != reference ${beta.mkString(",")}")
  }

  private def localSolve(h0: Array[Array[Double]], g0: Array[Double]): Array[Double] = {
    val m = g0.length
    val a = Array.tabulate(m, m)((i, j) => h0(i)(j))
    val b = g0.clone()
    for (c <- 0 until m) {
      var piv = c
      for (r <- c + 1 until m) if (math.abs(a(r)(c)) > math.abs(a(piv)(c))) piv = r
      if (piv != c) { val t = a(piv); a(piv) = a(c); a(c) = t
        val tb = b(piv); b(piv) = b(c); b(c) = tb }
      for (r <- c + 1 until m) {
        val f = a(r)(c) / a(c)(c)
        for (k <- c until m) a(r)(k) -= f * a(c)(k)
        b(r) -= f * b(c)
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

  test("kAnonymityAudit: class sizes and diversity flags match a hand " +
      "count; null QI forms its own class; null sensitive ignored") {
    import spark.implicits._
    val df = Seq(
      // class (a, 1): 3 rows, sensitive {x, y} -> k_anonymous@3, l_diverse@2
      ("a", 1, "x"), ("a", 1, "y"), ("a", 1, "x"),
      // class (a, 2): 2 rows, sensitive {x} -> too small, not diverse
      ("a", 2, "x"), ("a", 2, "x"),
      // class (null, 1): 3 rows, one null sensitive -> diversity counts {z, w}
      (null, 1, "z"), (null, 1, "w"), (null, 1, null)
    ).toDF("qa", "qb", "sens")
    val out = Quality.kAnonymityAudit(df, Seq("qa", "qb"), "sens", 3L, 2L)
      .collect().map(r => (Option(r.getString(0)), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(out.size == 3)
    assert(out((Some("a"), 1)) == ((3L, 2L, true, true)))
    assert(out((Some("a"), 2)) == ((2L, 1L, false, false)))
    assert(out((None, 1)) == ((3L, 2L, true, true)))
  }

  test("exactOrderStatistics: matches the sorted array on a skewed fixture " +
      "with duplicates and negatives, multi-level narrowing, partitioning-" +
      "independent, degenerate all-equal input resolves at init") {
    import spark.implicits._
    val vals: Seq[Long] = Seq(-1000000L, -5L, -5L, 0L, 3L, 3L, 3L, 7L,
      1000L, 123456789L, 123456789L, 999999999999L)
    val df = vals.toDF("x")
    val sorted = vals.sorted
    val ranks = Seq(1L, 3L, 6L, 7L, vals.length.toLong)
    // buckets = 4 over a ~10¹² domain forces ~20 narrowing levels — the
    // level loop itself is exercised, not just the first histogram
    val out = Quality.exactOrderStatistics(df, "x", ranks,
        buckets = 4, maxLevels = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ranks.foreach(k => assert(out(k) == sorted((k - 1).toInt),
      s"rank $k: got ${out(k)} want ${sorted((k - 1).toInt)}"))
    val out7 = Quality.exactOrderStatistics(df.repartition(7), "x", ranks,
        buckets = 4, maxLevels = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == out7)
    // default 65536 buckets: the same answers in ≤ 3 levels
    val outWide = Quality.exactOrderStatistics(df, "x", ranks)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(outWide == out)
    // all-equal input: min == max short-circuits before any histogram
    val eq = Seq.fill(5)(42L).toDF("x")
    assert(Quality.exactOrderStatistics(eq, "x", Seq(1L, 3L, 5L))
      .collect().forall(_.getLong(1) == 42L))
    // out-of-range rank refuses
    intercept[IllegalArgumentException] {
      Quality.exactOrderStatistics(eq, "x", Seq(6L))
    }
  }

  test("distinctSketchMerged: exact counts value-checked, bounds hold, " +
      "ALL row's estimate comes from the merged per-group sketches") {
    import spark.implicits._
    val df = (1 to 500).map(i => (s"g${i % 3}", (i % 97).toLong))
      .toDF("g", "u")
    val out = Sketches.distinctSketchMerged(df, "g", "u").collect()
    val m = out.map(r =>
      r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(m("ALL")._1 == 97)
    assert(m.keySet == Set("ALL", "g0", "g1", "g2"))
    // exact per-group distincts: i%3 partitions 1..500; each residue class
    // still covers most of 0..96 — recompute directly
    (0 to 2).foreach { g =>
      val exact = (1 to 500).filter(_ % 3 == g).map(_ % 97).distinct.size
      assert(m(s"g$g")._1 == exact)
    }
    assert(out.forall(_.getBoolean(2)), "an HLL bound contract failed")
  }

  test("mannWhitneyU: exact doubled U, tie cubes, and z on a tiny fixture") {
    import spark.implicits._
    val df = (Seq(1, 2, 3).map(("a", _)) ++ Seq(2, 3, 4).map(("b", _)))
      .toDF("g", "v")
    val r = Quality.mannWhitneyU(df, "g", "v", "a", "b").collect().head
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    // a-over-b dominance: wins {3>2} = 1, ties {2,3} = 2 halves -> U = 2
    assert(r.getAs[Long]("u2_a") == 4L)
    // tie profile t = [1,2,2,1] -> sum(t^3 - t) = 12
    assert(r.getAs[Long]("tie_cubes") == 12L)
    // z = (U - 9/2)/sqrt(9/12 * (7 - 12/30))
    val varU = 3.0 * 3.0 / 12.0 * ((6.0 + 1) - 12.0 / (6.0 * 5.0))
    assert(r.getAs[Double]("z") == (4.0 - 9.0) / 2.0 / math.sqrt(varU))
  }

  test("anovaF: exact micro sums of squares and F on a tiny fixture") {
    import spark.implicits._
    val df = (Seq(1, 2, 3).map(v => ("a", v.toDouble)) ++
      Seq(4, 5, 6).map(v => ("b", v.toDouble))).toDF("g", "v")
    val r = Quality.anovaF(df, "g", "v").collect().head
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 6L)
    // group means 2 and 5, grand 3.5: SSB = 3*1.5^2*2 = 13.5, SSW = 4
    assert(r.getAs[Long]("ssb_micro") == 13500000L)
    assert(r.getAs[Long]("ssw_micro") == 4000000L)
    assert(r.getAs[Long]("df_between") == 1L && r.getAs[Long]("df_within") == 4L)
    assert(r.getAs[Double]("f") == 13.5)
  }

  test("referentialAudit: orphans, null FKs, and childless parents") {
    import spark.implicits._
    val child = Seq(Some(1L), Some(1L), Some(2L), None).toDF("fk")
    val parent = Seq(1L, 3L).toDF("pk")
    val r = Quality.referentialAudit(child, "fk", parent, "pk", "c.fk")
      .collect().head
    assert(r.getAs[String]("relationship") == "c.fk")
    assert(r.getAs[Long]("n_child") == 4L)
    assert(r.getAs[Long]("n_null_fk") == 1L)
    assert(r.getAs[Long]("n_orphan_rows") == 1L)      // the key-2 row
    assert(r.getAs[Long]("n_distinct_orphan_keys") == 1L)
    assert(r.getAs[Long]("n_childless_parents") == 1L) // key 3
  }

  test("poissonCdf60: increasing thresholds below 2^60, masses match " +
      "Poisson(1) pmf") {
    val t = Quality.poissonCdf60
    assert(t == t.sorted && t.distinct == t)
    assert(t.last < (1L << 60))
    // first mass = e^-1 on the 2^60 grid
    assert(t.head == (math.exp(-1.0) * math.pow(2.0, 60)).toLong)
  }

  test("poissonBootstrapMeanCi: constant column collapses the CI to the " +
      "mean; weights average ~1") {
    import spark.implicits._
    val const = (1 to 200).map(i => (i.toLong, 42L)).toDF("id", "v")
    val r = Quality.poissonBootstrapMeanCi(const, "id", "v", 64, "t1")
      .collect().head
    assert(r.getAs[Long]("n_rows") == 200L)
    assert(r.getAs[Long]("b_reps") == 64L)
    assert(r.getAs[Long]("mean_micro") == 42000000L)
    assert(r.getAs[Long]("ci_lo_micro") == 42000000L)
    assert(r.getAs[Long]("ci_hi_micro") == 42000000L)
    // spread fixture: CI brackets the mean and is genuinely non-degenerate
    val spread = (1 to 200).map(i => (i.toLong, i.toLong)).toDF("id", "v")
    val s = Quality.poissonBootstrapMeanCi(spread, "id", "v", 64, "t1")
      .collect().head
    assert(s.getAs[Long]("ci_lo_micro") < s.getAs[Long]("ci_hi_micro"))
    assert(s.getAs[Long]("ci_lo_micro") <= s.getAs[Long]("mean_micro"))
    assert(s.getAs[Long]("ci_hi_micro") >= s.getAs[Long]("mean_micro"))
  }

  test("captureRecapture: hand-computed Chapman estimate and blind-spot " +
      "bound") {
    import spark.implicits._
    // detector A sees 4 pairs, B sees 3, overlap 2, union 5
    val a = Seq((1L, 2L), (1L, 3L), (4L, 5L), (6L, 7L)).toDF("id_a", "id_b")
    val b = Seq((1L, 2L), (4L, 5L), (8L, 9L)).toDF("id_a", "id_b")
    val r = Quality.captureRecapture(a, b).collect().head
    assert(r.getAs[Long]("n_a") == 4L)
    assert(r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Long]("n_both") == 2L)
    assert(r.getAs[Long]("n_union") == 5L)
    // Chapman: (5*4*1000) div 3 - 1000 = 6666 - 1000 = 5666 (N̂ ≈ 5.67)
    assert(r.getAs[Long]("chapman_milli") == 5666L)
    assert(r.getAs[Long]("est_missed_milli") == 666L)
    // identical detectors -> estimate collapses to the observed set
    val same = Quality.captureRecapture(a, a).collect().head
    assert(same.getAs[Long]("chapman_milli") == 4000L)
    assert(same.getAs[Long]("est_missed_milli") == 0L)
  }

  test("medianCi95: order-statistic ranks bracket the median on 1..100 " +
      "with the textbook normal-approx width") {
    import spark.implicits._
    val df = (1 to 100).map(_.toLong).toDF("v")
    val rows = Quality.medianCi95(df, "v").collect()
      .map(r => r.getAs[String]("which") ->
        (r.getAs[Long]("rank_pos"), r.getAs[Long]("value_at"))).toMap
    // n=100: lo = floor((100 - 19.6)/2) = 40, hi = 61, med = 50
    assert(rows("ci_lo") == ((40L, 40L)))
    assert(rows("median") == ((50L, 50L)))
    assert(rows("ci_hi") == ((61L, 61L)))
  }

  test("expectationsAudit: hand-counted violations per rule kind; " +
      "nulls skip range/set/regex; unique counts rows beyond first") {
    import spark.implicits._
    import Quality.Expectation._
    val df = Seq(
      // (id, status, score)
      (Some(1L), Some("A"), Some(10.0)),
      (Some(1L), Some("B"), Some(50.0)), // dup id
      (Some(1L), Some("Z"), Some(200.0)), // dup id, bad status, out of range
      (Some(2L), None, None), // null status/score: NotNull counts, others skip
      (None, Some("A"), Some(-1.0)) // null id, below range
    ).toDF("id", "status", "score")
    val out = Quality.expectationsAudit(df, Seq(
        NotNull("n1_id", "id"),
        NotNull("n2_status", "status"),
        InRange("r1_score", "score", 0.0, 100.0),
        InSet("s1_status", "status", Seq("A", "B")),
        Matches("m1_status", "status", "^[A-B]$"),
        Unique("u1_id", Seq("id"))))
      .collect()
      .map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_violations"),
          r.getAs[Boolean]("pass"))).toMap
    graft.CacheScope.releaseAll()
    assert(out("n1_id") == ((5L, 1L, false)))
    assert(out("n2_status") == ((5L, 1L, false)))
    // 200.0 and -1.0 out of range; the null score is NOT a range violation
    assert(out("r1_score") == ((5L, 2L, false)))
    assert(out("s1_status") == ((5L, 1L, false))) // only 'Z'
    assert(out("m1_status") == ((5L, 1L, false))) // only 'Z'
    // id groups: {1,1,1}, {2}, {null} -> 2 rows beyond first
    assert(out("u1_id") == ((5L, 2L, false)))
    // an all-clean table passes every rule
    val clean = Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("id", "status", "score")
    val ok = Quality.expectationsAudit(clean, Seq(
        NotNull("n1", "id"), InRange("r1", "score", 0.0, 100.0),
        Unique("u1", Seq("id"))))
      .collect()
    graft.CacheScope.releaseAll()
    assert(ok.forall(_.getAs[Boolean]("pass")))
    assert(ok.forall(_.getAs[Long]("n_violations") == 0L))
  }

  test("minDetectableEffect: constant metric gives MDE 0; hand-replayed " +
      "variance and MDE for a two-value metric") {
    import spark.implicits._
    val users = (1L to 40L).toSeq
    // segment s1: constant value; segment s2: alternating 0/2 by user id
    val rows = users.flatMap { u =>
      Seq(("s1", u, 5.0), ("s2", u, if (u % 2 == 0) 2.0 else 0.0))
    }.toDF("seg", "user_id", "v")
    val out = Quality.minDetectableEffect(rows, "seg", "user_id", "v", "mde-spec")
      .collect().map(r => r.getAs[String]("segment") -> r).toMap
    graft.CacheScope.releaseAll()
    def armA(u: Long): Boolean =
      graft.functions.Hashing.h60Local(s"mde-spec:$u") % 2 == 0
    val nA = users.count(armA).toLong
    assert(out("s1").getAs[Long]("n_a") == nA)
    assert(out("s1").getAs[Double]("pooled_var") == 0.0)
    assert(out("s1").getAs[Double]("mde_abs") == 0.0)
    // s2: half the values 0, half 2 -> population variance exactly 1
    val v2 = out("s2").getAs[Double]("pooled_var")
    assert(v2 == 1.0, s"pooled_var $v2")
    val expMde = 2.8015852181129688 *
      math.sqrt(1.0 * (1.0 / nA + 1.0 / (40L - nA)))
    assert(out("s2").getAs[Double]("mde_abs") == expMde)
  }

  test("momentsByGroup: Bernoulli fixture matches the closed-form " +
      "skewness/kurtosis; symmetric data skew-free; constant degenerates") {
    import spark.implicits._
    val df = (Seq.fill(3)(0.0) ++ Seq(1.0)).map(("bern", _)) ++
      Seq(1.0, 2.0, 3.0).map(("sym", _)) ++ Seq.fill(4)(("const", 5.0))
    val out = Quality.momentsByGroup(df.toDF("g", "v"), "g", "v")
      .collect().map(r => r.getAs[String]("group") -> r).toMap
    graft.CacheScope.releaseAll()
    // Bernoulli(p = 1/4): g1 = (1-2p)/sqrt(p(1-p)), g2 = (1-6p(1-p))/(p(1-p))
    val b = out("bern")
    assert(b.getAs[Long]("n") == 4L)
    assert(b.getAs[Double]("mean") == 0.25)
    assert(b.getAs[Double]("variance") == 0.1875)
    assert(math.abs(b.getAs[Double]("skewness") - 0.5 / math.sqrt(0.1875)) < 1e-12)
    assert(math.abs(b.getAs[Double]("kurtosis_excess") - (-2.0 / 3.0)) < 1e-12)
    // symmetric: third central moment exactly zero
    assert(out("sym").getAs[Double]("skewness") == 0.0)
    // constant: m2 = 0 -> ratios null
    assert(out("const").isNullAt(out("const").fieldIndex("skewness")))
    assert(out("const").isNullAt(out("const").fieldIndex("kurtosis_excess")))
  }

  test("bhFdr: full driver replay of z, A&S p, ranks and the step-up " +
      "cut; degenerate segment ranks last and never passes") {
    import spark.implicits._
    val users = (1L to 60L).toSeq
    def armA(u: Long): Boolean =
      graft.functions.Hashing.h60Local(s"bh-spec:$u") % 2 == 0
    def s1v(u: Long): Double =
      (if (armA(u)) 10.0 else 30.0) + (u % 3).toDouble // effect + jitter
    val rows = users.flatMap { u =>
      Seq(("s1", u, s1v(u)), // strong planted effect
        ("s2", u, (u % 5).toDouble), // arm-independent noise
        ("s3", u, 7.0)) // constant: z undefined
    }.toDF("seg", "user_id", "v")
    val out = Quality.bhFdr(rows, "seg", "user_id", "v", "bh-spec")
      .collect()
      .map(r => (r.getAs[String]("segment"), r.getAs[Long]("n_a"),
        Option(r.get(r.fieldIndex("z"))).map(_.asInstanceOf[Double]),
        Option(r.get(r.fieldIndex("p_micro"))).map(_.asInstanceOf[Long]),
        r.getAs[Long]("rank"), r.getAs[Boolean]("significant")))
    graft.CacheScope.releaseAll()
    // independent replay (same exact moments, same pinned sequence)
    def replay(vals: Seq[(Long, Double)]): Option[(Double, Long)] = {
      val a = vals.filter(t => armA(t._1)).map(t => math.round(t._2 * 1e6))
      val b = vals.filterNot(t => armA(t._1)).map(t => math.round(t._2 * 1e6))
      val (na, nb) = (a.length.toDouble, b.length.toDouble)
      val (sa, sb) = (a.sum.toDouble, b.sum.toDouble)
      val qa = a.map(v => BigDecimal(v) * BigDecimal(v)).sum.toDouble
      val qb = b.map(v => BigDecimal(v) * BigDecimal(v)).sum.toDouble
      val ma = sa / na / 1e6; val mb = sb / nb / 1e6
      val va = (na * qa - sa * sa) / (na * na) / 1e12
      val vb = (nb * qb - sb * sb) / (nb * nb) / 1e12
      val se = math.sqrt(va / na + vb / nb)
      if (!(na > 0 && nb > 0 && se > 0)) None
      else {
        val z = (ma - mb) / se
        val az = math.abs(z)
        val kk = 1.0 / (1.0 + 0.2316419 * az)
        val poly = ((((1.330274429 * kk + -1.821255978) * kk
          + 1.781477937) * kk + -0.356563782) * kk + 0.319381530) * kk
        val p = 2.0 * 0.3989422804014327 * math.exp(-0.5 * az * az) * poly
        Some((z, math.round(p * 1e6)))
      }
    }
    val exp = Map(
      "s1" -> replay(users.map(u => u -> s1v(u))),
      "s2" -> replay(users.map(u => u -> (u % 5).toDouble)),
      "s3" -> replay(users.map(u => u -> 7.0)))
    assert(exp("s3").isEmpty)
    val byName = out.map(t => t._1 -> t).toMap
    assert(byName("s1")._3.get == exp("s1").get._1)
    assert(byName("s1")._4.get == exp("s1").get._2)
    assert(byName("s2")._4.get == exp("s2").get._2)
    assert(byName("s3")._3.isEmpty && byName("s3")._4.isEmpty)
    // strong effect: p ~ 0 -> rank 1 and significant; degenerate ranks
    // last and never significant
    assert(byName("s1")._5 == 1L && byName("s1")._6)
    assert(byName("s3")._5 == 3L && !byName("s3")._6)
    // step-up: s2's verdict replays the integer rule with m = 3
    val s2Pass = exp("s2").get._2 * 3 <= byName("s2")._5 * 50000
    val iStar = Seq(
      (1L, exp("s1").get._2 * 3 <= 1L * 50000),
      (byName("s2")._5, s2Pass)).filter(_._2).map(_._1)
      .foldLeft(0L)(math.max)
    assert(byName("s2")._6 == (byName("s2")._5 <= iStar))
  }

  test("expectationsQuarantine: violating rows tagged with every broken " +
      "rule in rule order; clean rows absent") {
    import spark.implicits._
    import Quality.Expectation._
    val df = Seq(
      (1L, Some("A"), Some(10.0)), // clean
      (2L, Some("Z"), Some(200.0)), // bad status + out of range
      (3L, None, Some(50.0)), // null status
      (4L, Some("B"), None) // null score skips the range rule -> clean
    ).toDF("id", "status", "score")
    val out = Quality.expectationsQuarantine(df, "id", Seq(
        NotNull("n_status", "status"),
        InRange("r_score", "score", 0.0, 100.0),
        InSet("s_status", "status", Seq("A", "B"))))
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("violated_rules"),
        r.getAs[Long]("n_violated")))
    assert(out.toSeq == Seq(
      (2L, "r_score,s_status", 2L),
      (3L, "n_status", 1L)))
  }

  test("kruskalWallis: doubled midranks, floor rank-square quotients, " +
      "tie correction on a hand example") {
    import spark.implicits._
    // values: a={1,2}, b={3,4}, c={2} → grid t=[1,2,1,1],
    // doubled midranks r2=[2,5,8,10]; 2R_a=7, 2R_b=18, 2R_c=5
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0), ("c", 2.0))
      .toDF("g", "v")
    val r = Quality.kruskalWallis(df, "g", "v").collect().head
    assert(r.getAs[Long]("k") == 3L && r.getAs[Long]("n") == 5L)
    // sum_q = 49 div 8 + 324 div 8 + 25 div 4 = 6 + 40 + 6
    assert(r.getAs[Long]("sum_q") == 52L)
    assert(r.getAs[Long]("tie_cubes") == 6L) // one pair of ties: 2³−2
    val h = (12.0 * 52.0 / (5.0 * 6.0) - 3.0 * 6.0) /
      (1.0 - 6.0 / (5.0 * 5.0 * 5.0 - 5.0))
    assert(r.getAs[Double]("h") == h)
  }

  test("kruskalWallis: degenerate inputs null out h") {
    import spark.implicits._
    // all values tied → tie_cubes = n³−n → h null
    val tied = Seq(("a", 1.0), ("a", 1.0), ("b", 1.0)).toDF("g", "v")
    assert(Quality.kruskalWallis(tied, "g", "v")
      .collect().head.isNullAt(4))
    // single group → h null
    val one = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0)).toDF("g", "v")
    assert(Quality.kruskalWallis(one, "g", "v").collect().head.isNullAt(4))
  }

  test("mcnemar: discordant cells and the continuity-corrected statistic") {
    import spark.implicits._
    val df = (Seq((true, true)) ++ Seq.fill(3)((true, false)) ++
      Seq((false, true)) ++ Seq((false, false))).toDF("a", "b")
    val r = Quality.mcnemar(df, "a", "b").collect().head
    assert((r.getAs[Long]("n11"), r.getAs[Long]("n10"),
      r.getAs[Long]("n01"), r.getAs[Long]("n00")) == ((1L, 3L, 1L, 1L)))
    // (|3−1|−1)² / 4
    assert(r.getAs[Double]("chi2_cc") == 0.25)
  }

  test("mcnemar: tied discordants floor at zero; none → null") {
    import spark.implicits._
    val tied = Seq((true, false), (false, true)).toDF("a", "b")
    assert(Quality.mcnemar(tied, "a", "b").collect().head
      .getAs[Double]("chi2_cc") == 0.0)
    val concordant = Seq((true, true), (false, false)).toDF("a", "b")
    assert(Quality.mcnemar(concordant, "a", "b").collect().head.isNullAt(4))
  }

  test("mantelHaenszel: per-stratum micro terms, pooled OR, and the " +
      "continuity-corrected chi-square on a two-stratum hand example") {
    import spark.implicits._
    def stratum(st: String, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((st, true, true)) ++ Seq.fill(b)((st, true, false)) ++
        Seq.fill(c)((st, false, true)) ++ Seq.fill(d)((st, false, false))
    // s1: 2/1/1/2 (n=6), s2: 3/1/1/3 (n=8)
    val df = (stratum("s1", 2, 1, 1, 2) ++ stratum("s2", 3, 1, 1, 3))
      .toDF("st", "e", "o")
    val r = Quality.mantelHaenszel(df, "st", col("e"), col("o"))
      .collect().head
    assert(r.getAs[Long]("k_strata") == 2L)
    assert(r.getAs[Long]("n_total") == 14L)
    assert(r.getAs[Long]("sum_a") == 5L)
    // ad/n: 4/6→666667, 9/8→1125000; bc/n: 1/6→166667, 1/8→125000
    assert(r.getAs[Long]("sum_ad_micro") == 1791667L)
    assert(r.getAs[Long]("sum_bc_micro") == 291667L)
    // (a+b)(a+c)/n: 9/6→1500000, 16/8→2000000
    assert(r.getAs[Long]("sum_ea_micro") == 3500000L)
    // var: 81/180→450000, 256/448→571429
    assert(r.getAs[Long]("sum_var_micro") == 1021429L)
    assert(r.getAs[Double]("or_mh") == 1791667.0 / 291667.0)
    // dev = |5·10⁶ − 3.5·10⁶| − 5·10⁵ = 10⁶
    assert(r.getAs[Double]("chi2_mh") ==
      1000000.0 * 1000000.0 / (1e6 * 1021429.0))
  }

  test("woeIv: per-bin WoE/IV micro values; zero cells null out and " +
      "are excluded from the total") {
    import spark.implicits._
    val df = (Seq.fill(3)(("A", true)) ++ Seq(("A", false)) ++
      Seq(("B", true)) ++ Seq.fill(3)(("B", false)) ++
      Seq.fill(2)(("C", true))).toDF("bin", "y")
    val out = Quality.woeIv(df, "bin", col("y")).collect()
    val m = out.map(r => r.getAs[String]("bin") -> r).toMap
    // totals: tp=6, tn=4
    def woe(pos: Long, neg: Long): Long =
      math.round(math.log(pos.toDouble * 4.0) * 1e6) -
        math.round(math.log(neg.toDouble * 6.0) * 1e6)
    def iv(pos: Long, neg: Long): Long =
      math.round((pos.toDouble / 6.0 - neg.toDouble / 4.0) *
        woe(pos, neg).toDouble)
    assert(m("A").getAs[Long]("woe_micro") == woe(3, 1))
    assert(m("A").getAs[Long]("iv_micro") == iv(3, 1))
    assert(m("B").getAs[Long]("woe_micro") == woe(1, 3))
    assert(m("B").getAs[Long]("iv_micro") == iv(1, 3))
    assert(m("C").isNullAt(3) && m("C").isNullAt(4))
    assert(out.forall(_.getAs[Long]("iv_total_micro") ==
      iv(3, 1) + iv(1, 3)))
    assert(out.map(_.getAs[String]("bin")).toSeq == Seq("A", "B", "C"))
  }

  test("approxQuantileContract: the sketch's rank guarantee holds on a " +
      "uniform grid and under heavy ties") {
    import spark.implicits._
    val uniform = (1 to 1000).map(_.toDouble).toDF("v")
    val out = Quality.approxQuantileContract(uniform, "v",
      Seq(0.25, 0.5, 0.9), accuracy = 1000).collect()
    assert(out.map(_.getAs[Long]("q_micro")).toSeq ==
      Seq(250000L, 500000L, 900000L))
    assert(out.forall(_.getAs[Long]("n") == 1000L))
    assert(out.forall(_.getAs[Boolean]("within_bound")),
      "sketch rank guarantee violated on the uniform grid")
    // a massive tie block: the returned value's rank INTERVAL spans the
    // tie mass, so the overlap check must still pass
    val tied = (Seq.fill(500)(7.0) ++ (1 to 500).map(_.toDouble))
      .toDF("v")
    val t = Quality.approxQuantileContract(tied, "v",
      Seq(0.5), accuracy = 100).collect()
    assert(t.length == 1 && t.head.getAs[Boolean]("within_bound"))
  }

  test("woeIv: an all-positive target nulls every WoE and zeroes the " +
      "total instead of dividing by zero") {
    import spark.implicits._
    val df = Seq(("A", true), ("A", true), ("B", true)).toDF("bin", "y")
    val out = Quality.woeIv(df, "bin", col("y")).collect()
    assert(out.length == 2)
    assert(out.forall(r => r.isNullAt(3) && r.isNullAt(4)))
    assert(out.forall(_.getAs[Long]("iv_total_micro") == 0L))
  }

  test("cochranArmitage: a single category has zero score variance -> " +
      "null z, exact sums intact") {
    import spark.implicits._
    val df = Seq((2L, true), (2L, false), (2L, true)).toDF("s", "y")
    val r = Quality.cochranArmitage(df, "s", col("y")).collect().head
    assert(r.getAs[Long]("k") == 1L && r.getAs[Long]("n") == 3L &&
      r.getAs[Long]("r") == 2L)
    // N·Σs²n − (Σsn)² = 3·12 − 36 = 0 → degenerate
    assert(r.isNullAt(6))
  }

  test("madOutliers: exact medians, fence, and count on a hand fixture") {
    import spark.implicits._
    // values 1..9 plus a wild outlier: median 5.5? no — lower median of
    // 10 values is the 5th smallest = 5; deviations |x−5| = 4,3,2,1,0,
    // 1,2,3,4,995 → lower median of deviations = 2
    val df = ((1 to 9).map(_.toDouble) :+ 1000.0).toDF("v")
    val r = Quality.madOutliers(df, "v").collect().head
    assert(r.getAs[Long]("n") == 10L)
    assert(r.getAs[Long]("median_micro") == 5000000L)
    assert(r.getAs[Long]("mad_micro") == 2000000L)
    // fence = (3·14826·2·10⁶) div 10⁴ = 8895600 micro ≈ 8.9 units
    assert(r.getAs[Long]("threshold_micro") == 8895600L)
    // only the planted 1000.0 sits beyond median ± 8.9
    assert(r.getAs[Long]("n_outliers") == 1L)
    // constant column: MAD 0, threshold 0, no outliers
    val const = Seq.fill(5)(3.0).toDF("v")
    val c = Quality.madOutliers(const, "v").collect().head
    assert(c.getAs[Long]("mad_micro") == 0L &&
      c.getAs[Long]("n_outliers") == 0L)
  }

  test("cochranArmitage: exact sums and the pinned z on a hand trend") {
    import spark.implicits._
    // tiers 1/2/3, 4 rows each, positives 1/2/3 — a clean rising trend
    val rows = (1 to 3).flatMap(s =>
      (1 to 4).map(i => (s.toLong, i <= s)))
    val df = rows.toDF("s", "y")
    val r = Quality.cochranArmitage(df, "s", col("y")).collect().head
    assert(r.getAs[Long]("k") == 3L && r.getAs[Long]("n") == 12L &&
      r.getAs[Long]("r") == 6L)
    assert(r.getAs[Long]("sum_sr") == 14L)  // 1·1 + 2·2 + 3·3
    assert(r.getAs[Long]("sum_sn") == 24L)  // (1+2+3)·4
    assert(r.getAs[Long]("sum_s2n") == 56L) // (1+4+9)·4
    // T·N = 12·14 − 6·24 = 24; N·Σs²n − (Σsn)² = 96; R(N−R) = 36
    assert(r.getAs[Double]("z") ==
      24.0 * math.sqrt(12.0) / math.sqrt(36.0 * 96.0))
    // degenerate outcome (all positive) → z null
    val allPos = (1 to 3).map(s => (s.toLong, true)).toDF("s", "y")
    assert(Quality.cochranArmitage(allPos, "s", col("y"))
      .collect().head.isNullAt(6))
  }

  test("huberLocation: integer IRLS replayed exactly; outlier pulled in") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0, 100.0).toDF("v")
    val k = 1000000L // k = 1 value unit on the micro grid
    val r = Quality.huberLocation(df, "v", k, iters = 3).collect().head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Long]("mu_0") == 2000000L) // exact lower median
    // independent integer replay of the IRLS recurrence
    val xs = Seq(1000000L, 2000000L, 3000000L, 100000000L)
    var mu = 2000000L
    val expected = (1 to 3).map { _ =>
      val ws = xs.map { x =>
        val d = math.abs(x - mu)
        if (d <= k) 1000000L else (k * 1000000L) / d
      }
      mu = (xs.zip(ws).map { case (x, w) => BigInt(w) * x }.sum /
        ws.map(BigInt(_)).sum).toLong
      mu
    }
    assert((1 to 3).map(j => r.getAs[Long](s"mu_$j")) == expected)
    // the Huber location resists the 100x outlier: stays near the bulk
    assert(r.getAs[Long]("mu_3") < 4000000L)
    // and it sits ABOVE the median (the outlier still has bounded pull)
    assert(r.getAs[Long]("mu_3") > 2000000L)
  }

  test("leveneBrownForsythe: hand medians, exact SS sums, and the " +
      "pinned W on a two-group fixture") {
    import spark.implicits._
    // a: 1,2,3,4 (med 2, z = 1,0,1,2) — b: 10,20,30,40 (med 20,
    // z = 10,0,10,20): z̄_a = 1, z̄_b = 10, z̄ = 5.5 →
    // between = 4·4.5² ·2 = 162; within = 2 + 200 = 202
    val df = (Seq(1.0, 2.0, 3.0, 4.0).map(("a", _)) ++
      Seq(10.0, 20.0, 30.0, 40.0).map(("b", _))).toDF("g", "v")
    val r = Quality.leveneBrownForsythe(df, "g", "v").collect().head
    assert(r.getAs[Long]("n") == 8L && r.getAs[Long]("k") == 2L)
    assert(r.getAs[Long]("between_sum") == 162L)
    assert(r.getAs[Long]("within_sum") == 202L)
    assert(r.getAs[Long]("df1") == 1L && r.getAs[Long]("df2") == 6L)
    assert(r.getAs[Double]("w_stat") == 6.0 / 1.0 * 162.0 / 202.0)
    // one group only: k = 1 → W null (no between-group df)
    val one = Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v")
    val o = Quality.leveneBrownForsythe(one, "g", "v").collect().head
    assert(o.getAs[Long]("k") == 1L && o.isNullAt(6))
  }

  test("jarqueBera: symmetric fixture has zero skew, hand kurtosis, " +
      "closed-form p; constant group nulls out") {
    import spark.implicits._
    // g1 = {−1, 0, 1}: m2 = 2/3, m4 = 2/3 → excess = −1.5, skew = 0,
    // JB = 3·(0 + 2.25/24) = 0.28125, p = exp(−JB/2)
    val df = (Seq(-1.0, 0.0, 1.0).map(("g1", _)) ++
      Seq.fill(4)(("g2", 7.0))).toDF("g", "v")
    val rows = Quality.jarqueBera(df, "g", "v").collect()
    val g1 = rows.find(_.getString(0) == "g1").get
    assert(g1.getAs[Long]("n") == 3L)
    assert(g1.getAs[Double]("skewness") == 0.0)
    assert(g1.getAs[Double]("kurtosis_excess") == -1.5)
    assert(g1.getAs[Double]("jb") == 0.28125)
    assert(g1.getAs[Long]("p_micro") ==
      math.round(math.exp(-0.5 * 0.28125) * 1e6))
    // constant group: m2 = 0 → every statistic null
    val g2 = rows.find(_.getString(0) == "g2").get
    assert(g2.isNullAt(2) && g2.isNullAt(3) && g2.isNullAt(4) &&
      g2.isNullAt(5))
  }

  test("brierDecomposition: hand two-bin fixture — identity holds with " +
      "zero within-bin variance") {
    import spark.implicits._
    // bins of two: (0.25, FTT…) — all forecasts within a bin equal, so
    // brier = rel − res + unc exactly and within_var = 0
    val df = Seq((250000L, false), (250000L, true),
      (750000L, true), (750000L, true)).toDF("p", "y")
    val r = Quality.brierDecomposition(df, col("y"), col("p"), 2)
      .collect().head
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("k_pos") == 3L)
    assert(r.getAs[Double]("brier") == 0.1875)
    assert(r.getAs[Double]("reliability") == 0.0625)
    assert(r.getAs[Double]("resolution") == 0.0625)
    assert(r.getAs[Double]("uncertainty") == 0.1875)
    assert(r.getAs[Double]("within_var") == 0.0)
  }

  test("effectSizes: hand two-group fixture — pooled d, Hedges J, " +
      "Glass delta; singleton group nulls out") {
    import spark.implicits._
    // a: 1,2,3 (mean 2, var 1) — b: 2,4,6 (mean 4, var 4):
    // pooled = 2.5, d = −2/√2.5, J = 1 − 3/15 = 0.8, Δ = −2/1
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(2.0, 4.0, 6.0).map(("b", _)) :+ ("c", 9.0)).toDF("g", "v")
    val rows = Quality.effectSizes(df, "g", "v").collect()
    assert(rows.length == 3) // (a,b) (a,c) (b,c)
    val ab = rows.find(x => x.getString(0) == "a" && x.getString(1) == "b").get
    assert(ab.getAs[Long]("n_a") == 3L && ab.getAs[Long]("n_b") == 3L)
    assert(ab.getAs[Double]("mean_a") == 2.0 &&
      ab.getAs[Double]("mean_b") == 4.0)
    val d = -2.0 / math.sqrt(2.5)
    assert(ab.getAs[Double]("cohens_d") == d)
    assert(ab.getAs[Double]("hedges_g") == (1.0 - 3.0 / 15.0) * d)
    assert(ab.getAs[Double]("glass_delta") == -2.0)
    // c is a singleton: every standardized size against it is null
    val ac = rows.find(x => x.getString(0) == "a" && x.getString(1) == "c").get
    assert(ac.isNullAt(6) && ac.isNullAt(7) && ac.isNullAt(8))
  }

  test("cronbachAlpha: two identical items are perfectly reliable; " +
      "cancelling items null out on zero total variance") {
    import spark.implicits._
    // i2 = i1 → Σσ²ᵢ = 2v, σ²_total = 4v → α = 2·(1 − 1/2) = 1 exactly
    // (the 4v doubling is a power-of-2 scale, so the doubles agree)
    val df = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0)).toDF("i1", "i2")
    val r = Quality.cronbachAlpha(df, Seq("i1", "i2")).collect().head
    assert(r.getAs[Long]("n") == 3L && r.getAs[Long]("k") == 2L)
    assert(r.getAs[Double]("alpha") == 1.0)
    // i2 = −i1: the composite is constant → total_var = 0 → α null
    val anti = Seq((1.0, -1.0), (2.0, -2.0), (3.0, -3.0)).toDF("i1", "i2")
    val a = Quality.cronbachAlpha(anti, Seq("i1", "i2")).collect().head
    assert(a.getAs[Double]("total_var") == 0.0 && a.isNullAt(4))
  }

  test("partialCorrelation: controlling for a copy of x degenerates; " +
      "hand moments replay the pinned formula") {
    import spark.implicits._
    // z = x → r_xz = 1 → the partial is undefined (guarded null)
    val copy = Seq((1.0, 2.0, 1.0), (2.0, 1.0, 2.0), (3.0, 4.0, 3.0),
      (4.0, 3.0, 4.0)).toDF("x", "y", "z")
    val c = Quality.partialCorrelation(copy, "x", "y", "z").collect().head
    assert(c.getAs[Double]("r_xz") == 1.0 && c.isNullAt(4))
    // generic fixture: replay the exact-moment IEEE chain in the test
    val df = Seq((1.0, 2.0, 1.0), (2.0, 1.0, 1.0), (3.0, 4.0, 2.0),
      (4.0, 3.0, 3.0)).toDF("x", "y", "z")
    val r = Quality.partialCorrelation(df, "x", "y", "z").collect().head
    val (xs, ys, zs) = (Seq(1L, 2L, 3L, 4L).map(_ * 1000000L),
      Seq(2L, 1L, 4L, 3L).map(_ * 1000000L),
      Seq(1L, 1L, 2L, 3L).map(_ * 1000000L))
    val n = 4.0
    def s(v: Seq[Long]) = v.sum.toDouble
    def sq(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (p, q) => BigInt(p) * BigInt(q) }.sum.toDouble
    def cov(ab: Double, a: Double, b: Double) = n * ab - a * b
    val cxy = cov(sq(xs, ys), s(xs), s(ys))
    val cxz = cov(sq(xs, zs), s(xs), s(zs))
    val cyz = cov(sq(ys, zs), s(ys), s(zs))
    val cxx = cov(sq(xs, xs), s(xs), s(xs))
    val cyy = cov(sq(ys, ys), s(ys), s(ys))
    val czz = cov(sq(zs, zs), s(zs), s(zs))
    val rxy = cxy / math.sqrt(cxx * cyy)
    val rxz = cxz / math.sqrt(cxx * czz)
    val ryz = cyz / math.sqrt(cyy * czz)
    assert(r.getAs[Double]("r_xy") == rxy)
    assert(r.getAs[Double]("r_xy_given_z") ==
      (rxy - rxz * ryz) /
        math.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)))
  }

  test("hllIntersection: exact pairwise overlaps and the compounded " +
      "bound on a hand fixture") {
    import spark.implicits._
    // a: {1..4}, b: {3..6}, c: {10} — overlaps (a,b) = 2, others 0
    val df = ((1L to 4L).map(("a", _)) ++ (3L to 6L).map(("b", _)) :+
      ("c", 10L)).toDF("g", "u")
    val out = Sketches.hllIntersection(df, "g", "u").collect()
    assert(out.length == 3)
    val ab = out.find(r => r.getString(0) == "a" && r.getString(1) == "b").get
    assert(ab.getAs[Long]("exact_a") == 4L &&
      ab.getAs[Long]("exact_b") == 4L &&
      ab.getAs[Long]("exact_inter") == 2L)
    // tiny cardinalities sit far inside the ±5%+slack compound budget
    assert(out.forall(_.getAs[Boolean]("bound_ok")))
    val ac = out.find(r => r.getString(0) == "a" && r.getString(1) == "c").get
    assert(ac.getAs[Long]("exact_inter") == 0L)
  }

  test("msprt: full driver replay of the mixture LR p-value; constant " +
      "segment nulls out on zero standard error") {
    import spark.implicits._
    val users = (1L to 60L).toSeq
    def armA(u: Long): Boolean =
      graft.functions.Hashing.h60Local(s"sprt-spec:$u") % 2 == 0
    def v1(u: Long): Double =
      (if (armA(u)) 10.0 else 30.0) + (u % 3).toDouble
    val rows = users.flatMap { u =>
      Seq(("s1", u, v1(u)), ("s2", u, 7.0))
    }.toDF("seg", "user_id", "v")
    val out = Quality.msprt(rows, "seg", "user_id", "v", "sprt-spec",
      tauSq = 0.25).collect()
    val s1 = out.find(_.getString(0) == "s1").get
    // independent replay: exact micro moments, pinned IEEE sequence
    val a = users.filter(armA).map(u => math.round(v1(u) * 1e6))
    val b = users.filterNot(armA).map(u => math.round(v1(u) * 1e6))
    val (na, nb) = (a.length.toDouble, b.length.toDouble)
    def s(x: Seq[Long]) = x.map(BigInt(_)).sum.toDouble
    def q(x: Seq[Long]) = x.map(v => BigInt(v) * BigInt(v)).sum.toDouble
    val ma = s(a) / na / 1e6
    val mb = s(b) / nb / 1e6
    val va = (na * q(a) - s(a) * s(a)) / (na * na) / 1e12
    val vb = (nb * q(b) - s(b) * s(b)) / (nb * nb) / 1e12
    val se2 = va / na + vb / nb
    val delta = ma - mb
    val lam = math.sqrt(se2 / (se2 + 0.25)) *
      math.exp(delta * delta * 0.25 / (2.0 * se2 * (se2 + 0.25)))
    val p = math.min(1.0, 1.0 / lam)
    assert(s1.getAs[Long]("n_a") == a.length.toLong)
    assert(s1.getAs[Double]("delta") == delta)
    assert(s1.getAs[Long]("p_micro") == math.round(p * 1e6))
    // a 20-unit planted shift on ~60 users: decisively significant
    assert(s1.getAs[Boolean]("significant"))
    // constant segment: se2 = 0 → p undefined, never significant
    val s2 = out.find(_.getString(0) == "s2").get
    assert(s2.isNullAt(3) && s2.isNullAt(4) && s2.isNullAt(5))
  }

  test("slidingDistinct: hand 3-day windows union trailing users; " +
      "sketch bound holds on tiny cardinalities") {
    import spark.implicits._
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")
    // day1: {1,2}; day2: {2,3}; day4: {9}
    val df = Seq((ts(1), 1L), (ts(1), 2L), (ts(2), 2L), (ts(2), 3L),
      (ts(4), 9L)).toDF("ts", "u")
    val out = Sketches.slidingDistinct(df, "ts", "u", 3).collect()
      .map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // observed days only; 3-day windows: d1 {1,2}; d2 {1,2,3};
    // d4 {2,3,9} (d2's users still inside [d2, d4])
    assert(out.keySet == Set("2024-01-01", "2024-01-02", "2024-01-04"))
    assert(out("2024-01-01") == ((2L, 2L, true)))
    assert(out("2024-01-02") == ((2L, 3L, true)))
    assert(out("2024-01-04") == ((1L, 3L, true)))
  }

  test("effectiveSampleSize: equal weights give ESS = n; a dominating " +
      "weight collapses ESS toward 1") {
    import spark.implicits._
    // equal log-weights: w = 1e6 each → ESS = (4e6)²/(4e12) = 4 = n
    val eq = Seq(5L, 5L, 5L, 5L).toDF("lw")
    val r = Sampling.effectiveSampleSize(eq, "lw").collect().head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("ess") == 4.0 &&
      r.getAs[Double]("ess_ratio") == 1.0)
    // one weight e^20 above the rest: stabilized others round to 0
    val dom = Seq(20000000L, 0L, 0L, 0L).toDF("lw")
    val d = Sampling.effectiveSampleSize(dom, "lw").collect().head
    assert(d.getAs[Long]("max_logw_micro") == 20000000L)
    assert(d.getAs[Double]("ess") == 1.0)
  }

  test("conversionZTest: full driver replay of counts, pooled z, and " +
      "the A&S p on hashed-arm conversion") {
    import spark.implicits._
    val users = (1L to 80L).toSeq
    def armA(u: Long): Boolean =
      graft.functions.Hashing.h60Local(s"tp-spec:$u") % 2 == 0
    // arm A converts when u % 2 == 0, arm B when u % 8 == 0 — a real gap
    def conv(u: Long): Boolean =
      if (armA(u)) u % 2 == 0 else u % 8 == 0
    val rows = users.flatMap { u =>
      Seq((u, "view", 1.0)) ++
        (if (conv(u)) Seq((u, "purchase", 1.0)) else Nil)
    }.toDF("user_id", "event_type", "v")
    val r = Quality.conversionZTest(rows, "user_id", "tp-spec",
      col("event_type") === "purchase").collect().head
    val a = users.filter(armA)
    val b = users.filterNot(armA)
    val (na, nb) = (a.length.toDouble, b.length.toDouble)
    val (ka, kb) = (a.count(conv).toDouble, b.count(conv).toDouble)
    assert(r.getAs[Long]("n_a") == a.length.toLong &&
      r.getAs[Long]("k_a") == a.count(conv).toLong)
    val pp = (ka + kb) / (na + nb)
    val se = math.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
    val z = (ka / na - kb / nb) / se
    assert(r.getAs[Double]("z") == z)
    val az = math.abs(z)
    val kk = 1.0 / (1.0 + 0.2316419 * az)
    val poly = ((((1.330274429 * kk + -1.821255978) * kk + 1.781477937) * kk
      + -0.356563782) * kk + 0.319381530) * kk
    val p = 2.0 * 0.3989422804014327 * math.exp(-0.5 * az * az) * poly
    assert(r.getAs[Long]("p_micro") == math.round(p * 1e6))
  }

  test("covariateBalance: the planted arm-keyed shift flags imbalanced, " +
      "the arm-independent covariate sits far below it, flags track smd") {
    import spark.implicits._
    def armA(u: Long): Boolean =
      graft.functions.Hashing.h60Local(s"cb-spec:$u") % 2 == 0
    val units = (1L to 2000L).toSeq
    val rows = units.map { u =>
      // cv_ok: same generator in both arms (only hash-sampling noise);
      // cv_bad: 10 units higher in arm A against a ~2-unit sd
      (u, (u % 7).toDouble, (u % 7).toDouble +
        (if (armA(u)) 10.0 else 0.0))
    }.toDF("u", "cv_ok", "cv_bad")
    val out = Quality.covariateBalance(rows, "u", "cb-spec",
      Seq("cv_bad", "cv_ok")).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("cv_bad", "cv_ok"))
    val bad = out(0); val ok = out(1)
    // the flag IS the |smd| <= 0.1 verdict, row for row
    out.foreach { r =>
      assert(r.getAs[Boolean]("balanced") ==
        (math.abs(r.getAs[Double]("smd")) <= 0.1))
    }
    // hash-only noise at n=2000 sits an order below the planted shift
    assert(math.abs(ok.getAs[Double]("smd")) <
      bad.getAs[Double]("smd") / 10.0)
    assert(!bad.getAs[Boolean]("balanced"))
    assert(bad.getAs[Double]("smd") > 3.0)
  }

  test("deltaMethodRatioCI: full replay of the Taylor chain on a hand " +
      "fixture; constant denominator recovers the plain mean se") {
    import spark.implicits._
    val xs = Seq(10.0, 20.0, 30.0, 40.0)
    val ys = Seq(1.0, 2.0, 3.0, 2.0)
    val df = xs.zip(ys).toDF("x", "y")
    val r = Quality.deltaMethodRatioCI(df, "x", "y").collect().head
    // independent replay over the same exact micro moments
    val (xm, ym) = (xs.map(v => math.round(v * 1e6)),
      ys.map(v => math.round(v * 1e6)))
    val n = 4.0
    def s(v: Seq[Long]) = v.map(BigInt(_)).sum.toDouble
    def q2(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (p, w) => BigInt(p) * BigInt(w) }.sum.toDouble
    val vx = (n * q2(xm, xm) - s(xm) * s(xm)) / (n * (n - 1.0)) / 1e12
    val vy = (n * q2(ym, ym) - s(ym) * s(ym)) / (n * (n - 1.0)) / 1e12
    val cxy = (n * q2(xm, ym) - s(xm) * s(ym)) / (n * (n - 1.0)) / 1e12
    val my = s(ym) / n / 1e6
    val rr = s(xm) / s(ym)
    val se = math.sqrt((vx - 2.0 * rr * cxy + rr * rr * vy) / (n * my * my))
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("ratio") == rr)
    assert(r.getAs[Double]("se") == se)
    assert(r.getAs[Double]("ci_lo") == rr - 1.959964 * se)
    // y ≡ 1: the ratio is the mean and se reduces to sqrt(vx/n)
    val unit = xs.map((_, 1.0)).toDF("x", "y")
    val u = Quality.deltaMethodRatioCI(unit, "x", "y").collect().head
    assert(u.getAs[Double]("ratio") == xs.sum / 4.0)
    assert(math.abs(u.getAs[Double]("se") -
      math.sqrt(vx / 4.0)) < 1e-9)
  }

  test("jackknifeRatio: two-bucket hand case replays theta deviations; " +
      "se agrees with the closed two-bucket form") {
    import spark.implicits._
    // find two unit ids landing in different hash buckets (B = 2)
    def bkt(u: Long): Long = {
      val h = graft.functions.Hashing.h60Local(s"jk-spec:$u")
      ((h % 2) + 2) % 2
    }
    val u0 = (1L to 50L).find(bkt(_) == 0L).get
    val u1 = (1L to 50L).find(bkt(_) == 1L).get
    val df = Seq((u0, 10.0, 1.0), (u1, 30.0, 2.0)).toDF("u", "x", "y")
    val r = Quality.jackknifeRatio(df, "u", "x", "y", "jk-spec", 2)
      .collect().head
    assert(r.getAs[Long]("n") == 2L && r.getAs[Long]("n_buckets") == 2L)
    assert(r.getAs[Double]("ratio") == 40e6 / 3e6)
    // θ₍₀₎ = 30/2 = 15, θ₍₁₎ = 10/1 = 10, θ̄ = 12.5 →
    // var = (1/2)·(2·2.5²) = 6.25, se = 2.5
    assert(r.getAs[Double]("se_jack") == 2.5)
  }

  test("quantileTreatmentEffects: ceil-rank deciles of two hand arms; " +
      "a constant offset shows as a flat QTE curve") {
    import spark.implicits._
    def armA(u: Long): Boolean =
      graft.functions.Hashing.h60Local(s"qte-spec:$u") % 2 == 0
    val units = (1L to 400L).toSeq
    // arm A ~ Uniform{1..10}+5, arm B ~ Uniform{1..10}: QTE ≡ 5 at
    // every decile once both arms see every value (u mod 10 cycles)
    val rows = units.map { u =>
      val v = (u % 10 + 1).toDouble
      (u, if (armA(u)) v + 5.0 else v)
    }.toDF("u", "v")
    val out = Quality.quantileTreatmentEffects(rows, "u", "v", "qte-spec")
      .collect()
    assert(out.map(_.getAs[Long]("decile")).toSeq == (1L to 9L))
    // independent replay: exact ceil-rank order statistics per arm
    val a = units.filter(armA).map(u => (u % 10 + 1 + 5) * 1000000L).sorted
    val b = units.filterNot(armA).map(u => (u % 10 + 1) * 1000000L).sorted
    out.foreach { r =>
      val k = r.getAs[Long]("decile").toInt
      val ra = math.max(1L, (k * a.length + 9) / 10)
      val rb = math.max(1L, (k * b.length + 9) / 10)
      assert(r.getAs[Long]("rank_a") == ra)
      assert(r.getAs[Long]("q_a_micro") == a((ra - 1).toInt))
      assert(r.getAs[Long]("q_b_micro") == b((rb - 1).toInt))
      assert(r.getAs[Long]("qte_micro") == a((ra - 1).toInt) - b((rb - 1).toInt))
      // the planted +5 shift dominates every decile (hash-sampling can
      // move a boundary by at most one 1-unit grid step)
      assert(math.abs(r.getAs[Long]("qte_micro") - 5000000L) <= 1000000L)
    }
  }

  test("miFeatureRanking: a perfectly predictive feature outranks an " +
      "uninformative one; constant feature scores zero MI") {
    import spark.implicits._
    val rows = (1L to 80L).map { i =>
      val t = i % 2 == 0
      // f_pred mirrors the target; f_flat is constant (one bin, MI 0)
      (if (t) 1.0 else 0.0, 3.0, t)
    }.toDF("f_pred", "f_flat", "t")
    val out = Quality.miFeatureRanking(rows, col("t"),
      Seq("f_flat", "f_pred"), 4).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("f_pred", "f_flat"))
    val pred = out(0); val flat = out(1)
    assert(flat.getAs[Long]("mi_micro_sum") == 0L)
    // perfect 2x2 diagonal, 40/40 split: each cell contributes
    // 40·(ln40 + lnN − ln40 − ln40) micro; MI = entropy of either
    // margin ⇒ nmi exactly 1 (h² < 2^53 so the sqrt is exact)
    val lnNm = math.round(math.log(80.0) * 1e6)
    val ln40m = math.round(math.log(40.0) * 1e6)
    assert(pred.getAs[Long]("mi_micro_sum") ==
      80L * (lnNm + ln40m - ln40m - ln40m))
    assert(pred.getAs[Double]("nmi") == 1.0)
  }

  test("holmBonferroni: step-down rule replayed on the emitted p's; a " +
      "degenerate segment ranks last and breaks nothing before it") {
    import spark.implicits._
    val users = (1L to 60L).toSeq
    def armA(u: Long): Boolean =
      graft.functions.Hashing.h60Local(s"holm-spec:$u") % 2 == 0
    val rows = users.flatMap { u =>
      Seq(
        ("s1", u, (if (armA(u)) 10.0 else 30.0) + (u % 3).toDouble),
        ("s2", u, (u % 5).toDouble), // arm-independent noise
        ("s3", u, 7.0)) // constant: p undefined → ranks last
    }.toDF("seg", "user_id", "v")
    val out = Quality.holmBonferroni(rows, "seg", "user_id", "v",
      "holm-spec").collect()
    assert(out.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
    // independent step-down replay on the emitted p's
    val m = out.length.toLong
    var chainOk = true
    out.sortBy(_.getAs[Long]("rank")).foreach { r =>
      val crit = Option(r.get(r.fieldIndex("p_micro")))
        .map(_.asInstanceOf[Long] * (m - r.getAs[Long]("rank") + 1))
      chainOk = chainOk && crit.exists(_ <= 50000L)
      assert(r.getAs[Boolean]("significant") == chainOk)
    }
    // the planted s1 effect is decisive; the null-p s3 is last and
    // never significant
    val s1 = out.find(_.getString(0) == "s1").get
    assert(s1.getAs[Long]("rank") == 1L && s1.getAs[Boolean]("significant"))
    val s3 = out.find(_.getString(0) == "s3").get
    assert(s3.getAs[Long]("rank") == 3L && !s3.getAs[Boolean]("significant"))
  }

  test("trimmedMean: exact rank trimming per group; a whale moves the " +
      "raw mean but not the trimmed one") {
    import spark.implicits._
    // group g: values 1..10 (n=10, 10% trim drops rank 1 and rank 10)
    val base = (1 to 10).map(i => ("g", i.toDouble)) :+ (("h", 5.0))
    val out = Quality.trimmedMean(base.toDF("grp", "v"), "grp", "v", 10)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_trim_each"),
          r.getAs[Long]("n_kept"), r.getAs[Double]("trimmed_mean"),
          r.getAs[Double]("raw_mean")))).toMap
    // kept 2..9: mean 5.5 (= raw mean here, symmetric data)
    assert(out("g") == ((10L, 1L, 8L, 5.5, 5.5)))
    assert(out("h") == ((1L, 0L, 1L, 5.0, 5.0)))
    // add a whale: raw mean jumps, trimmed mean must not
    val whale = base :+ (("g", 1e6))
    val w = Quality.trimmedMean(whale.toDF("grp", "v"), "grp", "v", 10)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("trimmed_mean"), r.getAs[Double]("raw_mean"))))
      .toMap
    // n=11, t=1: kept ranks 2..10 = values 2..10, mean 6.0
    assert(w("g")._1 == 6.0)
    assert(w("g")._2 > 90000.0) // the whale owns the raw mean
  }

  test("permutationTest: a decisive planted effect gets the minimal " +
      "add-one p; a constant column cannot be significant") {
    import spark.implicits._
    // per-unit values: make the OBSERVED hashed arms differ hugely by
    // constructing values FROM the arm assignment itself
    val units = (0 until 400).map(_.toString)
    def arm(u: String): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"px:$u".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 2 == 0
    }
    val planted = units.map(u => (u, if (arm(u)) 100.0 else 1.0))
      .toDF("u", "v")
    val out = Quality.permutationTest(planted, "u", "v", "px", 199)
      .collect().head
    // no hash replicate should reproduce an arm-aligned split: p = 1/200
    assert(out.getAs[Long]("n_units") == 400L)
    assert(out.getAs[Long]("p_micro") == 5000L)
    assert(out.getAs[Boolean]("significant"))
    // constant values: every replicate T is 0 micro = |T_obs| -> p = 1
    val const = units.map(u => (u, 7.0)).toDF("u", "v")
    val c = Quality.permutationTest(const, "u", "v", "px", 199)
      .collect().head
    assert(c.getAs[Long]("p_micro") == 1000000L)
    assert(!c.getAs[Boolean]("significant"))
  }

  test("fleissKappa: unanimous raters give kappa 1; an unbalanced panel " +
      "reports balanced = false with null kappa") {
    import spark.implicits._
    // 4 subjects x 3 raters, all raters agree per subject, 2 categories
    val unanimous = Seq(
      (1L, "y"), (1L, "y"), (1L, "y"),
      (2L, "n"), (2L, "n"), (2L, "n"),
      (3L, "y"), (3L, "y"), (3L, "y"),
      (4L, "n"), (4L, "n"), (4L, "n")).toDF("s", "c")
    val u = Quality.fleissKappa(unanimous, "s", "c").collect().head
    assert(u.getAs[Long]("n_subjects") == 4L)
    assert(u.getAs[Long]("m_raters") == 3L)
    assert(u.getAs[Boolean]("balanced"))
    assert(u.getAs[Double]("p_bar") == 1.0)
    assert(u.getAs[Double]("kappa") == 1.0)
    // drop one vote: panel no longer constant-m
    val unbalanced = unanimous.limit(11)
    val b = Quality.fleissKappa(unbalanced, "s", "c").collect().head
    assert(!b.getAs[Boolean]("balanced"))
    assert(b.isNullAt(4)) // kappa
  }

  test("kmvDistinct: estimate replays from the k-th smallest hash and " +
      "lands near the exact count; small groups report null estimate") {
    import spark.implicits._
    val rows = (0 until 2000).map(i => ("big", s"u$i")) ++
      (0 until 5).map(i => ("tiny", s"t$i"))
    val out = graft.operators.Sketches.kmvDistinct(
        rows.toDF("g", "u"), "g", "u", 32, "kt")
      .collect().map(r => r.getString(0) ->
        ((Option(r.getAs[java.lang.Long]("est_distinct")),
          r.getAs[Long]("exact_distinct"),
          Option(r.getAs[java.lang.Long]("kth_h"))))).toMap
    val (estB, exactB, kthB) = out("big")
    assert(exactB == 2000L)
    // replay the estimator from the reported kth hash
    assert(estB.get ==
      (BigInt(31) * BigInt(2).pow(60) / BigInt(kthB.get)).toLong)
    // KMV rse ~ 1/sqrt(k-1) ~ 18%; allow 3x that
    assert(math.abs(estB.get - 2000L) < 2000 * 0.54,
      s"KMV estimate ${estB.get} too far from 2000")
    // tiny group: fewer than k distinct keys -> no kth hash, null est
    assert(out("tiny")._1.isEmpty && out("tiny")._2 == 5L)
  }

  test("cliffsDelta: all-A-above-B gives delta 1 (large); identical " +
      "distributions give 0 (negligible)") {
    import spark.implicits._
    val sep = (1 to 5).map(i => ("A", 100L + i)) ++
      (1 to 5).map(i => ("B", i.toLong))
    val d1 = Quality.cliffsDelta(sep.toDF("g", "v"), "g", "v", "A", "B")
      .collect().head
    assert(d1.getAs[Double]("delta") == 1.0)
    assert(d1.getAs[String]("magnitude") == "large")
    val same = (1 to 5).flatMap(i => Seq(("A", i.toLong), ("B", i.toLong)))
    val d0 = Quality.cliffsDelta(same.toDF("g", "v"), "g", "v", "A", "B")
      .collect().head
    assert(d0.getAs[Double]("delta") == 0.0)
    assert(d0.getAs[String]("magnitude") == "negligible")
  }

  test("krippendorffAlpha: perfect within-unit agreement on an " +
      "UNBALANCED panel gives alpha 1; singleton units drop out") {
    import spark.implicits._
    // units with 2, 3, and 4 votes (all internally unanimous) + one
    // unpairable singleton that must not count
    val votes = Seq(
      (1L, "x"), (1L, "x"),
      (2L, "y"), (2L, "y"), (2L, "y"),
      (3L, "x"), (3L, "x"), (3L, "x"), (3L, "x"),
      (9L, "x")).toDF("s", "c")
    val out = Quality.krippendorffAlpha(votes, "s", "c").collect().head
    assert(out.getAs[Long]("n_units") == 3L)
    assert(out.getAs[Long]("n_values") == 9L)
    assert(out.getAs[Long]("d_o_micro") == 0L)
    assert(out.getAs[Double]("alpha") == 1.0)
    // hand case: unit {x,y} (m=2) + unit {x,x} (m=2): D_o terms =
    // 1*(2-1)/1 * 2 rows = 2e6 micro for the mixed unit, 0 for the pure
    val mixed = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "x"))
      .toDF("s", "c")
    val m = Quality.krippendorffAlpha(mixed, "s", "c").collect().head
    // n=4, margins x=3, y=1 -> D_e = 3*1 + 1*3 = 6; D_o = 2.0
    assert(m.getAs[Long]("d_o_micro") == 2000000L)
    assert(m.getAs[Long]("d_e") == 6L)
    assert(m.getAs[Double]("alpha") == 1.0 - 3.0 * 2.0 / 6.0)
  }

  test("oddsRatio2x2: hand 2x2 table; zero cell triggers the Haldane " +
      "correction and flags it") {
    import spark.implicits._
    // a=30 exposed+outcome, b=10, c=10, d=30 -> OR = 9, Q = 0.8
    val rows = Seq.fill(30)((true, true)) ++ Seq.fill(10)((true, false)) ++
      Seq.fill(10)((false, true)) ++ Seq.fill(30)((false, false))
    val out = Quality.oddsRatio2x2(rows.toDF("e", "o"), col("e"), col("o"))
      .collect().head
    assert(out.getAs[Long]("n") == 80L)
    assert(out.getAs[Double]("odds_ratio") == 9.0)
    assert(out.getAs[Double]("yules_q") == 0.8)
    assert(!out.getAs[Boolean]("corrected"))
    assert(out.getAs[Double]("ci_lo") > 1.0) // decisively positive
    // zero cell: c = 0
    val zc = Seq.fill(5)((true, true)) ++ Seq.fill(5)((true, false)) ++
      Seq.fill(10)((false, false))
    val z = Quality.oddsRatio2x2(zc.toDF("e", "o"), col("e"), col("o"))
      .collect().head
    assert(z.getAs[Boolean]("corrected"))
    // Haldane: (5.5*10.5)/(5.5*0.5)
    assert(z.getAs[Double]("odds_ratio") == 5.5 * 10.5 / (5.5 * 0.5))
  }

  test("storeyPi0: all-null p's (pure noise arms) estimate pi0 near 1 " +
      "and cap at 1") {
    import spark.implicits._
    // constant values in every segment -> z null? no: constant values
    // give se = 0 -> z null -> p null -> NOT counted above lambda.
    // Instead use genuinely noisy-but-null data: value depends only on
    // the unit hash parity in NO way (iid by unit id).
    val rows = (0 until 600).map { i =>
      (s"seg${i % 6}", i.toLong, (i * 37 % 101).toDouble)
    }
    val out = Quality.storeyPi0(rows.toDF("seg", "u", "v"), "seg", "u",
      "v", "sp1", 500000L).collect().head
    assert(out.getAs[Long]("m") == 6L)
    val pi0 = out.getAs[Long]("pi0_micro")
    assert(pi0 >= 300000L && pi0 <= 1000000L,
      s"null panel should keep most mass above lambda: $pi0")
    assert(out.getAs[Long]("est_true_nulls") <= 6L)
  }
}
