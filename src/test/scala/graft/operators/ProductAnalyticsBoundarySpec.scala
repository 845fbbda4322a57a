package graft.operators

import graft.{CacheScope, SparkEntry, SparkSpec}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Boundary fixtures for the product-analytics registry queries
  * q124/q125/q126/q130/q131 (round-6 verdict item #2). The DuckDB oracle
  * replays the same logic, so a shared misreading — funnel stage order,
  * the WAU window edge, the cohort week boundary, negative conversion
  * lags, Benford's domain filter — would pass both sides; these fixtures
  * pin the intended semantics against hand-computed answers. Each test
  * drives the REAL registry closure over a temp dir shaped like the
  * driver's testdata (events.parquet / lineitem.parquet).
  */
class ProductAnalyticsBoundarySpec extends SparkSpec {

  private def writeEvents(dir: String, rows: Seq[(String, String, String)]): Unit = {
    import spark.implicits._
    rows.toDF("user_id", "event_type", "__ts")
      .withColumn("ts", to_timestamp(col("__ts")).cast("timestamp_ntz"))
      .drop("__ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def q(name: String, dir: String): Seq[Row] =
    try SparkEntry.queries(name)(spark, dir).collect().toSeq
    finally CacheScope.releaseAll()

  test("q124 funnel: out-of-order stages do not count; stage-equal " +
      "timestamps do (>= semantics)") {
    val dir = tempDir("graft-fixture")
    writeEvents(dir, Seq(
      // A: clean view -> click -> purchase (all three stages)
      ("A", "view", "2024-01-01 10:00:00"),
      ("A", "click", "2024-01-01 11:00:00"),
      ("A", "purchase", "2024-01-01 12:00:00"),
      // B: click BEFORE the first view — must not reach stage 2
      ("B", "click", "2024-01-01 09:00:00"),
      ("B", "view", "2024-01-01 10:00:00"),
      // C: purchase BEFORE the qualifying click — stages 1,2 only
      ("C", "view", "2024-01-01 10:00:00"),
      ("C", "purchase", "2024-01-01 10:30:00"),
      ("C", "click", "2024-01-01 11:00:00"),
      // D: purchase with no view at all — appears nowhere
      ("D", "purchase", "2024-01-01 10:00:00"),
      // E: click at EXACTLY the first-view instant — >= lets it count
      ("E", "view", "2024-01-01 10:00:00"),
      ("E", "click", "2024-01-01 10:00:00")))
    val out = q("q124_funnel", dir)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("1_view" -> 4L, "2_click" -> 3L, "3_purchase" -> 1L),
      s"funnel counts: $out")
  }

  test("q125 DAU/WAU: a user active on exactly day t-6 is in WAU(t); " +
      "day t-7 is not") {
    val dir = tempDir("graft-fixture")
    writeEvents(dir, Seq(
      ("u", "view", "2024-01-01 12:00:00"),            // day D
      ("w", "view", "2024-01-07 12:00:00"),            // day D+6
      ("w", "view", "2024-01-08 12:00:00")))           // day D+7
    val out = q("q125_active_users", dir)
      .map(r => r.getDate(0).toString -> ((r.getLong(1), r.getLong(2)))).toMap
    // WAU(D+6) spans [D, D+6] -> {u, w}; WAU(D+7) spans [D+1, D+7] -> u
    // has aged out
    assert(out("2024-01-07") == ((1L, 2L)), s"D+6 row: $out")
    assert(out("2024-01-08") == ((1L, 1L)), s"D+7 row: $out")
    assert(out("2024-01-01") == ((1L, 1L)), s"D row: $out")
  }

  test("q126 cohort retention: day 6 stays in week_offset 0, day 7 rolls " +
      "to week_offset 1") {
    val dir = tempDir("graft-fixture")
    writeEvents(dir, Seq(
      ("x", "view", "2024-01-01 08:00:00"),            // cohort day C
      ("x", "view", "2024-01-07 08:00:00"),            // C+6 -> offset 0
      ("x", "view", "2024-01-08 08:00:00"),            // C+7 -> offset 1
      ("y", "view", "2024-01-01 09:00:00")))           // cohort C, week 0 only
    val out = q("q126_cohort_retention", dir)
      .map(r => (r.getDate(0).toString, r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.keySet == Set(("2024-01-01", 0L), ("2024-01-01", 1L)))
    assert(out(("2024-01-01", 0L)) == ((2L, 2L, 1.0)), s"week 0: $out")
    assert(out(("2024-01-01", 1L)) == ((1L, 2L, 0.5)), s"week 1: $out")
  }

  test("q130 conversion lag: purchase before the first view never yields " +
      "a negative-lag row; the 3600 s histogram edge floors correctly") {
    val dir = tempDir("graft-fixture")
    writeEvents(dir, Seq(
      // A: only purchase is BEFORE the first view -> no qualifying
      // purchase, A contributes no lag row at all
      ("A", "purchase", "2024-01-01 09:00:00"),
      ("A", "view", "2024-01-01 10:00:00"),
      // B: lag 3599 s -> bucket 0
      ("B", "view", "2024-01-01 10:00:00"),
      ("B", "purchase", "2024-01-01 10:59:59"),
      // C: lag exactly 3600 s -> bucket 1
      ("C", "view", "2024-01-01 10:00:00"),
      ("C", "purchase", "2024-01-01 11:00:00")))
    val out = q("q130_conversion_lag", dir)
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out.keySet == Set(0L, 1L), s"lag buckets: $out")
    assert(out.keys.forall(_ >= 0), "negative lag bucket leaked through")
    assert(out(0L) == ((1L, 0.5)) && out(1L) == ((1L, 0.5)), s"rows: $out")
  }

  test("q131 Benford: zero, negative, and sub-1 prices are outside the " +
      "domain; the digit comes from the integer part") {
    import spark.implicits._
    val dir = tempDir("graft-fixture")
    Seq(0.5, -123.0, 0.0, 1.0, 9.99, 123.45, 987.0)
      .toDF("l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = q("q131_benford", dir)
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // only 1.0, 9.99, 123.45, 987.0 are in-domain: digits 1,9,1,9
    assert(out.keySet == Set(1, 9), s"digits: $out")
    assert(out(1) == ((2L, 0.5)) && out(9) == ((2L, 0.5)), s"rows: $out")
    // dev = share - benford_p, pinned against the shared literal table
    val dev = q("q131_benford", dir).map(r => r.getInt(0) -> r.getDouble(4)).toMap
    assert(math.abs(dev(1) - (0.5 - 0.3010299956639812)) < 1e-15)
    assert(math.abs(dev(9) - (0.5 - 0.04575749056067514)) < 1e-15)
  }

  private def writeEventsFull(dir: String,
      rows: Seq[(Long, Long, String, String, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("event_id", "user_id", "event_type", "__ts", "value")
      .withColumn("ts", to_timestamp(col("__ts")).cast("timestamp_ntz"))
      .drop("__ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("q212 decay attribution: whole-day halving at exactly 24h, window " +
      "edge at exactly/over 7 days") {
    val dir = tempDir("graft-fixture")
    writeEventsFull(dir, Seq(
      // user 1: two views — 26h before (d=1, weight 5e5, hour 10) and
      // 2h before (d=0, weight 1e6, hour 10 previous day → hour 10? no:)
      (1L, 1L, "view", "2024-01-08 10:00:00", 0.0),     // 2h before, d=0, hour 10
      (2L, 1L, "view", "2024-01-07 11:00:00", 0.0),     // 25h before, d=1, hour 11
      (3L, 1L, "purchase", "2024-01-08 12:00:00", 1.0),
      // user 2: ONE view exactly 7 days before → still in window, d=7
      (4L, 2L, "view", "2024-01-01 09:00:00", 0.0),
      (5L, 2L, "purchase", "2024-01-08 09:00:00", 2.0),
      // user 3: view 7 days + 1 second before → OUTSIDE the window
      (6L, 3L, "view", "2024-01-01 07:59:59", 0.0),
      (7L, 3L, "purchase", "2024-01-08 08:00:00", 5.0)))
    val out = q("q212_decay_attribution", dir)
      .map(r => r.getInt(0) -> r.getAs[Long]("attributed_micro")).toMap
    // hour 10: round(1e6·1e6/1.5e6) = 666667; hour 11: round(1e6·5e5/1.5e6)
    assert(out(10) == 666667L, s"got $out")
    assert(out(11) == 333333L, s"got $out")
    // exactly-7d view is the sole touch → full credit (2e6 micro), hour 9
    assert(out(9) == 2000000L, s"got $out")
    // the 7d+1s view earns nothing: hour 7 absent entirely
    assert(!out.contains(7), s"got $out")
  }

  test("q218 churn: Sunday-night vs Monday-morning week edge; churn " +
      "counted in the absent week; first week is all-new") {
    val dir = tempDir("graft-fixture")
    writeEvents(dir, Seq(
      ("A", "view", "2024-01-02 10:00:00"),  // week of Mon 2024-01-01
      ("A", "view", "2024-01-09 10:00:00"),  // week of Mon 2024-01-08
      ("B", "view", "2024-01-07 23:59:59"),  // Sunday night → STILL week 1
      ("D", "view", "2024-01-07 23:59:59"),  // week 1 ...
      ("D", "view", "2024-01-08 00:00:00"),  // ... and Monday 00:00 → week 2
      ("C", "view", "2024-01-10 10:00:00"))) // first appears week 2
    val out = q("q218_churn", dir)
      .map(r => r.getDate(0).toString ->
        ((r.getAs[Long]("n_active"), r.getAs[Long]("n_new"),
          r.getAs[Long]("n_churned")))).toMap
    // week1: A,B,D active, all new, nothing churned into it
    assert(out("2024-01-01") == ((3L, 3L, 0L)), s"got $out")
    // week2: A,C,D active (D's Monday-00:00 row lands here, so D is NOT
    // churned); only B churned; C is the one new user
    assert(out("2024-01-08") == ((3L, 1L, 1L)), s"got $out")
  }

  test("q245 cupedAdjust: y = x + c per user gives theta exactly 1 and " +
      "adjusted means equal to shifted pooled pre-mean") {
    import spark.implicits._
    import java.sql.Timestamp
    // four users: pre-period value v, post-period value v + 5
    val rows = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .flatMap { case (u, v) => Seq(
        (u, Timestamp.valueOf("2024-01-10 00:00:00"), v),
        (u, Timestamp.valueOf("2024-01-20 00:00:00"), v + 5.0))
      }.toDF("user_id", "ts", "value")
    val out = Analytics.cupedAdjust(rows, "user_id", "ts", "value",
      "2024-01-16 00:00:00", "spec1").collect()
    assert(out.map(_.getAs[String]("arm")).toSeq.sorted.sameElements(
      out.map(_.getAs[String]("arm")).toSeq)) // ordered by arm
    out.foreach { r =>
      assert(r.getAs[Double]("theta") == 1.0)
      // adj = mean_y - 1.0 * (mean_x_arm - mean_x_pool)
      //     = (mean_x_arm + 5) - mean_x_arm + mean_x_pool = 5 + 25
      assert(r.getAs[Double]("mean_y_adj") == 30.0)
    }
    // per-arm RAW means differ (hash split is not balanced on 4 users)
    // unless both arms happen to average 25 pre -- guard the useful case
    assert(out.map(_.getAs[Long]("n_users")).sum == 4L)
  }

  test("q274 growthAccounting: hand waterfall sums exactly to the " +
      "revenue delta; flat customers excluded; empty categories zeroed") {
    import spark.implicits._
    import java.sql.Timestamp
    val p1 = Timestamp.valueOf("1996-06-01 00:00:00")
    val p2 = Timestamp.valueOf("1997-06-01 00:00:00")
    // c1 new (+20), c2 churned (-10), c3 expansion (+5), c4 contraction
    // (-3), c5 flat (excluded), c6 outside both periods (ignored)
    val rows = Seq(
      (1L, p2, 20.0),
      (2L, p1, 10.0),
      (3L, p1, 10.0), (3L, p2, 15.0),
      (4L, p1, 10.0), (4L, p2, 7.0),
      (5L, p1, 9.0), (5L, p2, 9.0),
      (6L, Timestamp.valueOf("1995-01-01 00:00:00"), 99.0)
    ).toDF("cust", "ts", "v")
    val out = Analytics.growthAccounting(rows, "cust", "ts", "v",
        "1996-01-01 00:00:00", "1997-01-01 00:00:00",
        "1997-01-01 00:00:00", "1998-01-01 00:00:00")
      .collect()
      .map(r => r.getAs[String]("category") ->
        (r.getAs[Long]("n_customers"), r.getAs[Long]("delta_cents"))).toMap
    graft.CacheScope.releaseAll()
    assert(out == Map(
      "new" -> ((1L, 2000L)), "churned" -> ((1L, -1000L)),
      "expansion" -> ((1L, 500L)), "contraction" -> ((1L, -300L))))
    // waterfall identity: sum of deltas = R2 - R1 (flat contributes 0)
    assert(out.values.map(_._2).sum == (20.0 + 15.0 + 7.0 + 9.0) * 100 -
      (10.0 + 10.0 + 10.0 + 9.0) * 100)
  }

  test("q275 mixRateDecomposition: volume + rate effects reconstruct the " +
      "delta to the cent, truncation absorbed by the rate term") {
    import spark.implicits._
    import java.sql.Timestamp
    val p1 = Timestamp.valueOf("1996-06-01 00:00:00")
    val p2 = Timestamp.valueOf("1997-06-01 00:00:00")
    // region A: 3 orders of 10.01 -> 2 orders of 12.00 (volume down,
    // AOV up; AOV1 = 1001 cents exactly representable in microcents)
    val rows = Seq(
      ("A", p1, 10.01), ("A", p1, 10.01), ("A", p1, 10.01),
      ("A", p2, 12.00), ("A", p2, 12.00),
      ("B", p2, 5.0) // appears only in period 2: n1 = 0, aov1 = 0
    ).toDF("dim", "ts", "v")
    val out = Analytics.mixRateDecomposition(rows, "dim", "ts", "v",
        "1996-01-01 00:00:00", "1997-01-01 00:00:00",
        "1997-01-01 00:00:00", "1998-01-01 00:00:00")
      .collect().map(r => r.getAs[String]("dim") -> r).toMap
    graft.CacheScope.releaseAll()
    val a = out("A")
    assert(a.getAs[Long]("n1") == 3L && a.getAs[Long]("n2") == 2L)
    assert(a.getAs[Long]("aov1_microcents") == 1001000000L)
    assert(a.getAs[Long]("volume_effect_cents") == -1001L)
    // identity: volume + rate = r2 - r1 exactly
    assert(a.getAs[Long]("volume_effect_cents") +
      a.getAs[Long]("rate_effect_cents") ==
      a.getAs[Long]("r2_cents") - a.getAs[Long]("r1_cents"))
    val b = out("B")
    assert(b.getAs[Long]("n1") == 0L && b.getAs[Long]("aov1_microcents") == 0L)
    assert(b.getAs[Long]("volume_effect_cents") == 0L)
    assert(b.getAs[Long]("rate_effect_cents") == 500L)
  }

  test("q265 didEstimate: a uniform post-period lift applied to one arm " +
      "only is recovered exactly; parallel trends give DiD = 0") {
    import spark.implicits._
    import java.sql.Timestamp
    val users = (1L to 20L).toSeq
    def armA(u: Long): Boolean =
      graft.functions.Hashing.h60Local(s"spec-did:$u") % 2 == 0
    // pre value 10 for everyone; post: control (arm a) 12, treated +7
    val rows = users.flatMap { u =>
      val post = if (armA(u)) 12.0 else 12.0 + 7.0
      Seq((u, Timestamp.valueOf("2024-01-10 00:00:00"), 10.0),
        (u, Timestamp.valueOf("2024-01-20 00:00:00"), post))
    }.toDF("user_id", "ts", "value")
    val r = Analytics.didEstimate(rows, "user_id", "ts", "value",
      "2024-01-16 00:00:00", "spec-did").collect().head
    val nA = users.count(armA).toLong
    assert(r.getAs[Long]("n_pre_a") == nA)
    assert(r.getAs[Long]("n_post_b") == 20L - nA)
    assert(r.getAs[Long]("sum_pre_a_micro") == nA * 10000000L)
    assert(r.getAs[Long]("sum_post_b_micro") == (20L - nA) * 19000000L)
    assert(math.abs(r.getAs[Double]("did") - 7.0) < 1e-9)
    // parallel trends: both arms move +2 -> DiD exactly 0
    val par = users.flatMap { u =>
      Seq((u, Timestamp.valueOf("2024-01-10 00:00:00"), 10.0),
        (u, Timestamp.valueOf("2024-01-20 00:00:00"), 12.0))
    }.toDF("user_id", "ts", "value")
    val r0 = Analytics.didEstimate(par, "user_id", "ts", "value",
      "2024-01-16 00:00:00", "spec-did").collect().head
    assert(r0.getAs[Double]("did") == 0.0)
  }

  test("hhiConcentration: monopoly = 1, even split = 1/n, " +
      "0.4/0.3/0.2/0.1 shares give exactly 0.30") {
    import spark.implicits._
    val rows = Seq(
      ("mono", "e1", 50.0),
      ("even", "e1", 25.0), ("even", "e2", 25.0),
      ("even", "e3", 25.0), ("even", "e4", 25.0),
      ("mix", "e1", 40.0), ("mix", "e2", 30.0),
      ("mix", "e3", 20.0), ("mix", "e4", 10.0))
      .toDF("g", "e", "v")
    val out = Analytics.hhiConcentration(rows, "g", "e", "v")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(out("mono").getAs[Double]("hhi") == 1.0)
    assert(out("mono").getAs[Double]("effective_n") == 1.0)
    assert(out("even").getAs[Double]("hhi") == 0.25)
    assert(out("even").getAs[Double]("effective_n") == 4.0)
    // cents are exact: (4000^2+3000^2+2000^2+1000^2)/10000^2 = 0.30
    assert(out("mix").getAs[Double]("hhi") == 0.30)
    assert(out("mix").getAs[Long]("total_cents") == 10000L)
  }

  test("theilIndex: even split reads ~0, near-monopoly reads near ln(n)") {
    import spark.implicits._
    val rows = Seq(
      ("even", "e1", 25.0), ("even", "e2", 25.0),
      ("even", "e3", 25.0), ("even", "e4", 25.0),
      ("mono", "e1", 9999.99), ("mono", "e2", 0.01),
      ("mono", "e3", 0.01), ("mono", "e4", 0.01))
      .toDF("g", "e", "v")
    val out = Analytics.theilIndex(rows, "g", "e", "v")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    // perfectly even: only the micro-log rounding residue survives
    assert(math.abs(out("even").getAs[Double]("theil")) < 1e-6)
    // one entity holds ~all value: T -> ln(4), normalized -> 1
    assert(out("mono").getAs[Double]("theil") > 1.3)
    assert(out("mono").getAs[Double]("theil_norm") > 0.94)
    assert(out("mono").getAs[Double]("theil_norm") <= 1.0)
  }
}
