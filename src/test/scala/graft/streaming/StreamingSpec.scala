package graft.streaming

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSpec
import graft.schema.Observation

class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def obs(st: String, t: String, temp: Double) =
    Observation(st, Some(s"name-$st"), Some(60.0), Some(24.0), Some(10.0),
      ts(t), Some(temp), Some(50.0), Some(3.0))

  test("MonotonicDedup in batch mode: strictly-greater passes, equal drops, " +
      "within-batch order is event time") {
    import spark.implicits._
    val ds = Seq(
      obs("S1", "2024-01-01 10:00:00", 1.0),
      obs("S1", "2024-01-01 10:00:00", 2.0), // equal ts → dropped
      obs("S1", "2024-01-01 09:00:00", 3.0), // older, but processed FIRST (sorted)
      obs("S2", "2024-01-01 10:00:00", 4.0)
    ).toDS()
    val out = MonotonicDedup.dedupe[String, Observation](
      ds, _.station_id, _.timestamp.getTime).collect().sortBy(_.temperature)
    // sorted-by-time processing: 09:00 emits, then 10:00 (first of the equal
    // pair) emits, duplicate drops
    assert(out.map(_.temperature.get).toSeq == Seq(1.0, 3.0, 4.0))
  }

  test("hourlyStats: tumbling hourly windowed aggregation with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Observation]
    mem.addData(
      obs("S1", "2024-06-01 10:05:00", 10.0),
      obs("S1", "2024-06-01 10:55:00", 20.0),
      obs("S1", "2024-06-01 11:05:00", 30.0),
      obs("S2", "2024-06-01 10:30:00", 5.0))
    val q = StreamPipeline.hourlyStats(mem.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("hourly")
      .collect().map(r => (r.getAs[Timestamp]("hour"), r.getAs[String]("station_id"),
        r.getAs[Long]("n"), r.getAs[Double]("avg_temperature"))).toSet
    assert(rows == Set(
      (ts("2024-06-01 10:00:00"), "S1", 2L, 15.0),
      (ts("2024-06-01 11:00:00"), "S1", 1L, 30.0),
      (ts("2024-06-01 10:00:00"), "S2", 1L, 5.0)))
  }

  test("driftMonitor: per-window PSI vs a reference histogram — matching " +
      "window scores near zero, shifted window scores high") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Observation]
    // reference: uniform over 2 buckets of [0, 10)
    val reference = Seq(50L, 50L)
    // hour 10: balanced (matches reference); hour 11: all mass in bucket 1
    mem.addData(
      obs("S1", "2024-06-01 10:05:00", 2.0),
      obs("S1", "2024-06-01 10:10:00", 8.0),
      obs("S1", "2024-06-01 11:05:00", 9.0),
      obs("S1", "2024-06-01 11:10:00", 9.5),
      obs("S1", "2024-06-01 11:15:00", 8.5))
    val q = StreamPipeline.driftMonitor(mem.toDF(), "timestamp",
        "temperature", 0.0, 10.0, reference)
      .writeStream.format("memory").queryName("drift")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("drift").collect()
      .map(r => r.getAs[Timestamp]("window_start") ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("psi"))).toMap
    val (nBal, psiBal) = rows(ts("2024-06-01 10:00:00"))
    val (nShift, psiShift) = rows(ts("2024-06-01 11:00:00"))
    assert(nBal == 2L && nShift == 3L)
    assert(psiBal >= 0.0 && psiShift > psiBal,
      s"balanced $psiBal should undercut shifted $psiShift")
    assert(psiShift > 0.1, s"fully-shifted window should alarm: $psiShift")
  }

  test("sessionStats: session_window merges events within the gap and " +
      "splits on silence, per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Observation]
    mem.addData(
      obs("S1", "2024-06-01 10:00:00", 1.0),
      obs("S1", "2024-06-01 10:10:00", 2.0),  // 10 min gap → same session
      obs("S1", "2024-06-01 11:00:00", 3.0),  // 50 min silence → new session
      obs("S2", "2024-06-01 10:05:00", 4.0))  // other key: own session
    val q = StreamPipeline.sessionStats(mem.toDF(), "station_id",
        "timestamp", gap = "15 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("sessions")
      .collect().map(r => (r.getAs[Timestamp]("session_start"),
        r.getAs[Timestamp]("session_end"), r.getAs[String]("station_id"),
        r.getAs[Long]("n_events"))).toSet
    assert(rows == Set(
      // session end = last event + gap (session_window semantics)
      (ts("2024-06-01 10:00:00"), ts("2024-06-01 10:25:00"), "S1", 2L),
      (ts("2024-06-01 11:00:00"), ts("2024-06-01 11:15:00"), "S1", 1L),
      (ts("2024-06-01 10:05:00"), ts("2024-06-01 10:20:00"), "S2", 1L)))
  }

  test("dedupWithinWatermark drops replayed keys within the horizon, " +
      "bounded state (distinct event ids survive)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    mem.addData(
      (1L, ts("2024-06-01 10:00:00"), 1.0),
      (1L, ts("2024-06-01 10:05:00"), 99.0), // same event id replayed late
      (2L, ts("2024-06-01 10:00:30"), 2.0))
    val q = StreamPipeline.dedupWithinWatermark(
        mem.toDF().toDF("event_id", "ts", "value"), "ts", "1 hour",
        Seq("event_id"))
      .writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("wm_dedup")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rows == Map(1L -> 1.0, 2L -> 2.0)) // first wins, replay dropped
  }

  test("StreamEwma: exact integer recursion continues across batches, " +
      "batch order is (ts, tie)-deterministic, state is one long per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // rows: (key, eventTimeMillis, tie, vMicro)
    val mem = MemoryStream[(String, Long, Long, Long)]
    val q = StreamEwma.smooth(mem.toDS())
      .toDF("key", "t", "v_micro", "ewma_micro")
      .writeStream.format("memory").queryName("sewma")
      .outputMode("append").start()
    // batch 1 arrives out of order — absorbed ascending (t, tie):
    // 1000000 → (1000000+3000000)/2 = 2000000
    mem.addData(("a", 1L, 1L, 1000000L), ("a", 2L, 1L, 3000000L))
    q.processAllAvailable()
    // batch 2 continues the SAME recursion from checkpointed state:
    // (2000000+5000001)/2 = 3500000 (truncating)
    mem.addData(("a", 3L, 1L, 5000001L), ("b", 1L, 1L, 7L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sewma").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(out == Map(("a", 1L) -> 1000000L, ("a", 2L) -> 2000000L,
      ("a", 3L) -> 3500000L, ("b", 1L) -> 7L))

    // batch-mode call: same recursion, fresh state, tie order decides
    val batch = Seq(("k", 5L, 2L, 100L), ("k", 5L, 1L, 300L))
      .toDS()
    val bout = StreamEwma.smooth(batch).collect()
      .map(r => (r._2, r._3) -> r._4).toMap
    // tie 1 first: s = 300; then v = 100: (300+100)/2 = 200
    assert(bout == Map((5L, 300L) -> 300L, (5L, 100L) -> 200L))
  }

  test("StreamRollingMedian: exact trailing median continues across " +
      "batches, warm-up guard holds, state is bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // rows: (key, dayIndex, count) — the TemporalSpec fixture split
    // across two micro-batches; the day-5 spike must be scored against
    // state carried over from batch 1
    val mem = MemoryStream[(String, Long, Long)]
    val q = StreamRollingMedian.monitor(mem.toDS(), 7)
      .writeStream.format("memory").queryName("srmed")
      .outputMode("append").start()
    mem.addData(("a", 1L, 4L), ("a", 2L, 5L), ("a", 3L, 4L))
    q.processAllAvailable()
    mem.addData(("a", 4L, 5L), ("a", 5L, 100L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("srmed").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getInt(3), r.getLong(4), r.getBoolean(5)))).toMap
    // identical to Temporal.rollingMedianAnomaly on the same counts:
    // odd [4,4,5]→8; even [4,4,5,5]→9; [4,4,5,5,100]→10 and flags
    assert(out == Map(
      ("a", 1L) -> ((1, 8L, false)), ("a", 2L) -> ((2, 9L, false)),
      ("a", 3L) -> ((3, 8L, false)), ("a", 4L) -> ((4, 9L, false)),
      ("a", 5L) -> ((5, 10L, true))))
  }

  test("incrementalDedupStream: stream-static anti-join vs corpus, then " +
      "bounded-state within-stream dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextFns
    val corpus = Seq("known doc").toDF("text")
      .select(TextFns.fingerprint(col("text")).as("fingerprint"))
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(
      (1L, "known doc", ts("2024-06-01 10:00:00")),   // in corpus → dropped
      (2L, "fresh doc", ts("2024-06-01 10:01:00")),   // kept
      (3L, "fresh doc", ts("2024-06-01 10:02:00")),   // stream replay → dropped
      (4L, "another doc", ts("2024-06-01 10:03:00"))) // kept
    val q = StreamPipeline.incrementalDedupStream(
        mem.toDF().toDF("id", "text", "event_ts"), corpus,
        TextFns.fingerprint(col("text")), "event_ts", "10 minutes")
      .writeStream.format("memory").queryName("incdedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.table("incdedup").collect()
      .map(_.getAs[Long]("id")).toSet
    assert(kept == Set(2L, 4L))
  }

  test("stream-static enrichment against the SCD2 CURRENT dimension view") {
    // The standard streaming enrichment: facts join the slowly-changing
    // dimension's is_current slice. Spark re-plans the static side per
    // micro-batch, so a republished dimension is picked up without
    // restarting the query; here we pin the semantics — only current
    // attribute values enrich, superseded history rows never match.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dimHistory = Seq(
      ("u1", ts("2024-06-01 00:00:00"), "bronze"),
      ("u1", ts("2024-06-02 00:00:00"), "gold"),   // current for u1
      ("u2", ts("2024-06-01 00:00:00"), "silver")) // current for u2
      .toDF("user_id", "updated_at", "tier")
    val scd2 = graft.operators.Warehouse.scd2Build(dimHistory,
      keys = Seq("user_id"), tsCol = "updated_at", tieCols = Nil,
      tracked = Seq("tier"))
    val current = scd2.filter(col("is_current")).select("user_id", "tier")
    val mem = MemoryStream[(String, Timestamp, Double)]
    mem.addData(("u1", ts("2024-06-03 10:00:00"), 5.0),
      ("u2", ts("2024-06-03 10:01:00"), 7.0),
      ("u3", ts("2024-06-03 10:02:00"), 9.0)) // no dimension row
    val q = mem.toDF().toDF("user_id", "event_ts", "amount")
      .join(current, Seq("user_id"), "left")
      .writeStream.format("memory").queryName("scd2enrich")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("scd2enrich").collect()
      .map(r => r.getString(0) -> Option(r.getAs[String]("tier"))).toMap
    assert(out == Map("u1" -> Some("gold"), "u2" -> Some("silver"),
      "u3" -> None))
  }

  test("HeavyHitters: state stays bounded at m counters per bucket, " +
      "space-saving guarantees hold across checkpointed micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // zipf-ish token stream, fed TWICE as separate micro-batches through
    // a shared checkpoint; m is far smaller than the distinct-token
    // count so eviction must happen
    val zipf = (1 to 20).flatMap(i => Seq.fill(40 / i)(s"tok$i"))
    val mem = MemoryStream[String]
    val byBatch = scala.collection.mutable.Map.empty[Long, Array[(Int, String, Long, Long)]]
    val q = HeavyHitters.topTokensStream(mem.toDS(), 2, 4)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[HeavyHitter], id: Long) =>
        byBatch.synchronized {
          byBatch(id) = df.collect().map(h => (h.bucket, h.token, h.count, h.err))
        }
        ()
      }
      .start()
    mem.addData(zipf: _*)
    q.processAllAvailable()
    mem.addData(zipf: _*) // second micro-batch: state must carry over
    q.processAllAvailable()
    q.stop()
    // assert on the FINAL snapshot only (update mode re-emits per batch)
    val snap = byBatch(byBatch.keys.max)
    assert(snap.nonEmpty)
    // bounded state: at most m counters per bucket, ever
    snap.groupBy(_._1).foreach { case (b, rows) =>
      assert(rows.length <= 4, s"bucket $b overflowed: ${rows.length}")
    }
    // guarantees vs the TOTAL (both batches) truth: estimate never below
    // true, and count - err is a certified lower bound
    val truth = (zipf ++ zipf).groupBy(identity).view.mapValues(_.size.toLong).toMap
    snap.foreach { case (_, tok, c, e) =>
      val t = truth(tok)
      assert(c >= t, s"$tok: estimate $c below true $t")
      assert(c - e <= t, s"$tok: lower bound ${c - e} above true $t")
    }
    // the overall top token cannot be evicted (tok1: 80 occurrences >
    // any possible N_bucket/m)
    assert(snap.exists(_._2 == "tok1"))
  }

  test("intervalJoin tolerates both sides naming their event-time column " +
      "identically (references are side-qualified)") {
    import spark.implicits._
    // batch mode: watermarks are no-ops, same join semantics
    val l = Seq(("u1", ts("2024-06-01 10:10:00"), 1.0))
      .toDF("user_id", "ts", "lval")
    val r = Seq(("u1", ts("2024-06-01 10:05:00"), 99.0),
      ("u1", ts("2024-06-01 11:00:00"), 5.0)) // after the left ts → no match
      .toDF("user_id", "ts", "rval")
    val out = StreamPipeline.intervalJoin(l, r, "user_id", "ts", "ts", "1 hour")
      .collect()
    assert(out.length == 1 && out(0).getAs[Double]("rval") == 99.0)
  }

  test("stream-stream inner join with watermarks (views enriched by the " +
      "user's purchases within the hour)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(String, Timestamp, Double)]
    val purchases = MemoryStream[(String, Timestamp, Double)]
    views.addData(("u1", ts("2024-06-01 10:10:00"), 1.0),
      ("u2", ts("2024-06-01 10:20:00"), 2.0))
    purchases.addData(("u1", ts("2024-06-01 10:05:00"), 99.0))
    val q = StreamPipeline.intervalJoin(
        views.toDF().toDF("user_id", "vts", "vval"),
        purchases.toDF().toDF("user_id", "pts", "pval"),
        "user_id", "vts", "pts", "1 hour")
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("ss_join").collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("user_id") == "u1")
    assert(rows(0).getAs[Double]("pval") == 99.0)
  }

  test("stream-stream LEFT OUTER interval join: unmatched views emit with " +
      "null purchase once the watermark proves no match can arrive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("graft-loj-out").toString
    val ckDir = Files.createTempDirectory("graft-loj-ck").toString
    val views = MemoryStream[(String, Timestamp, Double)]
    val purchases = MemoryStream[(String, Timestamp, Double)]
    def runOnce(): Unit = {
      val q = StreamPipeline.intervalJoinLeftOuter(
          views.toDF().toDF("user_id", "vts", "vval"),
          purchases.toDF().toDF("user_id", "pts", "pval"),
          "user_id", "vts", "pts", "1 hour")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckDir)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // u1 converts within the hour; u2 never converts
    views.addData(("u1", ts("2024-06-01 10:10:00"), 1.0),
      ("u2", ts("2024-06-01 10:20:00"), 2.0))
    purchases.addData(("u1", ts("2024-06-01 10:05:00"), 99.0))
    runOnce()
    // sentinels far past u2's join window advance BOTH watermarks (the
    // join watermark is their min), making "u2 never matched" decidable
    views.addData(("u9", ts("2024-06-01 15:00:00"), 9.0))
    purchases.addData(("u9", ts("2024-06-01 14:59:00"), 9.0))
    runOnce()
    runOnce() // one more cycle so the advanced watermark evicts + emits
    val rows = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[String]("user_id") ->
        Option(r.getAs[Any]("pval"))).toMap
    assert(rows("u1") == Some(99.0))   // matched: purchase value attached
    assert(rows.contains("u2") && rows("u2").isEmpty) // unmatched: null right
  }

  private def wireJson(o: Observation): String =
    s"""{"station_id":"${o.station_id}","station_name":"${o.station_name.get}",
       |"latitude":60.0,"longitude":24.0,"elevation":10.0,
       |"timestamp":"${o.timestamp.toInstant}","temperature":${o.temperature.get},
       |"humidity":50.0,"wind_speed":3.0}""".stripMargin.replace("\n", "")

  /** A `writeHourly` consumer over a MemoryStream of wire JSON, with its
    * own warehouse and checkpoint; each `feed` adds one micro-batch and
    * runs the query (restarted from the checkpoint) until it is drained. */
  private class HourlyConsumer {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val warehouse: String = Files.createTempDirectory("graft-wh").toString
    private val checkpoint = Files.createTempDirectory("graft-ck").toString
    private val mem = MemoryStream[String]

    def feedJson(lines: Seq[String]): StreamingQuery = {
      mem.addData(lines)
      val q = StreamPipeline.writeHourly(mem.toDF().select(col("value")),
        warehouse, checkpoint, Trigger.AvailableNow())(spark)
      q.awaitTermination()
      q
    }

    def feed(batch: Seq[Observation]): StreamingQuery = feedJson(batch.map(wireJson))

    def batchDirs: Set[String] =
      new File(warehouse).listFiles().map(_.getName)
        .filter(_.startsWith("batch_id=")).toSet
  }

  test("streaming pipeline: wire JSON → parse → monotonic dedup across " +
      "micro-batches → hourly parquet append") {
    val c = new HourlyConsumer
    val warehouse = c.warehouse

    // batch 1: two readings in the same hour → keep-last lands in warehouse
    c.feed(Seq(obs("S1", "2024-06-01 10:00:00", 1.0),
      obs("S1", "2024-06-01 10:10:00", 2.0)))
    val after1 = spark.read.parquet(warehouse)
    assert(after1.count() == 1)
    assert(after1.collect()(0).getAs[Double]("temperature") == 2.0)

    // batch 2: a replay (same ts) and an older record → both rejected by the
    // per-key watermark state carried in the checkpoint; a newer one passes
    c.feed(Seq(obs("S1", "2024-06-01 10:10:00", 9.0),
      obs("S1", "2024-06-01 09:00:00", 9.0),
      obs("S1", "2024-06-01 11:00:00", 3.0)))
    val after2 = spark.read.parquet(warehouse)
    assert(after2.count() == 2)
    assert(after2.agg(sum("temperature")).collect()(0).getDouble(0) == 5.0)
    assert(StreamPipeline.verifyRowPersistence(spark, warehouse, 2))
  }

  test("writeHourly survives records with a null or unparsable timestamp " +
      "or a null station id; the warehouse holds exactly the valid rows") {
    val c = new HourlyConsumer
    val q = c.feedJson(Seq(
      wireJson(obs("S1", "2024-06-01 10:00:00", 1.0)),
      """{"station_id":"S1","station_name":"x","timestamp":null,"temperature":7.0}""",
      """{"station_id":"S2","station_name":"x","timestamp":"not a time","temperature":7.0}""",
      """{"station_id":"S3","station_name":"x","temperature":7.0}""",
      """{"station_id":null,"station_name":"x","timestamp":"2024-06-01T10:20:00Z","temperature":7.0}""",
      """{"station_name":"x","timestamp":"2024-06-01T10:30:00Z","temperature":7.0}""",
      wireJson(obs("S2", "2024-06-01 10:00:00", 2.0))))
    assert(q.exception.isEmpty)
    val rows = spark.read.parquet(c.warehouse).collect()
      .map(r => (r.getAs[String]("station_id"), r.getAs[Timestamp]("timestamp"),
        r.getAs[Double]("temperature"))).toSet
    assert(rows == Set(("S1", ts("2024-06-01 10:00:00"), 1.0),
      ("S2", ts("2024-06-01 10:00:00"), 2.0)))
  }

  test("writeHourly: a micro-batch whose rows are all dropped leaves no " +
      "batch directory; the next non-empty batch still lands") {
    val c = new HourlyConsumer
    c.feed(Seq(obs("S1", "2024-06-01 10:00:00", 1.0),
      obs("S2", "2024-06-01 10:00:00", 2.0)))
    // only a replay and older readings: the monotonic dedup drops them all
    c.feed(Seq(obs("S1", "2024-06-01 10:00:00", 9.0),
      obs("S1", "2024-06-01 09:00:00", 9.0),
      obs("S2", "2024-06-01 08:00:00", 9.0)))
    c.feed(Seq(obs("S1", "2024-06-01 11:00:00", 3.0)))
    assert(c.batchDirs == Set("batch_id=0", "batch_id=2"))
    assert(spark.read.parquet(s"${c.warehouse}/batch_id=2").count() == 1)
    assert(StreamPipeline.verifyRowPersistence(spark, c.warehouse, 3))
  }

  test("writeHourly computes each non-empty micro-batch in exactly one " +
      "Spark job") {
    val c = new HourlyConsumer
    c.feed(Seq(obs("S1", "2024-06-01 10:00:00", 1.0)))
    // job starts by job group (a streaming run's group is its run id),
    // with the job's stage count; the test thread's sentinel job is
    // delivered after every earlier job
    val jobs = new ConcurrentLinkedQueue[(String, Int)]()
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("graft.test.sentinel") != null))
          sentinelSeen.countDown()
        else props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.add((g, e.stageInfos.size)))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val q = c.feed(Seq(obs("S1", "2024-06-01 11:00:00", 2.0),
        obs("S2", "2024-06-01 11:00:00", 3.0),
        obs("S2", "2024-06-01 11:30:00", 4.0)))
      assert(q.lastProgress.batchId == 1L && q.lastProgress.numInputRows == 3L)
      sc.setLocalProperty("graft.test.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.sentinel", null)
      assert(sentinelSeen.await(60, TimeUnit.SECONDS))
      // one job of two stages: parse + shuffle write on the station key,
      // then the state pass with the hourly keep-last and the parquet write
      val stages = jobs.asScala.collect { case (g, n) if g == q.runId.toString => n }
      assert(stages.toSeq == Seq(2))
    } finally sc.removeSparkListener(listener)
    assert(c.batchDirs == Set("batch_id=0", "batch_id=1"))
  }

  test("writeHourly keeps the last reading per station and hour of the " +
      "session time zone, not per UTC hour") {
    import java.time.Instant
    def at(instant: String, temp: Double) = obs("S1", "2024-06-01 00:00:00", temp)
      .copy(timestamp = Timestamp.from(Instant.parse(instant)))
    val c = new HourlyConsumer
    val conf = spark.conf
    conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    // same UTC hour, but 15:40 and 16:10 in Kolkata (UTC+05:30)
    try c.feed(Seq(at("2024-06-01T10:10:00Z", 1.0), at("2024-06-01T10:40:00Z", 2.0)))
    finally conf.set("spark.sql.session.timeZone", "UTC")
    val rows = spark.read.parquet(c.warehouse).collect()
      .map(r => (r.getAs[Timestamp]("timestamp").toInstant, r.getAs[Double]("temperature"))).toSet
    assert(rows == Set((Instant.parse("2024-06-01T09:30:00Z"), 1.0),
      (Instant.parse("2024-06-01T10:30:00Z"), 2.0)))
  }

  test("StreamNearDup: stateless append-mode near-dup flags against a " +
      "static corpus — near-dup flagged, fresh doc passes, no state store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 40 tokens: one edited word flips only 3 of 38 trigrams →
    // jaccard 35/41 ≈ 0.854, above the 0.8 gate (a short doc would
    // dilute below it: 1 edit in 12 tokens → 7/13 ≈ 0.54)
    val base = (1 to 40).map(i => f"tok$i%02d")
    val corpus = Seq(
      (100L, base.mkString(" ")),
      (101L, "completely unrelated corpus text about warehouse partitions")
    ).toDF("doc_id", "text")
    val (arr0, bands0) = StreamNearDup.corpusIndex(corpus, "doc_id", "text",
      3, 32, 8)
    val (arr, bands) = (arr0.cache(), bands0.cache())
    val mem = MemoryStream[(Long, String)]
    val flags = StreamNearDup.flagNearDups(
      mem.toDF().toDF("doc_id", "text"), arr, bands,
      "doc_id", "text", 3, 32, 8, 0.8)
    // data goes in before start: an AvailableNow query fixes its end
    // offset when it starts, so rows added later may never be read
    mem.addData(
      // one-word edit of corpus doc 100 → jaccard 0.854, must flag
      (1L, base.updated(19, "edited").mkString(" ")),
      // fresh text → no flag row at all
      (2L, "entirely novel content that matches nothing in the corpus"))
    val q = flags.writeStream.format("memory").queryName("neardup_flags")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("neardup_flags")
      .select("sid", "corpus_id").distinct()   // band collisions may repeat rows
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((1L, 100L)))
    // and the plan really is stateless: no state-store operator ran
    assert(q.lastProgress == null ||
      Option(q.lastProgress.stateOperators).forall(_.isEmpty))
    arr.unpersist(); bands.unpersist()
  }

  test("ivfIndexProbeFlags: stateless stream-static ANN flags against the " +
      "persisted IVF index; two micro-batches == one batch probe on union") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // two tight 4-d clusters; nProbe = nlist = 2 → full probe (exact),
    // so batch equivalence cannot hinge on which cell k-means learned
    val corpus = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(0.9, 0.1, 0, 0)),
      (3L, v(0.95, 0.05, 0, 0)), (4L, v(0, 0, 1, 0)),
      (5L, v(0, 0, 0.9, 0.1)), (6L, v(0, 0.05, 0.95, 0)))
      .toDF("vec_id", "embedding")
    val (cellRel0, centRel) = Similarity.ivfIndexRelations(
      corpus, "vec_id", "embedding", nlist = 2, iters = 3)
    val cellRel = cellRel0.cache()
    val mem = MemoryStream[(Long, Array[Float])]
    val flags = Similarity.ivfIndexProbeFlags(cellRel, centRel,
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      nProbe = 2, minCos = 0.95)
    val q = flags.writeStream.format("memory").queryName("ann_flags")
      .outputMode("append").start()
    val b1 = Seq((100L, v(1, 0.05, 0, 0)))
    val b2 = Seq((200L, v(0, 0, 1, 0.05)), (300L, v(0.6, 0, 0.6, 0)))
    mem.addData(b1: _*); q.processAllAvailable()   // micro-batch 1
    mem.addData(b2: _*); q.processAllAvailable()   // micro-batch 2
    val streamed = spark.table("ann_flags")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // zero streaming state: no state-store operator in any progress
    assert(q.lastProgress == null ||
      Option(q.lastProgress.stateOperators).forall(_.isEmpty))
    q.stop()
    // cross-batch flags ≡ one batch probe over the union (per-query
    // independence — the r11 verdict #8 contract)
    val batch = Similarity.ivfIndexProbeFlags(cellRel, centRel,
      (b1 ++ b2).toDF("vec_id", "embedding"), "vec_id", "embedding",
      nProbe = 2, minCos = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    // the flags are the RIGHT ones: each query matches only its own
    // cluster; the diagonal query (cos ≈ 0.71 everywhere) matches none
    assert(batch.nonEmpty)
    assert(batch.forall { case (qid, cid) =>
      (qid == 100L && Set(1L, 2L, 3L).contains(cid)) ||
        (qid == 200L && Set(4L, 5L, 6L).contains(cid)) })
    cellRel.unpersist()
  }
}
