package graft.streaming

import java.io.File
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
    val warehouse: String = tempDir("graft-wh")
    val checkpoint: String = tempDir("graft-ck")
    private val mem = MemoryStream[String]

    def feedJson(lines: Seq[String]): StreamingQuery = {
      mem.addData(lines)
      restart()
    }

    /** Runs the query from its checkpoint over whatever is not yet committed. */
    def restart(): StreamingQuery = {
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
    // only a null station id: the first batch writes nothing, and the
    // warehouse holds 0 rows rather than an unreadable empty directory
    c.feedJson(Seq("""{"station_id":null,"station_name":"x",""" +
      """"timestamp":"2024-06-01T10:20:00Z","temperature":7.0}"""))
    assert(c.batchDirs.isEmpty)
    def persisted(n: Long) = StreamPipeline.verifyRowPersistence(spark, c.warehouse, n)
    assert(scala.util.Try(persisted(0)).isSuccess)
    assert(persisted(0))
    assert(!persisted(1))
    c.feed(Seq(obs("S1", "2024-06-01 10:00:00", 1.0),
      obs("S2", "2024-06-01 10:00:00", 2.0)))
    // only a replay and older readings: the monotonic dedup drops them all
    c.feed(Seq(obs("S1", "2024-06-01 10:00:00", 9.0),
      obs("S1", "2024-06-01 09:00:00", 9.0),
      obs("S2", "2024-06-01 08:00:00", 9.0)))
    c.feed(Seq(obs("S1", "2024-06-01 11:00:00", 3.0)))
    assert(c.batchDirs == Set("batch_id=1", "batch_id=3"))
    assert(spark.read.parquet(s"${c.warehouse}/batch_id=3").count() == 1)
    assert(persisted(3))
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

  test("writeHourly W3: a batch re-run after a crash between its write and " +
      "its commit lands exactly once, with the state of an uninterrupted run") {
    val crashed = new HourlyConsumer
    val steady = new HourlyConsumer
    val batch0 = Seq(obs("S1", "2024-06-01 10:00:00", 1.0),
      obs("S2", "2024-06-01 10:00:00", 2.0))
    val batch1 = Seq(obs("S1", "2024-06-01 11:00:00", 3.0),
      obs("S1", "2024-06-01 11:20:00", 4.0),
      obs("S2", "2024-06-01 12:00:00", 5.0))
    for (c <- Seq(crashed, steady)) { c.feed(batch0); c.feed(batch1) }

    // the crash: batch 1's output is written but its commit is not, so the
    // restart re-runs batch 1 from the offset log over the state of batch 0
    val commits = new File(crashed.checkpoint, "commits")
    assert(new File(commits, "1").delete())
    val crc = new File(commits, ".1.crc")
    assert(!crc.exists() || crc.delete())
    val q = crashed.restart()
    assert(q.exception.isEmpty)
    assert(new File(commits, "1").exists())

    def rows(c: HourlyConsumer): Seq[String] =
      spark.read.parquet(c.warehouse).collect().map(_.mkString("|")).sorted.toSeq
    assert(crashed.batchDirs == Set("batch_id=0", "batch_id=1"))
    assert(crashed.batchDirs == steady.batchDirs)
    assert(rows(crashed).size == 4)
    assert(rows(crashed).distinct == rows(crashed))
    assert(rows(crashed) == rows(steady))

    // equal high-water marks: each station's latest reading replayed is
    // dropped by both, and only the newer reading lands
    for (c <- Seq(crashed, steady))
      c.feed(Seq(obs("S1", "2024-06-01 11:20:00", 9.0),
        obs("S2", "2024-06-01 12:00:00", 9.0),
        obs("S2", "2024-06-01 13:00:00", 6.0)))
    for (c <- Seq(crashed, steady)) {
      val landed = spark.read.parquet(s"${c.warehouse}/batch_id=2").collect()
        .map(r => (r.getAs[String]("station_id"), r.getAs[Timestamp]("timestamp"),
          r.getAs[Double]("temperature"))).toSeq
      assert(landed == Seq(("S2", ts("2024-06-01 13:00:00"), 6.0)))
    }
    assert(rows(crashed) == rows(steady))
  }

  test("writeHourly keeps every checkpoint checksum: each state delta " +
      "has Spark's checksum file, and log and state files their Hadoop .crc") {
    val c = new HourlyConsumer
    c.feed(Seq(obs("S1", "2024-06-01 10:00:00", 1.0),
      obs("S2", "2024-06-01 10:00:00", 2.0)))
    c.feed(Seq(obs("S1", "2024-06-01 11:00:00", 3.0)))
    def names(dir: File): Set[String] = dir.listFiles().map(_.getName).toSet
    for (log <- Seq("offsets", "commits"); n <- Seq(0, 1))
      assert(Set(s"$n", s".$n.crc").subsetOf(names(new File(c.checkpoint, log))), log)
    val partitions = new File(c.checkpoint, "state/0").listFiles()
      .filter(_.getName.forall(_.isDigit))
    assert(partitions.length == spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // state version v is written by batch v - 1
    for (p <- partitions; v <- Seq(1, 2))
      assert(Set(s"$v.delta", s".$v.delta.crc", s"$v.delta.crc", s".$v.delta.crc.crc")
        .subsetOf(names(p)), p)
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
