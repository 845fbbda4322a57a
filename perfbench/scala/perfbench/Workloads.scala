package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{CacheScope, GraftSession, SparkEntry}
import graft.functions.TextFns
import graft.operators.{Analytics, Clean, Dedup, Similarity}
import graft.streaming.StreamPipeline

/** One measured operation: wall latency, items of work it completed,
  * whether its output matched the reference (None: checked after the run)
  * and its kind (the query, for a mix). */
final case class Op(latencyNs: Long, items: Long, ok: Option[Boolean], kind: String = "")

/** Context shared by the workloads of one run. */
final class Ctx(val spark: SparkSession, val seed: Long, val data: String,
    val work: String, val tracer: Tracer, val probes: Option[Probes],
    val oracle: Map[String, Digest]) {
  private var dirs = 0
  def freshDir(prefix: String): String = {
    dirs += 1
    s"$work/$prefix-$dirs"
  }
}

abstract class Workload(val ctx: Ctx) {
  implicit val spark: SparkSession = ctx.spark
  def tracer: Tracer = ctx.tracer
  /** What one item of throughput is. */
  def itemName: String
  /** Inputs the set-up reads, made once per run and not timed. */
  def prepare(): Unit = ()
  /** Build the state the loop runs against; returns its duration. Called
    * several times per run; the loop runs against the last one. */
  def setup(): Double
  def op(traced: Boolean): Op
  /** Whether the i-th measured operation of a traced run records spans;
    * the others give the untraced baseline for the tracing overhead. */
  def traced(i: Int): Boolean = i % 2 == 1
  /** Operations per cycle of the mix; warm-up ends on a whole cycle. */
  def cycleLength: Int = 1
  /** Warm-up before measuring, which also ends on a whole cycle: JIT and
    * codegen caches settle. */
  def warmSeconds: Double
  /** Checks that can only run once the loop is over: (attempted, failed). */
  def finish(): (Long, Long) = (0L, 0L)
  /** The end-to-end measurements under this workload's own names, with
    * units, printed beside the metrics; p90s are printed, not gated: a run
    * holds far fewer than the 100 samples a steady p90 needs. */
  def named(untraced: Seq[Op]): Seq[(String, Double, String)] = Nil
  /** Workload-specific per-layer metrics (traced run only). */
  def layerMetrics(): Map[String, Double] = Map.empty

  /** build → plan → execute of one Dataset action, each a child span. */
  protected def phases(layer: String, traced: Boolean)(build: => DataFrame): Array[Row] =
    if (!traced) build.collect()
    else {
      val df = tracer.span("build", layer)(build)
      tracer.span("plan", "plans")(df.queryExecution.executedPlan)
      tracer.span("execute", "engine")(df.collect())
    }

  protected def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest_stream" => new IngestStream(ctx)
    case "batch_read" => new BatchRead(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** A long-lived `StreamPipeline.writeHourly` query fed through a
  * MemoryStream, with the plain-Scala replay of every batch alongside. */
final class Stream(ctx: Ctx, seed: Long, val warehouse: String) {
  import ctx.spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext
  val gen = new ObsGen(seed)
  val replay = new Replay
  private val mem = MemoryStream[String]
  val query: StreamingQuery = StreamPipeline.writeHourly(mem.toDF().select(col("value")),
    warehouse, ctx.freshDir("checkpoint"), Trigger.ProcessingTime(0L))(ctx.spark)
  var batches = 0

  /** Generate, replay and feed one batch; returns (records, latency ns). */
  def feed(n: Int, tracer: Tracer): Long = {
    val recs = gen.batch(n)
    replay(recs)
    val lines = recs.map(_.json)
    val t0 = System.nanoTime()
    tracer.span("add_data", "sources")(mem.addData(lines))
    tracer.span("process", "streaming")(query.processAllAvailable())
    batches += 1
    System.nanoTime() - t0
  }

  /** Warehouse rows grouped by micro-batch id. */
  def written(): Map[Int, Array[Row]] =
    if (!new File(warehouse).exists()) Map.empty
    else ctx.spark.read.parquet(warehouse).collect()
      .groupBy(r => r.getAs[Int]("batch_id"))
      .map { case (b, rs) => b -> rs.map(r => Row.fromSeq(r.toSeq.dropRight(1))) }
}

object IngestStream {
  /** The consumer's batch: `StreamPipeline.kafkaSourceOptions`
    * (maxOffsetsPerTrigger) and the reference consumer's `--batch-size`. */
  val BatchRecords = 500
}

/** `ingest_stream`: the reference's producer → Kafka → consumer → hourly
  * warehouse path, one micro-batch per operation. */
final class IngestStream(ctx: Ctx) extends Workload(ctx) {
  import IngestStream._
  def itemName = "rows"
  def warmSeconds: Double = 3.0
  private var stream: Stream = _
  private case class TracedBatch(id: Long, endNs: Long, span: Int)
  private val tracedBatches = mutable.ArrayBuffer.empty[TracedBatch]

  def setup(): Double = {
    if (stream != null) stream.query.stop()
    timed {
      stream = new Stream(ctx, ctx.seed, ctx.freshDir("warehouse"))
      stream.feed(BatchRecords, Main.untraced)
    }
  }

  def op(traced: Boolean): Op = {
    val t = if (traced) tracer else Main.untraced
    var ns = 0L
    t.span("batch", "harness") {
      ns = stream.feed(BatchRecords, t)
      // the trigger's phases nest under the `process` span feed just closed
      if (traced) tracedBatches += TracedBatch(stream.batches - 1L, System.nanoTime(), t.size - 1)
    }
    Op(ns, BatchRecords, None)
  }

  override def named(untraced: Seq[Op]): Seq[(String, Double, String)] = {
    val lat = untraced.map(_.latencyNs / 1e9)
    Seq(("ingest_rows_per_s", Main.kindThroughput(untraced), "1/s"),
      ("ingest_freshness_p50_s", Stats.median(lat), "s"),
      ("ingest_freshness_p90_s", Stats.quantile(lat, 0.9), "s"))
  }

  override def finish(): (Long, Long) = {
    stream.query.stop()
    val got = stream.written()
    val expected = stream.replay.batches
    val failed = expected.indices.count { b =>
      Canon.ofCells(expected(b).map(_.cells)) !=
        Canon.ofRows(got.getOrElse(b, Array.empty[Row]))
    }
    (expected.size.toLong, failed.toLong + (got.keySet -- expected.indices).size)
  }

  override def layerMetrics(): Map[String, Double] = {
    val p = ctx.probes.get
    val progress = p.stream.batches().filter(_.runId == stream.query.runId)
    val byBatch = progress.map(pr => pr.batchId -> pr).toMap
    def dur(key: String) = Stats.median(progress.map(pr =>
      Option(pr.durationMs.get(key)).map(_.longValue / 1e3).getOrElse(0.0)))
    val acts = p.actions.drain()
    // The trigger's phases become child spans of each traced batch, laid
    // back to back so the last ends when processAllAvailable returned;
    // the foreachBatch actions (isEmpty probe, parquet write) that ended
    // inside the batch become children of its addBatch phase.
    val phases = Seq("latestOffset", "walCommit", "queryPlanning", "addBatch", "commitOffsets")
    for (b <- tracedBatches; pr <- byBatch.get(b.id)) {
      val ms = phases.map(k => Option(pr.durationMs.get(k)).map(_.longValue * 1000000L).getOrElse(0L))
      var t = b.endNs - ms.sum
      phases.zip(ms).foreach { case (k, d) =>
        tracer.add(k, "streaming", t, t + d, b.span)
        if (k == "addBatch") {
          val addBatch = tracer.size - 1
          acts.filter(a => a.endNs > t && a.endNs <= b.endNs).foreach { a =>
            tracer.add(a.func, if (a.func == "isEmpty") "clean" else "sink",
              a.endNs - a.durationNs, a.endNs, addBatch)
          }
        }
        t += d
      }
    }
    def act(f: String => Boolean) = Stats.median(acts.filter(a => f(a.func)).map(_.durationNs / 1e9))
    val state = progress.flatMap(_.stateOperators.headOption)
    val files = new File(stream.warehouse).listFiles()
      .filter(_.getName.startsWith("batch_id="))
      .map(_.listFiles().filter(f => f.getName.endsWith(".parquet")))
    Map(
      "streaming.trigger_s" -> dur("triggerExecution"),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.planning_s" -> dur("queryPlanning"),
      "streaming.wal_commit_s" -> dur("walCommit"),
      "streaming.commit_offsets_s" -> dur("commitOffsets"),
      "streaming.state_rows" -> Stats.median(state.map(_.numRowsTotal.toDouble)),
      "streaming.state_bytes" -> Stats.median(state.map(_.memoryUsedBytes.toDouble)),
      "clean.empty_probe_s" -> act(_ == "isEmpty"),
      "sink.write_s" -> act(f => f != "isEmpty" && f != "collect"),
      "sink.files_written" -> Stats.mean(files.map(_.length.toDouble).toSeq),
      "sink.bytes_written" -> Stats.mean(files.map(_.map(_.length.toDouble).sum).toSeq))
  }
}

object BatchRead {
  /** Micro-batches of `BatchRecords` observations in the warehouse the
    * observation queries read: one `batch_id=` directory each, as ingest
    * leaves it. */
  val WarehouseBatches = 2
  val StarQueries = Seq("q01_pricing_summary", "q02_day_slice", "q03_region_revenue",
    "q04_top_customers", "q05_hourly_agg", "q30_sql_api")
  val ObsQueries = Seq("obs_day_slice", "obs_hourly_stats", "obs_latest", "obs_count")
  val Dashboard: Seq[String] = StarQueries ++ ObsQueries
  /** The curation job's three steps, each its own kind. */
  val Curation = Seq("curate_exact", "curate_minhash", "curate_knn")
  val StarTables = Seq("lineitem", "orders", "customer", "nation", "region", "events")
  val Shingle = 3
  val Hashes = 64
  val Bands = 16
  val MinJaccard = 0.8
}

/** `batch_read`: cycles of every dashboard query (observation warehouse
  * and star schema) and every step of the curation job. */
final class BatchRead(ctx: Ctx) extends Workload(ctx) {
  import BatchRead._
  def itemName = "queries"
  /** One whole cycle: every kind has planned and run once. */
  def warmSeconds: Double = 0.0
  private val rng = new java.util.SplittableRandom(ctx.seed * 7919 + 17)
  private var warehouse: String = _
  private var rows: Seq[OutRow] = Nil
  private var stationHours: Map[String, Seq[Long]] = Map.empty
  private var stations: IndexedSeq[String] = IndexedSeq.empty
  private val expected = mutable.HashMap.empty[String, Digest]
  private val kinds = Dashboard ++ Curation
  private val candidates = mutable.ArrayBuffer.empty[Double]
  private val confirmed = mutable.ArrayBuffer.empty[Double]
  private var docCount = 0L

  override def prepare(): Unit = {
    val s = new Stream(ctx, ctx.seed, ctx.freshDir("warehouse"))
    (0 until WarehouseBatches).foreach(_ => s.feed(IngestStream.BatchRecords, Main.untraced))
    s.query.stop()
    warehouse = s.warehouse
    rows = s.replay.all
    stationHours = rows.groupBy(_.rec.station.get).map { case (k, rs) => k -> rs.map(_.hourMs) }
    stations = stationHours.keys.toIndexedSeq.sorted
    docCount = docs.count()
  }

  private val Sources = StarTables ++ Seq("documents", "embeddings")

  /** Open every source once (listing, footers, schema), as a dashboard
    * or a curation service does when it starts. Each set-up opens fresh
    * paths (hard links to the same files), so no listing is cached. */
  def setup(): Double = {
    val dir = ctx.freshDir("open")
    link(new File(warehouse), new File(dir, "warehouse"))
    Sources.foreach(t => link(new File(ctx.data, s"$t.parquet"), new File(dir, s"$t.parquet")))
    timed {
      spark.read.parquet(s"$dir/warehouse").schema
      Sources.foreach(t => GraftSession.table(spark, dir, t).schema)
    }
  }

  private def link(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => link(f, new File(to, f.getName)))
    } else java.nio.file.Files.createLink(to.toPath, from.toPath)

  /** Each cycle runs every kind once, always in the same order: the seed
    * picks the inputs, not the order the JIT first sees the kinds in. */
  private var ops = 0
  private def nextKind(): String = {
    val k = kinds(ops % kinds.size)
    ops += 1
    k
  }

  /** Whole cycles alternate, so traced and untraced ops run the same mix. */
  override def traced(i: Int): Boolean = (i / kinds.size) % 2 == 1
  override def cycleLength: Int = kinds.size

  private def wh = spark.read.parquet(warehouse)
  private def docs = GraftSession.table(spark, ctx.data, "documents")
  private def emb = GraftSession.table(spark, ctx.data, "embeddings")
  private def exactDedup(d: DataFrame) =
    Dedup.exactByFingerprint(d, "doc_id", TextFns.prefixFingerprint(col("text"), 80))

  def op(traced: Boolean): Op = {
    val kind = nextKind()
    val st = stations(rng.nextInt(stations.size))
    val day = {
      val hours = stationHours(st)
      val d = hours(rng.nextInt(hours.size))
      d - Math.floorMod(d, 86400000L)
    }
    val t = if (traced) tracer else Main.untraced
    val key = kind match {
      case "obs_day_slice" => s"$kind/$st/$day"
      case "obs_hourly_stats" => s"$kind/$st"
      case _ => kind
    }
    val t0 = System.nanoTime()
    val out = t.span("query", "harness") {
      if (StarQueries.contains(kind))
        phases("spark_entry", traced)(SparkEntry.queries(kind)(spark, ctx.data))
      else kind match {
        case "obs_day_slice" =>
          val fmt = (ms: Long) => new Timestamp(ms).toInstant.toString.replace("T", " ").replace("Z", "")
          phases("analytics", traced)(Analytics.daySlice(wh.filter(col("station_id") === st),
            "timestamp", fmt(day), fmt(day + 86399000L),
            Seq("station_id", "timestamp", "temperature", "wind_speed", "batch_id"), "batch_id"))
        case "obs_hourly_stats" =>
          phases("streaming", traced)(StreamPipeline.hourlyStats(wh.filter(col("station_id") === st)))
        case "obs_latest" =>
          phases("clean", traced)(Clean.dedupKeepLast(wh, Seq("station_id"),
            Seq(col("timestamp"), col("batch_id")))
            .select("station_id", "timestamp", "temperature", "batch_id"))
        case "obs_count" =>
          phases("sources", traced)(wh.agg(count(lit(1))))
        case "curate_exact" =>
          t.span("exact", "dedup")(phases("dedup", traced)(
            exactDedup(docs).select("doc_id", "fingerprint", "group_size")))
        case "curate_minhash" =>
          // near-dups among the exact-dedup survivors, which the job
          // caches for the LSH self-join as the registry's queries do
          t.span("minhash", "dedup")(phases("dedup", traced)(
            Dedup.minhashNearDups(CacheScope.register(exactDedup(docs)), "doc_id", "text",
              Shingle, Hashes, Bands, MinJaccard).select("id_a", "id_b", "jaccard")))
        case "curate_knn" =>
          t.span("knn", "similarity")(phases("similarity", traced)(
            Similarity.knnExactAgg(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)))
      }
    }
    val ns = System.nanoTime() - t0
    CacheScope.releaseAll()
    if (traced && kind == "curate_minhash") {
      // LSH precision: the candidate pairs the banding proposed over the
      // same survivors, counted outside the timed query
      val sigs = Dedup.minhashSignaturesArr(
        Dedup.shingleArrays(exactDedup(docs), "doc_id", "text", Shingle), Hashes)
      candidates += Dedup.lshCandidatePairs(sigs, Hashes, Bands).count().toDouble
      confirmed += out.length.toDouble
    }
    val want = expected.getOrElseUpdate(key, expect(kind, st, day))
    val got = Canon.ofRows(out, rounded = ObsQueries.contains(kind))
    if (got != want) System.err.println(s"mismatch $key traced=$traced got=$got want=$want")
    Op(ns, 1, Some(got == want), kind)
  }

  /** Reference result: the replay for the observation queries, the DuckDB
    * oracle for the rest. */
  private def expect(kind: String, st: String, day: Long): Digest = {
    def ts(ms: Long) = new Timestamp(ms)
    def cells(f: Iterable[Seq[Any]]) = Canon.ofCells(f, rounded = true)
    kind match {
      case "obs_day_slice" => cells(rows.filter(r => r.rec.station.contains(st) &&
          r.hourMs >= day && r.hourMs < day + 86400000L)
        .map(r => Seq(st, ts(r.hourMs), r.rec.temperature.orNull, r.rec.wind, r.batchId)))
      case "obs_hourly_stats" => cells(rows.filter(_.rec.station.contains(st))
        .groupBy(_.hourMs).toSeq.map { case (h, rs) =>
          val temps = rs.flatMap(_.rec.temperature)
          Seq(ts(h), st, rs.size.toLong,
            if (temps.isEmpty) null else temps.sum / temps.size, rs.map(_.rec.wind).max)
        })
      case "obs_latest" => cells(rows.groupBy(_.rec.station.get).values
        .map(_.maxBy(r => (r.hourMs, r.batchId)))
        .map(r => Seq(r.rec.station.get, ts(r.hourMs), r.rec.temperature.orNull, r.batchId)))
      case "obs_count" => cells(Seq(Seq(rows.size.toLong)))
      case k => ctx.oracle(Oracle.queryFor(k))
    }
  }

  override def named(untraced: Seq[Op]): Seq[(String, Double, String)] = {
    val dash = untraced.filter(o => Dashboard.contains(o.kind))
    val dashLat = dash.map(_.latencyNs / 1e9)
    val job = untraced.filter(o => Curation.contains(o.kind)).groupBy(_.kind).values
      .map(os => Stats.median(os.map(_.latencyNs / 1e9))).sum
    Seq(("dashboard_qps", Main.kindThroughput(dash), "1/s"),
      ("dashboard_latency_p50_s", Main.kindMedian(dash), "s"),
      ("dashboard_latency_p90_s", Stats.quantile(dashLat, 0.9), "s"),
      ("curation_job_p50_s", job, "s"),
      ("curation_docs_per_s", if (job > 0) docCount / job else 0.0, "1/s"))
  }

  override def layerMetrics(): Map[String, Double] = {
    val acts = ctx.probes.get.actions.drain().filter(_.func == "collect")
    val cand = Stats.mean(candidates.toSeq)
    val conf = Stats.mean(confirmed.toSeq)
    Map("scan.files_read" -> Stats.mean(acts.map(_.filesRead.toDouble)),
      "scan.bytes_read" -> Stats.mean(acts.map(_.bytesRead.toDouble)),
      "dedup.candidate_pairs" -> cand, "dedup.confirmed_pairs" -> conf,
      "dedup.lsh_precision" -> (if (cand > 0) conf / cand else 0.0))
  }
}
