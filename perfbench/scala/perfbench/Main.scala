package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.io.Source
import scala.sys.process._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Benchmark harness: one JVM, one client thread, `local[nproc]`.
  *
  * Usage (normally through perfbench/run.py):
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --data <dir> --work <dir> --out <result.json>
  */
object Main {
  val SetupReps = 3
  /** Whole cycles of the mix a run measures at least, so each kind's
    * median has three samples. */
  val MinCycles = 3
  val untraced = new Tracer(false)

  val Layers = Seq("harness", "sources", "streaming", "clean", "sink", "analytics",
    "spark_entry", "dedup", "similarity", "plans", "engine")
  val PerLayer: Seq[String] = Seq(
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.planning_s",
    "streaming.wal_commit_s", "streaming.commit_offsets_s", "streaming.state_rows",
    "streaming.state_bytes", "clean.empty_probe_s", "sink.write_s", "sink.files_written",
    "sink.bytes_written", "query.build_s", "query.plan_s", "query.exec_s",
    "scan.files_read", "scan.bytes_read", "dedup.exact_s", "dedup.minhash_s",
    "similarity.knn_s", "dedup.candidate_pairs", "dedup.confirmed_pairs",
    "dedup.lsh_precision", "cache.storage_bytes_peak", "engine.jobs", "engine.stages",
    "engine.tasks", "engine.busy_share", "engine.cpu_s", "engine.gc_s",
    "engine.shuffle_write_bytes", "engine.shuffle_read_bytes", "engine.spill_bytes",
    "trace.overhead_s", "trace.spans", "jvm.peak_rss_mb") ++ Layers.map(l => s"self.${l}_s")

  def unit(name: String): String = name match {
    case "throughput_per_s" => "1/s"
    case "jvm.peak_rss_mb" => "MB"
    case "engine.busy_share" | "dedup.lsh_precision" => "share"
    case n if n.endsWith("_bytes") || n.endsWith("bytes_read") ||
      n.endsWith("bytes_written") || n.endsWith("bytes_peak") => "bytes"
    case n if n.endsWith("_s") => "s"
    case _ => "count"
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traceOn = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val data = new File(opt("data")).getAbsolutePath
    new File(work).mkdirs()

    val spark = GraftSession.builder()
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cores = spark.sparkContext.defaultParallelism
    try {
      val oracle = Oracle.digests(name, data)
      val tracer = new Tracer(traceOn)
      val probes = if (traceOn) Some(new Probes(spark)) else None
      val ctx = new Ctx(spark, seed, data, work, tracer, probes, oracle)
      val w = Workload(name, ctx)

      val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      def phase(p: String): Unit =
        System.err.println(f"phase $p at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs")
      phase("session+oracle")
      w.prepare()
      phase("prepare")
      val setups = (1 to SetupReps).map(_ => w.setup())
      phase("setup")
      def attempt(traced: Boolean): Op = try w.op(traced) catch {
        case e: Exception =>
          System.err.println(s"operation failed: $e")
          Op(0L, 0L, Some(false), "failed")
      }
      val warmEnd = System.nanoTime() + (w.warmSeconds * 1e9).toLong
      // operations checked inline; the others are counted by finish()
      val warm = scala.collection.mutable.ArrayBuffer.empty[Op]
      while (warm.isEmpty || System.nanoTime() < warmEnd || warm.size % w.cycleLength != 0)
        warm += attempt(traced = false)

      phase("warm-up")
      probes.foreach(_.engine.settle())
      val before = probes.map(_.engine.snapshot())
      probes.foreach(_.engine.resetPeak())
      probes.foreach(_.actions.drain())
      val ops = scala.collection.mutable.ArrayBuffer.empty[(Op, Boolean)]
      val t0 = System.nanoTime()
      val end = t0 + (seconds * 1e9).toLong
      // whole cycles only, so every kind has as many samples as the others
      while (System.nanoTime() < end || ops.size < w.cycleLength * MinCycles ||
          ops.size % w.cycleLength != 0) {
        val traced = traceOn && w.traced(ops.size)
        ops += (attempt(traced) -> traced)
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val layer = if (traceOn) w.layerMetrics() else Map.empty[String, Double]
      probes.foreach(_.engine.settle())
      val after = probes.map(_.engine.snapshot())
      phase("measure")
      val (lateAttempted, lateFailed) = w.finish()
      phase("finish")

      val good = ops.filter(_._1.latencyNs > 0).map(_._1)
      val untraced = ops.filter(o => !o._2 && o._1.latencyNs > 0).map(_._1)
      val checked = (warm ++ ops.map(_._1)).filter(_.ok.isDefined)
      val attempted = checked.size + lateAttempted
      val failed = checked.count(_.ok.contains(false)) + lateFailed
      val endToEnd = Map(
        "setup_s" -> Stats.median(setups),
        "throughput_per_s" -> kindThroughput(good.toSeq),
        "latency_p50_s" -> kindMedian(untraced.toSeq))
      System.err.println("latencies_s " + good.map(o => f"${o.kind}=${o.latencyNs / 1e9}%.4f").mkString(" "))

      val metrics: Map[String, Double] =
        if (!traceOn) endToEnd
        else {
          val d = (k: String) => (after.get(k) - before.get(k)).toDouble / math.max(1, ops.size)
          val tracedOps = ops.filter(o => o._2 && o._1.latencyNs > 0).map(_._1)
          val spans = (n: String) => Stats.median(tracer.durations(n))
          val self = tracer.selfSeconds
          val base = PerLayer.map(_ -> 0.0).toMap ++ Map(
            "query.build_s" -> spans("build"), "query.plan_s" -> spans("plan"),
            "query.exec_s" -> spans("execute"), "dedup.exact_s" -> spans("exact"),
            "dedup.minhash_s" -> spans("minhash"), "similarity.knn_s" -> spans("knn"),
            "cache.storage_bytes_peak" -> probes.get.engine.storagePeak.toDouble,
            "engine.jobs" -> d("jobs"), "engine.stages" -> d("stages"),
            "engine.tasks" -> d("tasks"),
            "engine.busy_share" -> (after.get("run_ms") - before.get("run_ms")) / 1e3 / (wallS * cores),
            "engine.cpu_s" -> d("cpu_ns") / 1e9, "engine.gc_s" -> d("gc_ms") / 1e3,
            "engine.shuffle_write_bytes" -> d("shuffle_write"),
            "engine.shuffle_read_bytes" -> d("shuffle_read"),
            "engine.spill_bytes" -> d("spill"),
            "trace.overhead_s" -> (kindMedian(tracedOps.toSeq) - kindMedian(untraced.toSeq)),
            "trace.spans" -> tracer.size.toDouble, "jvm.peak_rss_mb" -> peakRssMb()) ++
            Layers.map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0) / math.max(1, tracedOps.size))
          base ++ layer
        }

      opt.get("trace-file").filter(_ => traceOn).foreach(tracer.write)
      report(w, name, metrics, untraced.toSeq, attempted, failed)
      writeResult(opt("out"), failed == 0, attempted, failed, metrics)
    } finally spark.stop()
  }

  /** Human-readable lines: every metric with its unit, then the same
    * measurements under the workload's own names. */
  private def report(w: Workload, name: String, metrics: Map[String, Double],
      untraced: Seq[Op], attempted: Long, failed: Long): Unit = {
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"metric $k%-28s $v%.6f ${unit(k)}") }
    w.named(untraced).foreach { case (k, v, u) => println(f"metric $k%-28s $v%.6f $u") }
    println(f"metric failed_share                 ${failed.toDouble / math.max(1, attempted)}%.6f share")
    println(s"info workload=$name item=${w.itemName} samples=${untraced.size} attempted=$attempted failed=$failed")
  }

  private def writeResult(path: String, correct: Boolean, attempted: Long, failed: Long,
      metrics: Map[String, Double]): Unit = {
    val m = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "${unit(k)}"}"""
    }.mkString(", ")
    val w = new PrintWriter(path)
    try w.println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$m}}""")
    finally w.close()
  }

  /** Items per second of a mix that runs every kind equally often (mean
    * items over mean latency, summed over kinds), however the samples of
    * a run fall across kinds. One kind: items over time. */
  def kindThroughput(ops: Seq[Op]): Double = {
    val byKind = ops.groupBy(_.kind).values
    byKind.map(os => Stats.mean(os.map(_.items.toDouble))).sum /
      byKind.map(os => Stats.mean(os.map(_.latencyNs / 1e9))).sum
  }

  /** Median latency of each operation kind, averaged over the kinds: a
    * mix's slow and fast queries each count once, however the samples
    * fall around the overall median. One kind: the plain median. */
  def kindMedian(ops: Seq[Op]): Double =
    Stats.mean(ops.groupBy(_.kind).values.map(os => Stats.median(os.map(_.latencyNs / 1e9))).toSeq)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** Reference results from the DuckDB oracle SQL the query registry
  * carries (`SparkEntry.oracleSql`), computed once per data directory by
  * perfbench/oracle.py and cached next to the data. */
object Oracle {
  private def json(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c => c.toString
  } + "\""

  /** The registry query whose oracle checks a `batch_read` kind. */
  def queryFor(kind: String): String = kind match {
    case "curate_exact" => "q19_exact_dedup"
    case "curate_minhash" => "q21_minhash_lsh"
    case "curate_knn" => "q24_knn_exact"
    case q => q
  }

  def digests(workload: String, data: String): Map[String, Digest] = {
    val sql = graft.SparkEntry.oracleSql
    val q19 = sql("q19_exact_dedup")
    val docs = s"read_parquet('$data/documents.parquet')"
    // q21 runs on the exact-dedup survivors, as the curation step does
    val survivors = Seq(s"CREATE TABLE survivors AS $q19",
      s"CREATE OR REPLACE VIEW documents AS SELECT * FROM $docs " +
        "WHERE doc_id IN (SELECT doc_id FROM survivors)")
    val wanted: Seq[(String, Seq[String], String)] = workload match {
      case "batch_read" =>
        BatchRead.StarQueries.map(q => (q, Nil, sql(q))) ++ Seq(("q19_exact_dedup", Nil, q19),
          ("q21_minhash_lsh", survivors, sql("q21_minhash_lsh")),
          ("q24_knn_exact", Nil, sql("q24_knn_exact")))
      case _ => Nil
    }
    if (wanted.isEmpty) return Map.empty
    val req = s"$data/oracle-$workload.request.json"
    val res = s"$data/oracle-$workload.json"
    val body = wanted.map { case (k, setup, q) =>
      s"""{"key": ${json(k)}, "setup": [${setup.map(json).mkString(", ")}], "sql": ${json(q)}}"""
    }.mkString("[", ",\n", "]")
    val old = if (new File(req).exists()) new String(Files.readAllBytes(Paths.get(req))) else ""
    if (old != body || !new File(res).exists()) {
      Files.write(Paths.get(req), body.getBytes("UTF-8"))
      val rc = Seq("python3", "perfbench/oracle.py", data, req, res).!
      if (rc != 0) throw new IllegalStateException(s"oracle failed with exit code $rc")
    }
    val Line = """\s*"([^"]+)": \[(\d+), "(\d+)"\],?""".r
    val src = Source.fromFile(res)
    try src.getLines().collect { case Line(k, n, s) => k -> Digest(n.toLong, s) }.toMap
    finally src.close()
  }
}
