package graft.streaming

import java.time.{Instant, ZoneId}
import java.time.temporal.ChronoUnit

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, Observation => RowCount}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Clean
import graft.schema.Observation

/** The Structured Streaming rendering of the reference's
  * producer → Kafka → consumer → warehouse pipeline (SURVEY.md §2.9, §3):
  * the hand-rolled poll/buffer/flush loop (`kafka_stream.py:335-361`), the
  * JSON codec (`:60, :299`), the per-key watermark dedup (`:237-284`) and
  * the append sink with verification (`:195-217`) collapse into one
  * streaming query with a checkpoint.
  *
  * Source-agnostic: any streaming DataFrame with a binary/string `value`
  * column works (MemoryStream in tests; `kafkaSourceOptions` documents the
  * production source — the kafka connector jar just needs to be on the
  * classpath).
  */
object StreamPipeline {

  /** S5/W4 — Kafka source options replicating the reference consumer's
    * policy (`kafka_stream.py:287-308, 335-361`): earliest offsets, ~500
    * records per micro-batch. Offsets live in the checkpoint (exactly-once
    * accounting, vs the reference's at-least-once auto-commit, W3).
    */
  def kafkaSourceOptions(bootstrap: String, topic: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> topic,
    "startingOffsets" -> "earliest",
    "maxOffsetsPerTrigger" -> "500")

  /** S4 — observations → Kafka-wire JSON (`kafka_stream.py:60`). */
  def toWire(obs: DataFrame): DataFrame =
    obs.select(col("station_id").cast("string").as("key"),
      to_json(struct(obs.columns.map(col).toIndexedSeq: _*)).as("value"))

  /** S5 — wire JSON → typed observation rows (`kafka_stream.py:299` +
    * `fmi_client.py:158-171`): parse with the explicit wire schema (never
    * inferred), then coerce to the warehouse schema (C1/C2).
    */
  def parseWire(wire: DataFrame): DataFrame = {
    val parsed = wire
      .select(from_json(col("value").cast("string"), Observation.wireSchema).as("o"))
      .select(col("o.*"))
    Clean.coerceToSchema(parsed, Observation.schema)
  }

  /** The hour an epoch-millisecond instant falls in, as the epoch millis of
    * its start in `zone`: the same `java.time` truncation that
    * `date_trunc("hour", ...)` applies under a session time zone of `zone`
    * (zones with a half-hour offset start their hours at :30 UTC).
    */
  def hourBucket(zone: ZoneId): Long => Long =
    t => Instant.ofEpochMilli(t).atZone(zone).truncatedTo(ChronoUnit.HOURS)
      .toInstant.toEpochMilli

  /** W1 + D2 — per-key strictly-monotonic dedup on the typed stream, keeping
    * the latest surviving reading of each station and hour (the keep-last of
    * `Clean.prepareHourly`). Hours are those of the session time zone at the
    * time the query is built, so they agree with the `date_trunc("hour", ...)`
    * that floors the written timestamp. Rows missing a required field (a null
    * or unparsable `timestamp`, a null `station_id`) are dropped first: they
    * have no event time to order by, and `Clean.prepareHourly` drops them
    * too (F1).
    */
  def dedupMonotonic(obs: DataFrame)(implicit spark: SparkSession): Dataset[Observation] = {
    import spark.implicits._
    val zone = ZoneId.of(obs.sparkSession.conf.get("spark.sql.session.timeZone"))
    MonotonicDedup.dedupe[String, Observation](
      Clean.dropNullKeys(obs, Observation.requiredFields).as[Observation],
      _.station_id, _.timestamp.getTime, hourBucket(zone))
  }

  /** S7/S8 + W4 — the full consumer: parse → monotonic dedup with hourly
    * keep-last → hour floor → parquet warehouse, checkpointed; the
    * Structured Streaming form of the reference's
    * buffer-then-`prepare_hourly_for_bigquery` flush (`kafka_stream.py:
    * 310-333`). The keep-last per (station, hour) happens inside the
    * [[dedupMonotonic]] state pass, which already holds each station's rows
    * in one task sorted by event time, so `foreachBatch` only floors
    * `timestamp` to the hour (a narrow projection) and the micro-batch
    * shuffles once, on the station key. Rows reaching it are already
    * non-null on `Observation.schema`'s required fields, so the batch form's
    * validity split has nothing to reject. `Clean.prepareHourly` remains
    * the batch definition the fold is tested against.
    *
    * W3 exactly-once: each micro-batch OVERWRITES its own
    * `batch_id=<n>` partition directory instead of blind-appending — a
    * retried batch (crash between write and checkpoint commit) replaces
    * its own partial output rather than duplicating it. The reference has
    * exactly this hole (crash between upload and watermark-save ⇒
    * duplicate rows, `kafka_stream.py:326-330`); partition-dir idempotence
    * closes it.
    *
    * Each micro-batch is computed ONCE, in one Spark job: the prepared
    * frame carries a Spark `Observation` row count and is written as is.
    * A batch whose rows were all dropped (replays, older readings,
    * malformed records) is detected by that count and its just-written
    * `batch_id=<n>` directory is removed after the write, so an empty batch
    * leaves no directory without a separate emptiness probe that would
    * re-run the parse and the state-store pass. A retried empty batch
    * overwrites and removes its directory again.
    */
  def writeHourly(wire: DataFrame, warehouseDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"))(
      implicit spark: SparkSession): StreamingQuery = {
    val deduped = dedupMonotonic(parseWire(wire))
    deduped.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Observation], batchId: Long) =>
        val clean = batch.toDF().withColumn("timestamp", date_trunc("hour", col("timestamp")))
        val out = new Path(s"$warehouseDir/batch_id=$batchId")
        val rows = RowCount()
        clean.observe(rows, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(out.toString)
        if (rows.get("n") == 0L)
          out.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
            .delete(out, true)
        ()
      }
      .start()
  }

  /** W5 streaming face — tumbling hourly per-station stats with an
    * event-time watermark bounding state (`window()` + `withWatermark`;
    * the reference only ever materialized this hourly rollup in batch).
    * In append mode a window emits once the watermark passes its end; use
    * complete/update for live dashboards.
    */
  def hourlyStats(obs: DataFrame, lateness: String = "2 hours"): DataFrame =
    obs.withWatermark("timestamp", lateness)
      .groupBy(window(col("timestamp"), "1 hour").as("w"), col("station_id"))
      .agg(count(lit(1)).as("n"),
        avg(col("temperature")).as("avg_temperature"),
        max(col("wind_speed")).as("max_wind_speed"))
      .select(col("w.start").as("hour"), col("station_id"), col("n"),
        col("avg_temperature"), col("max_wind_speed"))

  /** Streaming sessionization — the streaming face of the batch
    * sessionize operator (q33): events of a key separated by less than
    * `gap` of event-time silence coalesce into one session row via
    * `session_window` (dynamic, gap-merged windows — not expressible by
    * tumbling windows). Watermarked, so an open session's state is
    * evicted once the watermark passes its close: state is bounded by
    * ACTIVE sessions per key, never by history. Works identically on
    * batch frames (the watermark is a no-op there).
    */
  def sessionStats(events: DataFrame, keyCol: String, tsCol: String,
      gap: String, lateness: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("session_start"),
        col("w.end").as("session_end"), col(keyCol), col("n_events"))

  /** Streaming drift monitor — the streaming face of the batch PSI
    * report (q139): each tumbling window's value histogram is compared
    * to a REFERENCE histogram (the small per-bucket counts of a
    * training/baseline corpus, provided by the driver), emitting one
    * add-one-smoothed PSI row per closed window. The histogram is
    * unrolled into per-bucket sum columns of a SINGLE windowed
    * aggregation (one stateful operator, watermark-bounded state —
    * chained streaming aggregations would need a second state store),
    * and the PSI arithmetic is a stateless projection after it. Works
    * identically on batch frames (the watermark is a no-op).
    */
  def driftMonitor(df: DataFrame, tsCol: String, valueCol: String,
      lo: Double, hi: Double, reference: Seq[Long],
      windowLen: String = "1 hour", lateness: String = "1 hour"): DataFrame = {
    require(reference.nonEmpty && hi > lo, "need buckets and a real range")
    val nb = reference.size
    val nRef = reference.sum
    val bucket = least(lit(nb - 1), greatest(lit(0),
      floor((col(valueCol) - lo) * nb / (hi - lo)).cast("int")))
    val counts = (0 until nb).map(b =>
      sum(when(col("__b") === b, 1L).otherwise(0L)).as(s"c$b"))
    val agg = df.filter(col(valueCol).isNotNull)
      .withColumn("__b", bucket)
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen).as("w"))
      .agg(counts.head, counts.tail: _*)
    val nCur = (0 until nb).map(b => col(s"c$b")).reduce(_ + _)
    val psi = (0 until nb).map { b =>
      val pc = (col(s"c$b") + 1.0) / (nCur + nb)
      val pr = lit((reference(b) + 1.0) / (nRef.toDouble + nb))
      (pc - pr) * (log(pc) - log(pr))
    }.reduce(_ + _)
    agg.select(col("w.start").as("window_start"), nCur.as("n_events"),
      psi.as("psi"))
  }

  /** Streaming exact dedup with BOUNDED state (the W2 replay-drop for
    * arbitrary keys): duplicate rows on `keys` arriving within the
    * event-time watermark horizon are dropped, and per-key state is
    * evicted once the watermark passes its timestamp — so state is
    * O(keys per lateness window), not O(all keys ever) as with plain
    * `dropDuplicates` on a stream. Use when the dedup key is an event id
    * replayed by at-least-once sources; [[dedupMonotonic]] remains the
    * per-key ordered-stream form.
    */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, lateness: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming incremental ingestion dedup — the streaming face of
    * [[graft.operators.Dedup.incrementalDedup]]: a STREAM-STATIC
    * left-anti join drops rows whose fingerprint is already in the
    * published corpus (the static side is re-planned per micro-batch, so
    * readers pick up corpus updates between batches), then
    * `dropDuplicatesWithinWatermark` removes within-stream replays with
    * state bounded by the watermark horizon. The corpus side never
    * holds streaming state — it is a plain table join per batch.
    */
  def incrementalDedupStream(stream: DataFrame, corpusFps: DataFrame,
      fingerprint: org.apache.spark.sql.Column, tsCol: String,
      lateness: String): DataFrame =
    stream.withColumn("fingerprint", fingerprint)
      .join(corpusFps.select(col("fingerprint")).distinct(),
        Seq("fingerprint"), "left_anti")
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Watermarked stream-stream INNER interval join: each left row is
    * enriched by right rows with the same key whose timestamp falls in
    * `[leftTs - lookback, leftTs]` (e.g. views joined to the user's
    * purchases within the trailing hour). Both sides carry event-time
    * watermarks and the join condition bounds the time range in BOTH
    * directions, so Spark can evict join state once the watermark passes
    * — state is O(lookback + lateness) per key, never unbounded; without
    * the range bound a stream-stream join must keep every row forever.
    * Works identically on batch DataFrames (watermarks are no-ops there).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, lookback: String,
      lateness: String = "1 hour"): DataFrame =
    left.withWatermark(leftTs, lateness).as("l")
      .join(right.withWatermark(rightTs, lateness).as("r"),
        // every reference side-qualified: both streams naming their
        // event-time column the same way (ts/ts) must not be ambiguous
        col(s"l.$key") === col(s"r.$key") &&
          col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $lookback") &&
          col(s"r.$rightTs") <= col(s"l.$leftTs"))
      .drop(col(s"r.$key"))

  /** LEFT OUTER [[intervalJoin]]: left rows with no in-window right match
    * are still emitted (right side null) — but only once the watermark
    * proves no match can arrive, so unmatched results trail the stream by
    * the lateness + lookback bound instead of being wrong-then-retracted.
    * Structured Streaming requires the watermark + time-range bound for
    * exactly this reason: it is what makes "no match" a decidable,
    * evictable fact. The "views that never converted" shape — the outer
    * complement of the inner join's "views that converted".
    */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, lookback: String,
      lateness: String = "1 hour"): DataFrame =
    left.withWatermark(leftTs, lateness).as("l")
      .join(right.withWatermark(rightTs, lateness).as("r"),
        col(s"l.$key") === col(s"r.$key") &&
          col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $lookback") &&
          col(s"r.$rightTs") <= col(s"l.$leftTs"),
        "left_outer")
      .drop(col(s"r.$key"))

  /** A8 — post-load verification (`kafka_stream.py:161-193`): re-read the
    * sink and check the row count reached the expected floor.
    */
  def verifyRowPersistence(spark: SparkSession, warehouseDir: String,
      expectedAtLeast: Long): Boolean =
    spark.read.parquet(warehouseDir).count() >= expectedAtLeast
}
