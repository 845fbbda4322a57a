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
  * JSON decode (`:299`), the per-key watermark dedup (`:237-284`) and
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

  /** A8 — post-load verification (`kafka_stream.py:161-193`): re-read the
    * sink and check the row count reached the expected floor. A warehouse
    * with no `batch_id=` directory (every batch was empty) holds 0 rows;
    * the parquet reader would fail to infer its schema.
    */
  def verifyRowPersistence(spark: SparkSession, warehouseDir: String,
      expectedAtLeast: Long): Boolean = {
    val dir = new Path(warehouseDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows =
      if (fs.listStatus(dir).exists(_.getPath.getName.startsWith("batch_id=")))
        spark.read.parquet(warehouseDir).count()
      else 0L
    rows >= expectedAtLeast
  }
}
