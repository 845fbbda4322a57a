package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamPipeline

/** Runnable end-to-end demo of the streaming pipeline (the runtime surface
  * of graft.streaming): wire JSON through a MemoryStream source → parse →
  * per-key monotonic dedup (checkpointed state) → hourly keep-last prep →
  * parquet warehouse append, across two micro-batches with a replay and an
  * out-of-order record in the second. Prints the warehouse after each batch
  * and deletes its temporary warehouse and checkpoint afterwards.
  *
  * Usage: sbt "runMain graft.StreamDemo"
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    implicit val spark = GraftSession.getOrCreate()
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val warehouse = Files.createTempDirectory("graft-demo-wh").toString
    val checkpoint = Files.createTempDirectory("graft-demo-ck").toString

    val mem = MemoryStream[String]
    val wire = mem.toDF().select(col("value"))

    def rec(st: String, ts: String, temp: Double) =
      s"""{"station_id":"$st","station_name":"demo $st","latitude":60.17,""" +
        s""""longitude":24.94,"elevation":19.0,"timestamp":"$ts","temperature":$temp,""" +
        s""""humidity":55.0,"wind_speed":4.0}"""

    def runBatch(label: String, batch: Seq[String]): Unit = {
      mem.addData(batch)
      StreamPipeline.writeHourly(wire, warehouse, checkpoint,
        Trigger.AvailableNow()).awaitTermination()
      println(s"=== warehouse after $label ===")
      spark.read.parquet(warehouse).orderBy("station_id", "timestamp")
        .show(20, truncate = false)
    }

    try {
      runBatch("batch 1 (two readings in one hour -> keep-last)", Seq(
        rec("101104", "2024-06-01T10:00:00Z", 12.4),
        rec("101104", "2024-06-01T10:10:00Z", 12.9),
        rec("100971", "2024-06-01T10:00:00Z", 11.8)))

      runBatch("batch 2 (replay + out-of-order dropped by watermark, new hour passes)", Seq(
        rec("101104", "2024-06-01T10:10:00Z", 99.0), // replay → dropped
        rec("101104", "2024-06-01T09:00:00Z", 99.0), // older → dropped
        rec("101104", "2024-06-01T11:00:00Z", 13.3))) // newer → appended

      println(s"rows persisted >= 3: " +
        StreamPipeline.verifyRowPersistence(spark, warehouse, 3))
    } finally Seq(warehouse, checkpoint).foreach(d => FileUtils.deleteDirectory(new File(d)))

    // windowed streaming aggregation face (W5): hourly stats over a stream
    import org.apache.spark.sql.functions.col
    val mem2 = MemoryStream[graft.schema.Observation]
    mem2.addData(
      graft.schema.Observation("101104", Some("demo"), Some(60.17), Some(24.94),
        Some(19.0), java.sql.Timestamp.valueOf("2024-06-01 10:05:00"),
        Some(10.0), Some(50.0), Some(3.0)),
      graft.schema.Observation("101104", Some("demo"), Some(60.17), Some(24.94),
        Some(19.0), java.sql.Timestamp.valueOf("2024-06-01 10:45:00"),
        Some(20.0), Some(50.0), Some(7.0)))
    val agg = StreamPipeline.hourlyStats(mem2.toDF())
      .writeStream.format("memory").queryName("demo_hourly")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    agg.awaitTermination()
    println("=== streaming hourly stats ===")
    spark.table("demo_hourly").orderBy(col("hour"), col("station_id"))
      .show(10, truncate = false)

    // stream-stream join face: two live streams (views, purchases) joined
    // on user within a trailing 1-hour interval — watermarks bound the
    // join state on both sides
    import java.sql.Timestamp
    val views = MemoryStream[(String, Timestamp, String)]
    val purchases = MemoryStream[(String, Timestamp, Double)]
    views.addData(
      ("u1", Timestamp.valueOf("2024-06-01 10:10:00"), "product-page"),
      ("u2", Timestamp.valueOf("2024-06-01 10:20:00"), "landing-page"),
      ("u1", Timestamp.valueOf("2024-06-01 12:00:00"), "product-page"))
    purchases.addData(
      ("u1", Timestamp.valueOf("2024-06-01 10:05:00"), 99.0), // within the hour of view 1
      ("u2", Timestamp.valueOf("2024-06-01 11:00:00"), 5.0))  // AFTER u2's view → no match
    val joined = StreamPipeline.intervalJoin(
        views.toDF().toDF("user_id", "vts", "page"),
        purchases.toDF().toDF("user_id", "pts", "amount"),
        "user_id", "vts", "pts", "1 hour")
      .writeStream.format("memory").queryName("demo_ss_join")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    joined.awaitTermination()
    println("=== stream-stream interval join (views ⋈ purchases ≤1h before) ===")
    spark.table("demo_ss_join").orderBy(col("vts")).show(10, truncate = false)
    spark.stop()
  }
}
