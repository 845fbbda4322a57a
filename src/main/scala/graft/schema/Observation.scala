package graft.schema

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** The weather-observation record — the reference engine's unit of data.
  *
  * Mirrors the `Observation` TypedDict at
  * `/root/reference/src/data_processing/fmi_client.py:24-32` plus the
  * `elevation` field the reference's tests still expect
  * (`/root/reference/tests/test_transformations.py:64`); SURVEY.md §5
  * documents the decision to keep it.
  */
case class Observation(
    station_id: String,
    station_name: Option[String],
    latitude: Option[Double],
    longitude: Option[Double],
    elevation: Option[Double],
    timestamp: Timestamp,
    temperature: Option[Double],
    humidity: Option[Double],
    wind_speed: Option[Double])

object Observation {

  /** Warehouse schema, the Spark rendering of `BIGQUERY_HOURLY_SCHEMA`
    * (`/root/reference/src/data_processing/transformations.py:17-74`):
    * `mode: REQUIRED` → `nullable = false`, STRING/FLOAT/TIMESTAMP →
    * StringType/DoubleType/TimestampType (session time zone pinned UTC).
    */
  val schema: StructType = StructType(Seq(
    StructField("station_id", StringType, nullable = false)
      .withComment("FMI station identifier"),
    StructField("station_name", StringType, nullable = true),
    StructField("latitude", DoubleType, nullable = true),
    StructField("longitude", DoubleType, nullable = true),
    StructField("elevation", DoubleType, nullable = true),
    StructField("timestamp", TimestampType, nullable = false)
      .withComment("observation instant, UTC"),
    StructField("temperature", DoubleType, nullable = true),
    StructField("humidity", DoubleType, nullable = true),
    StructField("wind_speed", DoubleType, nullable = true)))

  /** Fields whose nulls force a row to be dropped (F1,
    * `/root/reference/src/data_processing/transformations.py:189-198`). */
  val requiredFields: Seq[String] = Seq("station_id", "timestamp")

  /** Raw wire schema: what a Kafka JSON message carries before coercion
    * (everything a string-or-number; `kafka_stream.py:60,299`). Used with
    * `from_json` on the streaming path.
    */
  val wireSchema: StructType = StructType(schema.fields.map {
    case f if f.name == "timestamp" => f.copy(dataType = StringType, nullable = true)
    case f => f.copy(nullable = true)
  })
}
