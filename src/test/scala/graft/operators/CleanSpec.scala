package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}

import graft.SparkSpec
import graft.schema.Observation

/** Port of the reference's transformation tests
  * (`/root/reference/tests/test_transformations.py`) over the equivalent
  * fixture — SURVEY.md §5 adopts the tests' semantics as canonical.
  */
class CleanSpec extends SparkSpec {

  private def fixture = spark.read
    .schema(Observation.wireSchema)
    .json(getClass.getResource("/sample_observations.json").getPath)

  test("coerceToSchema casts, fills missing columns, projects to schema order") {
    import spark.implicits._
    val raw = Seq(
      ("101104", "2024-06-01T10:00:00Z", "12.5", "bad-number"),
      ("100971", "2024-06-01T11:00:00Z", "7.25", "55")
    ).toDF("station_id", "timestamp", "temperature", "humidity")
    val out = Clean.coerceToSchema(raw, Observation.schema)
    assert(out.columns.toSeq == Observation.schema.fields.map(_.name).toSeq)
    val rows = out.orderBy("station_id").collect()
    // errors="coerce": unparseable humidity → null, not an abort
    assert(rows(1).getAs[Double]("temperature") == 12.5)
    assert(rows(1).isNullAt(rows(1).fieldIndex("humidity")))
    assert(rows(0).getAs[Double]("humidity") == 55.0)
    // absent columns arrive as typed nulls
    assert(rows(0).isNullAt(rows(0).fieldIndex("latitude")))
  }

  test("timestamp normalization: Z-suffix and tz-naive both land in UTC") {
    import spark.implicits._
    val df = Seq("2024-06-01T10:00:00Z", "2024-06-01T10:00:00",
      "2024-06-01T13:00:00+03:00").toDF("ts")
    // C2 runs inside C1: coercion try-casts the wire string to TIMESTAMP
    val out = Clean.coerceToSchema(df.withColumnRenamed("ts", "t"),
      StructType(Seq(StructField("t", TimestampType)))).collect()
    assert(out.forall(_.getAs[Timestamp]("t") ==
      Timestamp.valueOf("2024-06-01 10:00:00")))
  }

  test("prepareHourly floors to hour and keeps latest reading per hour " +
      "(test_prepare_hourly_for_bigquery_floors_and_dedupes)") {
    import spark.implicits._
    // the reference's inline 4-row frame: S1 00:15/00:45/01:05, S2 00:10
    val raw = Seq(
      ("S1", "2024-01-01T00:15:00Z", 1.0),
      ("S1", "2024-01-01T00:45:00Z", 2.0),
      ("S1", "2024-01-01T01:05:00Z", 3.0),
      ("S2", "2024-01-01T00:10:00Z", 4.0)
    ).toDF("station_id", "timestamp", "temperature")
    val (clean, rejected) = Clean.prepareHourly(raw, Observation.schema)
    assert(rejected.count() == 0)
    val rows = clean.orderBy("station_id", "timestamp").collect()
    assert(rows.length == 3)
    // S1 hour 00:00 keeps the LATEST original reading (00:45 → temp 2)
    assert(rows(0).getAs[Timestamp]("timestamp") == Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(rows(0).getAs[Double]("temperature") == 2.0)
    assert(rows(1).getAs[Double]("temperature") == 3.0)
    assert(rows(2).getAs[String]("station_id") == "S2")
  }

  test("prepareHourly on the fixture: intra-hour duplicate collapses keep-last") {
    val (clean, _) = Clean.prepareHourly(fixture.toDF(), Observation.schema)
    assert(clean.count() == 5) // 6 records, 101104's two 10:xx rows collapse
    val helsinki = clean.filter(col("station_id") === "101104").collect()(0)
    assert(helsinki.getAs[Double]("temperature") == 12.9) // 10:10 wins
  }

  test("dropNullKeys removes rows with null required fields " +
      "(test_prepare_for_bigquery_removes_nulls)") {
    import spark.implicits._
    val df = Seq(
      (Some("S1"), Some("2024-01-01T00:00:00Z")),
      (None, Some("2024-01-01T00:00:00Z")),
      (Some("S2"), None)
    ).toDF("station_id", "timestamp")
    assert(Clean.dropNullKeys(df, Seq("station_id", "timestamp")).count() == 1)
  }

  test("dedupKeepFirst is deterministic on the ordering columns " +
      "(test_deduplicate_removes_duplicates)") {
    import spark.implicits._
    val df = Seq(
      ("S1", "2024-01-01T00:00:00Z", 1.0),
      ("S1", "2024-01-01T00:00:00Z", 2.0), // exact dup key, later value
      ("S2", "2024-01-01T00:00:00Z", 3.0)
    ).toDF("station_id", "timestamp", "temperature")
    val out = Clean.dedupKeepFirst(df, Seq("station_id", "timestamp"),
      Seq(col("temperature")))
    assert(out.count() == 2)
    assert(out.filter(col("station_id") === "S1").collect()(0)
      .getAs[Double]("temperature") == 1.0)
  }

  test("validInvalidSplit salvages instead of aborting " +
      "(test_validate_against_schema splits)") {
    import spark.implicits._
    val df = Seq(
      (Some("S1"), Some(Timestamp.valueOf("2024-01-01 00:00:00"))),
      (None: Option[String], Some(Timestamp.valueOf("2024-01-01 00:00:00")))
    ).toDF("station_id", "timestamp")
    val (good, bad) = Clean.validInvalidSplit(df, Observation.schema)
    assert(good.count() == 1 && bad.count() == 1)
  }

  test("whitelist keeps only listed stations (test_build_long_term_tables)") {
    val out = Clean.whitelist(fixture.toDF(), "station_id", Seq("101104", "100971"))
    assert(out.select("station_id").distinct().count() == 2)
  }
}
