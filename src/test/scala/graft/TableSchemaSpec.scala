package graft

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `GraftSession.table` infers a table file's schema once: a later open of
  * the unchanged file passes the stored schema and starts no Spark job,
  * and a rewritten file is inferred again. */
class TableSchemaSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  test("a second open of an unchanged table file starts no Spark job and " +
      "returns the schema Spark infers") {
    for (t <- tables) {
      GraftSession.table(spark, sf, t)
      val (df, jobs) = jobsStarted(GraftSession.table(spark, sf, t))
      assert(jobs == 0, t)
      assert(df.schema == spark.read.parquet(s"$sf/$t.parquet").schema, t)
    }
  }

  test("an events file overwritten with another schema is inferred again " +
      "by one job, and its new entry is reused") {
    import spark.implicits._
    val dir = tempDir("graft-table")
    def write(df: DataFrame): Unit =
      df.withColumn("ts", to_timestamp(col("ts")).cast("timestamp_ntz"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def open(): (DataFrame, Int) = jobsStarted(GraftSession.table(spark, dir, "events"))
    def at(ts: String) = LocalDateTime.parse(ts)

    write(Seq(("u1", "2024-01-01T10:00:00")).toDF("user_id", "ts"))
    val (first, firstJobs) = open()
    assert(firstJobs == 1)
    assert(first.collect().toSeq == Seq(Row("u1", at("2024-01-01T10:00:00"))))

    write(Seq((7L, "click", "2024-01-02T11:00:00"), (8L, "view", "2024-01-02T12:00:00"))
      .toDF("user_id", "event_type", "ts"))
    val (second, secondJobs) = open()
    assert(secondJobs == 1)
    assert(second.schema == spark.read.parquet(s"$dir/events.parquet").schema)
    assert(second.columns.toSeq == Seq("user_id", "event_type", "ts"))
    assert(second.orderBy("user_id").collect().toSeq == Seq(
      Row(7L, "click", at("2024-01-02T11:00:00")),
      Row(8L, "view", at("2024-01-02T12:00:00"))))

    val (third, thirdJobs) = open()
    assert(thirdJobs == 0)
    assert(third.schema == second.schema)
  }
}
