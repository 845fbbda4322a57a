package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch cleaning core — the Spark rendering of the reference's
  * `transformations.py` pipeline (SURVEY.md §2.2-2.4).
  *
  * Everything here is declarative DataFrame API so Catalyst keeps predicate
  * pushdown / column pruning / whole-stage codegen; the only shuffles are the
  * ones the semantics require (keyed windows for deterministic dedup).
  */
object Clean {

  /** C1 — schema coercion + projection
    * (`/root/reference/src/data_processing/transformations.py:118-141`).
    *
    * Casts every column to the target schema with null-on-failure semantics
    * (pandas `errors="coerce"` ≈ `try_cast` under ANSI mode), fills columns
    * absent from the input with typed nulls, and projects to schema order.
    * Pure projection: no shuffle, survives any scale.
    */
  def coerceToSchema(df: DataFrame, schema: StructType): DataFrame = {
    val present = df.columns.toSet
    val cols = schema.fields.map { f =>
      if (present.contains(f.name))
        expr(s"try_cast(`${f.name}` AS ${f.dataType.sql})").as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** C3 — hour flooring (`README.md:37,73`;
    * `tests/test_transformations.py:89-106` — the spec the reference's code
    * drifted from; SURVEY.md §5 adopts the test semantics).
    */
  def floorToHour(c: Column): Column =
    // date_trunc returns TimestampType even for NTZ input; keep the input's
    // naive flavor (session TZ is UTC, so the round-trip is lossless)
    date_trunc("hour", c).cast("timestamp_ntz")

  /** F1 — required-field null filter (`transformations.py:189-198`). */
  def dropNullKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.filter(keys.map(col(_).isNotNull).reduce(_ && _))

  /** F2 — whitelist semi-join (`transformations.py:112`). For literal lists
    * this is an `isin` (codegen'd, pushed to the scan); for a whitelist
    * relation use `df.join(broadcast(ids), keys, "left_semi")`.
    */
  def whitelist(df: DataFrame, colName: String, values: Seq[Any]): DataFrame =
    df.filter(col(colName).isin(values: _*))

  /** F3 — row-validity split (`transformations.py:144-178`): rows whose
    * non-null values don't conform to the schema go to the reject frame
    * instead of aborting the load. After [[coerceToSchema]] the type checks
    * are vacuous (columns are typed), so validity reduces to the REQUIRED
    * (non-nullable) fields being present.
    */
  def validInvalidSplit(df: DataFrame, schema: StructType): (DataFrame, DataFrame) = {
    val required = schema.fields.filter(!_.nullable).map(f => col(f.name).isNotNull)
    val p = if (required.isEmpty) lit(true) else required.reduce(_ && _)
    (df.filter(p), df.filter(!p))
  }

  /** D1 — dedup keep-first (`transformations.py:76-84`). Deterministic:
    * "first" is defined by `order` (the reference relies on arrival order,
    * which a distributed engine must make explicit). Implemented as a keyed
    * window `row_number` — one shuffle on the dedup key, no driver state,
    * scales linearly.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    dedupRanked(df, keys, order)

  /** D2 — dedup keep-last (`transformations.py:233-237`;
    * `tests/test_transformations.py:99-106`): latest record per key wins.
    * NOT `dropDuplicates` (which keeps an arbitrary row) — a window ranked
    * by the ordering columns descending.
    */
  def dedupKeepLast(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    dedupRanked(df, keys, order.map(_.desc))

  private def dedupRanked(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*).orderBy(order.toIndexedSeq: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The full hourly-prep pipeline
    * (`transformations.py:217-245` + the hour-floor spec): coerce → null
    * filter → floor to hour, keep the latest original-timestamp record in
    * each (station, hour) → validity split. Returns (clean, rejected).
    */
  def prepareHourly(raw: DataFrame, schema: StructType, keyCol: String = "station_id",
      tsCol: String = "timestamp"): (DataFrame, DataFrame) = {
    val coerced = coerceToSchema(raw, schema)
    val present = dropNullKeys(coerced, Seq(keyCol, tsCol))
    val floored = present
      .withColumn("__orig_ts", col(tsCol))
      // plain date_trunc (not the NTZ-flavored floorToHour): the warehouse
      // schema types `timestamp` as an instant (TimestampType)
      .withColumn(tsCol, date_trunc("hour", col(tsCol)))
    val deduped = dedupKeepLast(floored, Seq(keyCol, tsCol), Seq(col("__orig_ts")))
      .drop("__orig_ts")
    validInvalidSplit(deduped, schema)
  }
}
