package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Session + table-loading helpers shared by the library, Verify and tests.
  *
  * Design notes for scale (the engine targets a 1000-executor cluster even
  * though CI runs `local[32]`):
  *   - shuffle partitions default to the local core count (32) instead of
  *     Spark's 200; on a real cluster this is expected to be overridden to
  *     ~2-3x total cores.
  *   - AQE is on: runtime coalescing of shuffle partitions + skew-join
  *     splitting replace hand-tuned partition counts at 100 TB.
  *   - session time zone is pinned to UTC (the reference normalizes all
  *     timestamps to UTC — /root/reference/src/data_processing/fmi_client.py:168).
  *   - `file:` URIs use [[NioLocalFileSystem]] / [[NioLocalFs]], because
  *     stock Hadoop without libhadoop forks a `chmod` or `readlink` process
  *     per local file it creates or renames (~120 per streaming micro-batch).
  *   - the generated-code cache holds 1000 classes, not Spark's 100: one
  *     `batch_read` cycle (13 queries) leaves 219-244 entries, driver and
  *     task copies counted, and an LRU smaller than a repeating mix misses
  *     on every query. Cluster executors read the same static setting from
  *     the application conf; verified in `local` mode only.
  */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the Parquet reader rejects TIMESTAMP(NANOS) columns; read them as
      // long so table() can convert a nanos-written events file. The
      // testdata itself stores TIMESTAMP(MICROS).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // Hadoop caches a FileSystem by scheme and user, not by conf: a `file:`
      // one made in this JVM before the first session stays stock (the sink
      // forks again, still correct). Each entry point builds its session
      // first. FileContext (checkpoints, state store) is never cached.
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      // Spark's generated-code cache is an LRU of 100 classes by default. A
      // repeating mix whose working set is larger misses on every lookup and
      // recompiles each query's classes with Janino (a seed-2 batch_read
      // run loads 628 generated classes at 100, 178 at 1000). The cache key
      // pairs the code with a weakly held class loader, so a class compiled
      // on the driver thread and again in a task thread takes two entries:
      // one batch_read cycle of 13 queries fills 219-244. 1000 is ~4x that.
      // A static conf: CodeGenerator reads it once per JVM, when it first
      // loads, and every entry point builds its session here before it
      // generates code.
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Load one of the driver-generated test tables from a scale-factor dir.
    *
    * The testdata's `events.ts` is TIMESTAMP(MICROS) and loads as is. The
    * Long branch guards an events file written with TIMESTAMP(NANOS): with
    * nanosAsLong such a column arrives as a Long of epoch-nanos, so truncate
    * it to microseconds (integer `div`, the same truncation DuckDB's reader
    * applies) and expose it as a proper TimestampType so downstream
    * operators and the DuckDB oracle agree.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$sfDir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      // timestamp_ntz: DuckDB (the correctness oracle) reads parquet
      // timestamps as naive, and Spark 4 likewise infers NTZ for the other
      // testdata tables (inferTimestampNTZ) — keep one timestamp flavor.
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    else df
  }

  /** The schema Spark inferred for a table file, with the length and
    * modification time the file had then. */
  private case class Inferred(len: Long, mtime: Long, schema: StructType)

  /** One entry per qualified path, shared by every session of the JVM. */
  private val inferred = new ConcurrentHashMap[Path, Inferred]()

  /** `spark.read.parquet(path)` that infers the schema once per file.
    *
    * Without a schema Spark reads the footer in a one-task job on every
    * open (~0.1 s for an sf0.01 table); with the stored one it runs none.
    * A changed length or modification time re-infers and replaces the
    * entry, from the same read the caller gets. A file rewritten in place
    * with both unchanged keeps its old schema, as a Spark catalog table
    * does until `REFRESH TABLE`.
    */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(p)
    val status = fs.getFileStatus(key)
    Option(inferred.get(key)) match {
      case Some(e) if e.len == status.getLen && e.mtime == status.getModificationTime =>
        spark.read.schema(e.schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        inferred.put(key, Inferred(status.getLen, status.getModificationTime, df.schema))
        df
    }
  }
}
