package graft

import org.apache.spark.sql.DataFrame

/** Partitioning hygiene for compute-amplifying operators.
  *
  * A small or compacted input (one parquet row group) scans as ONE
  * partition, and Spark plans narrow chains — explode → hash → aggregate —
  * without a repartition, so a stage that amplifies work 50-100× per input
  * row (shingling, per-token md5) serializes on a single core no matter how
  * many the executor has (measured: tokenize+explode of the sf0.1 documents
  * table 1.7s on 1 core vs 0.4s after repartition(32), shuffle included).
  *
  * [[ensureMin]] is the guard: fan out ONLY when the input arrives with
  * fewer partitions than requested. At real scale a 100 TB table scans as
  * tens of thousands of partitions and this is a no-op — it never inserts
  * a shuffle where parallelism already exists.
  *
  * ALWAYS fan out a NARROW projection, never the raw table: Catalyst does
  * not prune columns through a round-robin Repartition (and
  * sortBeforeRepartition locally sorts whole rows), so repartitioning a
  * wide row to parallelize work on two of its columns ships and sorts the
  * dead weight too (measured: +6.8s on a window query whose events input
  * was fanned out before its 3-column projection).
  */
object Parallelism {

  /** `df`, with at least `min` partitions (round-robin repartition only
    * when the input has fewer — e.g. a single-row-group file).
    */
  // Why `.rdd` and not a planning-free probe: the true partition count of
  // a scan needs physical planning (file splitting by maxPartitionBytes —
  // `inputFiles.length` under-counts large files and over-counts tiny
  // ones). Over a plain scan the probe is driver-only planning, ms-scale.
  // It is NOT free when the input plan has exchanges: `df.rdd` plans its
  // own QueryExecution (not `df.queryExecution`), and building its RDD
  // makes AQE run the adaptive plan's shuffle stages as Spark jobs to fix
  // the final partitioning (3 jobs inside `shingleSets`' fan-out over the
  // cached exact-dedup survivors). Over an uncached input the later action
  // runs those stages again: `minhashNearDups` over uncached survivors runs
  // 14 jobs instead of 12.
  def ensureMin(df: DataFrame, min: Int): DataFrame =
    if (df.rdd.getNumPartitions >= min) df else df.repartition(min)

  /** [[ensureMin]] at the session's default parallelism (cores). */
  def fanOut(df: DataFrame): DataFrame =
    ensureMin(df, df.sparkSession.sparkContext.defaultParallelism)
}
