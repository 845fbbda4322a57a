package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Plain-parquet warehouse maintenance (no Delta/Iceberg jars in this
  * environment — same operations, file-level): keyed merge/upsert,
  * small-file compaction, and atomic-swap publication.
  *
  * At 100 TB these jobs run per partition (e.g. per station or per day
  * directory), never whole-table; the swap pattern (write new → rename)
  * is atomic on HDFS-like filesystems and must become a metadata commit
  * on object stores (S3 rename is copy+delete) — which is exactly the
  * problem table formats solve; this module keeps the logic engine-side
  * and the layout plain parquet.
  */
object Warehouse {

  /** MERGE / upsert: combine the base table with an updates batch and
    * keep, per key, the greatest row by the `version` column list
    * (compared in order; updates win full ties). Pass enough version
    * columns to make the winner unique — e.g. (ts, event_id) — or ties
    * resolve arbitrarily. The reference's append-only sink + keep-last
    * dedup (D2/S7) expressed as a warehouse maintenance op: one shuffle
    * on the merge keys.
    */
  def mergeByKey(base: DataFrame, updates: DataFrame, keys: Seq[String],
      version: Seq[String]): DataFrame = {
    val tagged = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    Clean.dedupKeepLast(tagged, keys, version.map(col) :+ col("__src"))
      .drop("__src")
  }

  /** SCD Type-2 history build: collapse a keyed event log into versioned
    * dimension rows — the classic warehousing change-tracking shape the
    * reference's append-only fact table (S7) never gets to express. Per
    * key (ordered by `tsCol` with `tieCols` making the order unique),
    * consecutive runs of identical `tracked` values become ONE version row
    * carrying:
    *   - the tracked attribute values of the run,
    *   - `version` — 1-based change counter per key,
    *   - `effective_from` — the run's first `tsCol`,
    *   - `effective_to` — the next version's `effective_from` (null on the
    *     latest version: half-open [from, to) validity intervals),
    *   - `is_current` — `effective_to IS NULL`.
    *
    * Change detection is null-safe (`IS DISTINCT FROM` semantics), so a
    * tracked attribute moving to/from null opens a new version. Scale
    * shape: one shuffle for the per-key ordering window, one for the
    * per-(key, version) collapse, one for the effective_to lead — all on
    * the same key domain, no driver state, no cross-key traffic.
    */
  def scd2Build(df: DataFrame, keys: Seq[String], tsCol: String,
      tieCols: Seq[String], tracked: Seq[String]): DataFrame = {
    require(keys.nonEmpty && tracked.nonEmpty, "need keys and tracked cols")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol) +: tieCols.map(col): _*)
    val changed = tracked
      .map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _)
    val versioned = df
      .withColumn("__chg", when(changed, 1L).otherwise(0L))
      .withColumn("version", sum(col("__chg")).over(w))
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("version"))
    versioned
      .groupBy((keys ++ Seq("version") ++ tracked).map(col): _*)
      .agg(min(col(tsCol)).as("effective_from"))
      .withColumn("effective_to", lead(col("effective_from"), 1).over(wv))
      .withColumn("is_current", col("effective_to").isNull)
  }

  /** Snapshot diff (CDC between two table states): full outer join on
    * `keys`, classifying every key as `insert` (new only), `delete` (old
    * only), or `update` (present in both with any `compareCols` value
    * differing, null-safely). Unchanged keys are dropped — the output IS
    * the changeset, the thing incremental downstream consumers replay
    * instead of re-reading 100 TB. Output: keys, `change_type`, and
    * `old_<c>` / `new_<c>` for each compare column.
    *
    * One shuffle per side on the keys (sort-merge full outer); nothing
    * wider than the changeset is ever materialized.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty && compareCols.nonEmpty, "need keys and compare cols")
    // both sides often derive from the same source frame (self-join): give
    // the key columns side-distinct names so resolution is unambiguous
    val o = oldDf.select(
      keys.map(k => col(k).as(s"__ok_$k")) ++
        compareCols.map(c => col(c).as(s"old_$c")) :+
        lit(true).as("__in_old"): _*)
    val n = newDf.select(
      keys.map(k => col(k).as(s"__nk_$k")) ++
        compareCols.map(c => col(c).as(s"new_$c")) :+
        lit(true).as("__in_new"): _*)
    val cond = keys.map(k => col(s"__ok_$k") <=> col(s"__nk_$k")).reduce(_ && _)
    val sameValues = compareCols
      .map(c => col(s"old_$c") <=> col(s"new_$c"))
      .reduce(_ && _)
    o.join(n, cond, "full_outer")
      .select(
        keys.map(k => coalesce(col(s"__ok_$k"), col(s"__nk_$k")).as(k)) ++ Seq(
          when(col("__in_old").isNull, "insert")
            .when(col("__in_new").isNull, "delete")
            .when(!sameValues, "update")
            .otherwise("unchanged").as("change_type")) ++
          compareCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
      .filter(col("change_type") =!= "unchanged")
  }

  /** Write `df` beside `dir` and atomically swap it into place (write to
    * `<dir>.next`, move old to `<dir>.old`, rename, drop old).
    *
    * LOCAL/HDFS-ONLY: directory rename is atomic there but copy+delete on
    * object stores — use [[publishVersioned]] for the store-agnostic path.
    * A crash between the two moves leaves no live dir; [[recoverSwap]]
    * (run first on every publish) detects that state and rolls the
    * surviving `.old` back, so readers only ever miss the table inside the
    * two-rename window itself, never across restarts.
    */
  def publish(spark: SparkSession, df: DataFrame, dir: String): Unit = {
    recoverSwap(dir)
    val next = dir + ".next"
    val old = dir + ".old"
    df.write.mode("overwrite").parquet(next)
    val dirP = Paths.get(dir)
    if (Files.exists(dirP)) {
      Files.move(dirP, Paths.get(old), StandardCopyOption.ATOMIC_MOVE)
    }
    Files.move(Paths.get(next), dirP, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(Paths.get(old))
  }

  /** Repair an interrupted [[publish]] (returns true if a rollback
    * happened). Two crash windows exist:
    *   - between the two renames: no live dir, `.old` survives → roll the
    *     old generation back (the `.next` data survives for forensics
    *     until the retried publish overwrites it);
    *   - after the final rename but before `.old` cleanup: live dir AND a
    *     stale `.old` both exist → finish the cleanup, else the NEXT
    *     publish's move-aside would hit the non-empty `.old` and throw,
    *     wedging the table read-only.
    */
  def recoverSwap(dir: String): Boolean = {
    val dirP = Paths.get(dir)
    val old = Paths.get(dir + ".old")
    if (!Files.exists(dirP) && Files.exists(old)) {
      Files.move(old, dirP, StandardCopyOption.ATOMIC_MOVE)
      true
    } else {
      if (Files.exists(dirP) && Files.exists(old)) deleteRecursively(old)
      false
    }
  }

  // ----- Versioned (manifest-pointer) tables --------------------------------
  //
  // Table-format-lite: each publish writes an immutable generation
  // directory `gen-NNNNNNNN/` under the table root and then atomically
  // creates a live marker for it. Readers resolve the marker first, so
  //   - there is NO instant where the table path is missing (the
  //     rename-swap weakness),
  //   - in-flight queries keep reading the generation they resolved
  //     (snapshot isolation) until `vacuum` drops it,
  //   - on an object store the commit is a single-key conditional PUT —
  //     the same primitive Delta/Iceberg metadata commits reduce to.
  //
  // CONCURRENT WRITERS: two publishers could compute the same generation
  // number and interleave stage→flip. Three per-generation files make
  // every step a CAS on the local FS (each maps to a conditional PUT on
  // an object store):
  //   - CLAIM `gen-NNNNNNNN.claim` — created with CREATE_NEW before any
  //     data write; reserves the number. The loser of a same-number race
  //     gets [[ConcurrentPublishException]] (clean, retryable, BEFORE it
  //     wastes a data write) and never touches the winner's dir.
  //   - COMMIT `gen-NNNNNNNN/_COMMITTED` — written by the slot owner
  //     only (no shared read-modify-write commit log).
  //   - LIVE `_MANIFEST.gen-NNNNNNNN` marker, CREATE_NEW — readers
  //     resolve the HIGHEST-numbered marker, so the live pointer is
  //     monotone by construction: a slower writer committing an older
  //     claimed number can never flip the table backward.

  private val LiveMarkerPrefix = "_MANIFEST.gen-"
  private val ClaimSuffix = ".claim"
  private val CommittedName = "_COMMITTED"

  /** A generation-number claim or live-marker CAS lost to a concurrent
    * writer. Clean and retryable: nothing was staged under the loser's
    * name; call the publish again (it will claim the next free number).
    */
  final class ConcurrentPublishException(msg: String)
    extends RuntimeException(msg)

  /** The sorted names of the entries of `dir` that `keep` accepts; empty
    * when `dir` does not exist. */
  private def listDir(dir: String)(keep: String => Boolean): Seq[String] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Seq.empty
    else {
      val stream = Files.list(root)
      try {
        val out = Seq.newBuilder[String]
        stream.forEach { p =>
          val n = p.getFileName.toString
          if (keep(n)) out += n
        }
        out.result().sorted
      } finally stream.close()
    }
  }

  /** The live generation name of a versioned table, if one was published:
    * the highest-numbered `_MANIFEST.gen-*` marker.
    */
  def liveGeneration(table: String): Option[String] =
    listDir(table)(_.startsWith(LiveMarkerPrefix))
      .map(_.stripPrefix("_MANIFEST.")).lastOption

  /** Every generation that completed its data write (its `_COMMITTED`
    * record exists) — the set `vacuum` may legally keep as history. An
    * orphan dir whose publish crashed mid-write is on disk but never in
    * this list, so it can never shadow a real, fully-written historical
    * generation.
    */
  def committedGenerations(table: String): Seq[String] =
    listGenerations(table)
      .filter(g => Files.exists(Paths.get(table, g, CommittedName)))

  /** CAS-claim the next free generation number: atomically create
    * `gen-NNNNNNNN.claim` (CREATE_NEW). The single-attempt loser of a
    * same-number race throws [[ConcurrentPublishException]] — by design
    * it does NOT silently take the next number, so a caller that raced
    * knows its snapshot of the table may be stale and can re-read before
    * retrying (the optimistic-concurrency contract).
    */
  private def claimGeneration(table: String): String = {
    Files.createDirectories(Paths.get(table))
    val gen = f"gen-${nextGenNumber(table)}%08d"
    claimSlot(table, gen)
    gen
  }

  /** The raw slot CAS (package-visible so the race is unit-testable
    * deterministically): atomically create the claim file for `gen`,
    * or throw if a concurrent writer holds it. Note a claim file that
    * PRE-EXISTS a publish is simply skipped past by [[nextGenNumber]] —
    * the exception fires only when two writers computed the same next
    * number inside each other's scan→create window.
    */
  private[graft] def claimSlot(table: String, gen: String): Unit =
    try Files.createFile(Paths.get(table, gen + ClaimSuffix))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentPublishException(
          s"generation slot $gen of $table was claimed by a concurrent " +
            "writer; re-read the table state and retry the publish")
    }

  /** Commit + flip a fully-staged generation: write the owned
    * `_COMMITTED` record, then CAS-create the numbered live marker
    * (readers resolve the max marker — monotone, never backward).
    */
  private def commitAndFlip(table: String, gen: String): Unit = {
    writeAtomic(Paths.get(table, gen, CommittedName), gen)
    try Files.createFile(Paths.get(table, LiveMarkerPrefix +
      gen.stripPrefix("gen-")))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentPublishException(
          s"live marker for $gen of $table already exists — the slot " +
            "was committed by another writer; retry the publish")
    }
  }

  private def writeAtomic(path: Path, content: String): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, path,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Publish `df` as the next generation of `table`; returns the
    * generation name. Order: data write → `_COMMITTED` record → live
    * marker. A crash before the commit record leaves an orphan
    * generation dir (readers unaffected, `vacuum` removes it, the next
    * publish skips past its number); a crash between record and marker
    * leaves a committed-but-never-live generation (complete data, ages
    * out as history).
    */
  def publishVersioned(df: DataFrame, table: String): String = {
    val gen = claimGeneration(table)
    df.write.mode("overwrite").parquet(s"$table/$gen")
    commitAndFlip(table, gen)
    gen
  }

  /** The live snapshot of a versioned table. */
  def readVersioned(spark: SparkSession, table: String): DataFrame = {
    val gen = liveGeneration(table).getOrElse(
      sys.error(s"no published generation in $table"))
    spark.read.parquet(s"$table/$gen")
  }

  /** Morton (z-order) interleave of two bit-grids: bit i of `a` lands at
    * position 2i, bit i of `b` at 2i+1. Inputs must already be integers
    * in [0, 2^bits); all shifts/masks are builtin expressions (codegen).
    * Public: q159 oracle-gates this exact bit math (the DuckDB replay is
    * the same 32-term shift/mask OR).
    */
  def morton(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column =
    (0 until bits).flatMap { i =>
      Seq(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Time travel: read a specific COMMITTED generation (the snapshot a
    * reader resolved before a later publish, or any history `vacuum`
    * still retains). Schema evolution falls out of the generation model:
    * every generation is a full, self-describing rewrite, so a publish
    * may change the schema atomically — old snapshots keep their old
    * schema, the manifest flip is the only switch, and no reader ever
    * sees a half-migrated table.
    */
  def readVersionedAt(spark: SparkSession, table: String,
      gen: String): DataFrame = {
    require(committedGenerations(table).contains(gen),
      s"$gen is not a committed generation of $table " +
        s"(have: ${committedGenerations(table).mkString(", ")})")
    spark.read.parquet(s"$table/$gen")
  }

  // ----- Hidden partitioning / partition evolution (Iceberg-style) ---------

  /** A declared partition TRANSFORM — calendar unit ∈ day | hour |
    * month of the `source` column: the user filters on the DATA column
    * and never references the partition layout — the engine maps
    * predicates through the transform (Iceberg's "hidden partitioning").
    * The transform is metadata OF THE GENERATION (stored in its
    * `_partspec`), so the layout can evolve mid-history: a generation
    * published `day(ts)` prunes by day, a later one published `hour(ts)`
    * prunes by hour, and every reader — live or time-travel — derives
    * its pruning from the generation it actually reads.
    */
  final case class TimeTransform(source: String, unit: String) {
    private val fmt = unit match {
      case "day" => "yyyy-MM-dd"
      case "hour" => "yyyy-MM-dd-HH"
      case "month" => "yyyy-MM"
      case u => sys.error(s"unknown time transform unit: $u")
    }

    /** Serialized form stored in `_partspec` (parse with
      * [[parseTransform]]). */
    def spec: String = s"$unit($source)"

    /** Partition value as a STRING column, formatted as a fixed-width
      * PREFIX of `yyyy-MM-dd-HH` — lexicographic comparison on values IS
      * chronological comparison, which makes range pruning one string
      * between() any engine evaluates alike.
      */
    def value(c: Column): Column =
      date_format(c.cast("timestamp_ntz"), fmt)

    /** Partition-value floor of a `yyyy-MM-dd HH:mm:ss` literal — a
      * prefix take (plus the space→dash of the hour format), never a
      * datetime library, so driver and SQL replay agree bytewise.
      */
    def floor(tsLiteral: String): String =
      tsLiteral.replace(' ', '-').take(fmt.length)
  }

  def parseTransform(spec: String): TimeTransform = {
    val time = "(day|hour|month)\\(([^)]+)\\)".r
    spec.trim match {
      case time(u, c) => TimeTransform(c, u)
      case s => sys.error(s"unparseable partition transform: $s")
    }
  }

  private val PartColName = "__part"
  private val PartSpecName = "_partspec"

  /** Publish `df` as the next generation of `table`, physically laid out
    * by `transform` (one directory per partition value) with the
    * transform spec recorded in the generation's `_partspec` — same
    * crash ordering as [[publishVersioned]] (data+spec before commit).
    * Rows with a null transform source are dropped: a null partition
    * would land in a default directory no range predicate could ever
    * keep honestly.
    */
  def publishHiddenPartitioned(df: DataFrame, table: String,
      transform: TimeTransform): String = {
    val gen = claimGeneration(table)
    df.filter(col(transform.source).isNotNull)
      .withColumn(PartColName, transform.value(col(transform.source)))
      // Cluster rows by partition value BEFORE the dynamic-partition
      // write (guide §6 / Iceberg write.distribution-mode=hash): without
      // it every task opens a writer for every partition value it sees,
      // and worse, a compact input scans as ONE task that writes ALL
      // dirs sequentially (measured: the sf0.1 hour(ts) publish = 720
      // dirs from one scan task, 11.6 s of serial file open/commit).
      // The partition count is PINNED (session shuffle partitions) so
      // AQE cannot coalesce the dir-count-bound write back onto one
      // task — this write is file-operation-bound, not byte-bound, so
      // parallelism-first beats size-targeted coalescing. At real scale
      // shuffle.partitions is sized to the cluster and each writer task
      // handles partition-count/tasks dirs with one file per dir.
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col(PartColName))
      .write.mode("overwrite").partitionBy(PartColName)
      .parquet(s"$table/$gen")
    writeAtomic(Paths.get(table, gen, PartSpecName), transform.spec)
    commitAndFlip(table, gen)
    gen
  }

  /** The transform a generation was published with (None: not a
    * hidden-partitioned generation). */
  def hiddenTransformOf(table: String, gen: String): Option[TimeTransform] = {
    val p = Paths.get(table, gen, PartSpecName)
    if (Files.exists(p)) Some(parseTransform(Files.readString(p).trim))
    else None
  }

  /** Driver-side pruning probe: (kept partition values, total partition
    * count) for a closed `[lo, hi]` range on the generation's SOURCE
    * column, under THAT generation's own transform. `lo`/`hi` are
    * `yyyy-MM-dd HH:mm:ss` literals; pruning is the lexicographic
    * between() on value strings the transform's prefix property
    * guarantees correct. Metadata-scale: one directory listing.
    */
  def hiddenRangePrune(table: String, gen: String, lo: String,
      hi: String): (Seq[String], Int) = {
    val tf = hiddenTransformOf(table, gen).getOrElse(
      sys.error(s"$gen of $table has no partition spec"))
    val vals = listDir(s"$table/$gen")(_.startsWith(PartColName + "="))
      .map(_.stripPrefix(PartColName + "="))
    val (fl, fh) = (tf.floor(lo), tf.floor(hi))
    (vals.filter(v => v >= fl && v <= fh).sorted, vals.size)
  }

  /** Range read through the hidden layout: partition pruning via a
    * predicate on the discovered partition column (Catalyst turns it
    * into PartitionFilters — directories outside the range are never
    * listed into the scan), then the EXACT row filter on the source
    * column (partitions are coarser than the predicate). Works on the
    * live generation or any committed one (time travel): each reads
    * under ITS OWN stored transform — partition evolution.
    */
  def hiddenRangeRead(spark: SparkSession, table: String, lo: String,
      hi: String, gen: Option[String] = None): DataFrame = {
    val g = gen.orElse(liveGeneration(table)).getOrElse(
      sys.error(s"no published generation in $table"))
    val tf = hiddenTransformOf(table, g).getOrElse(
      sys.error(s"$g of $table has no partition spec"))
    spark.read.parquet(s"$table/$g")
      .filter(col(PartColName) >= tf.floor(lo) &&
        col(PartColName) <= tf.floor(hi))
      .filter(col(tf.source).cast("timestamp_ntz")
        .between(lit(lo).cast("timestamp_ntz"), lit(hi).cast("timestamp_ntz")))
      .drop(PartColName)
  }

  /** Drop every generation but the live one and the `keepHistory` most
    * recently COMMITTED before it (reader grace / time travel — only
    * fully-written generations count; a partially-written orphan from a
    * crashed publish is never retained as history, whatever its number).
    * Returns what was deleted. Single-writer: run from the publisher, not
    * concurrently with one.
    */
  def vacuum(table: String, keepHistory: Int = 1): Seq[String] = {
    val live = liveGeneration(table)
    val committed = committedGenerations(table)
    val keep = (live.toSeq ++
      committed.filter(g => live.forall(g < _)).takeRight(keepHistory)).toSet
    val doomed = listGenerations(table).filterNot(keep)
    doomed.foreach { g =>
      deleteRecursively(Paths.get(table, g))
      // the CAS sidecars die with their generation: the claim slot and
      // the (now-shadowed) numbered live marker
      Files.deleteIfExists(Paths.get(table, g + ClaimSuffix))
      Files.deleteIfExists(Paths.get(table, LiveMarkerPrefix +
        g.stripPrefix("gen-")))
    }
    // burned-slot claims: a claim file whose generation directory never
    // appeared (claim won, data write crashed) is invisible to the doomed
    // loop above — sweep any such orphan BELOW the live generation number
    // (nextGenNumber never reuses a claimed slot, so nothing can still be
    // writing there; claims at/above live may belong to an in-flight
    // publish and are left alone). ADVICE r11: these otherwise accumulate
    // forever.
    val liveNum = live.map(_.stripPrefix("gen-").toLong).getOrElse(Long.MaxValue)
    val dirs = listGenerations(table).toSet
    val orphanClaims = listDir(table)(_.endsWith(ClaimSuffix))
      .filter { c =>
        val g = c.stripSuffix(ClaimSuffix)
        !dirs.contains(g) && g.stripPrefix("gen-").toLong < liveNum
      }
    orphanClaims.foreach(c => Files.deleteIfExists(Paths.get(table, c)))
    doomed ++ orphanClaims
  }

  /** The generation DIRECTORIES of `table` — never the
    * `gen-NNNNNNNN.claim` files beside them. */
  private def listGenerations(table: String): Seq[String] =
    listDir(table)(_.startsWith("gen-"))
      .filter(g => Files.isDirectory(Paths.get(table, g)))

  private def nextGenNumber(table: String): Long = {
    val fromDirs = listGenerations(table)
      .map(_.stripPrefix("gen-").toLong)
    val fromManifest = liveGeneration(table)
      .map(_.stripPrefix("gen-").toLong)
    // claimed-but-unwritten slots count too: a crashed claimant's number
    // is never reused (its claim file stays until vacuum), so no later
    // writer can stage into a dir another process might still be writing
    val fromClaims = listDir(table)(_.endsWith(ClaimSuffix))
      .map(_.stripPrefix("gen-").stripSuffix(ClaimSuffix).toLong)
    ((fromDirs ++ fromManifest ++ fromClaims) :+ 0L).max + 1
  }

  // ----- Keyed deletion vectors (soft delete without file rewrite) ----------

  private val DeletesName = "_deletes"

  /** Soft-delete: record the KEYS matched by `predicate` in the live
    * generation's `_deletes` sidecar WITHOUT rewriting any data file —
    * the Delta/Iceberg deletion-vector idea in keyed form (this warehouse
    * tracks rows by key, not file/row-position, so the tombstone is the
    * key set; same read-time-merge contract, same O(deleted) write cost
    * instead of O(table) rewrite — the operation a GDPR erasure request
    * needs on a 100 TB table TODAY, with the physical purge deferred to
    * [[compactExecute]]).
    *
    * Each call appends one numbered parquet sidecar under
    * `<gen>/_deletes/` (underscore-prefixed — data readers never see
    * it), written to a dot-temp dir and atomically
    * renamed, so a crashed delete is invisible. Keys already tombstoned
    * are subtracted first: re-issuing a delete is idempotent and the
    * return value counts only NEWLY deleted keys. Single-writer, like
    * every maintenance op here.
    */
  def deleteWhere(spark: SparkSession, table: String, keyCol: String,
      predicate: org.apache.spark.sql.Column): Long = {
    val gen = liveGeneration(table).getOrElse(
      sys.error(s"no published generation in $table"))
    val matched = spark.read.parquet(s"$table/$gen")
      .filter(predicate).select(col(keyCol)).distinct()
    val fresh = deletedKeys(spark, table, gen) match {
      case Some(existing) =>
        matched.join(existing.withColumnRenamed(existing.columns.head, keyCol),
          Seq(keyCol), "left_anti")
      case None => matched
    }
    val n = fresh.count()
    if (n > 0) {
      val dir = Paths.get(table, gen, DeletesName)
      Files.createDirectories(dir)
      val next = listDeleteFiles(table, gen).size
      val tmp = dir.resolve(s".d-tmp-$next")
      fresh.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.move(tmp, dir.resolve(f"d-$next%04d"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    n
  }

  private def listDeleteFiles(table: String, gen: String): Seq[String] = {
    val dir = Paths.get(table, gen, DeletesName)
    listDir(dir.toString)(_.startsWith("d-")).map(n => dir.resolve(n).toString)
  }

  /** The union of a generation's tombstoned keys (one column, named as
    * the delete key), or None when nothing was deleted.
    */
  def deletedKeys(spark: SparkSession, table: String,
      gen: String): Option[DataFrame] = {
    val files = listDeleteFiles(table, gen)
    if (files.isEmpty) None
    else Some(spark.read.parquet(files: _*).distinct())
  }

  /** The live snapshot MINUS its deletion vectors — the read path every
    * query should use on a table that takes deletes. Tombstone sets are
    * deletes-sized (≪ table), so the anti-join broadcasts: a map-side
    * probe over the full scan, no shuffle of the data. (A delete set too
    * large to broadcast is the signal to [[compactExecute]] — exactly
    * Delta's DV-compaction guidance.)
    */
  def readVersionedClean(spark: SparkSession, table: String): DataFrame = {
    val gen = liveGeneration(table).getOrElse(
      sys.error(s"no published generation in $table"))
    val df = spark.read.parquet(s"$table/$gen")
    deletedKeys(spark, table, gen) match {
      case Some(d) =>
        val k = d.columns.head
        df.join(broadcast(d), Seq(k), "left_anti")
      case None => df
    }
  }

  /** Partial aggregate of a fact slice in the shape
    * [[incrementalViewMerge]] maintains: per `keys` group, `cnt` (signed
    * row count) and one `sum_<c>` per measure, every measure pre-weighted
    * by `opCol` (+1 insert / −1 delete — a CDC delta stream; pass a
    * `lit(1)` column for a plain snapshot). Measures must already be on
    * the integer micro grid (the house DECIMAL/micro convention) so
    * partial sums commute bit-exactly across engines and partitionings.
    */
  def viewPartialAgg(facts: DataFrame, keys: Seq[String],
      measures: Seq[String], opCol: Column): DataFrame = {
    require(keys.nonEmpty && measures.nonEmpty, "need keys and measures")
    facts.groupBy(keys.map(col): _*)
      .agg(sum(opCol.cast("long")).as("cnt"),
        measures.map(c =>
          sum(col(c).cast("long") * opCol.cast("long")).as(s"sum_$c")): _*)
  }

  /** Incremental materialized-view maintenance: merge a CDC delta's
    * partial aggregate into a stored aggregate view WITHOUT rescanning
    * the base fact table — the maintenance shape that keeps a 100 TB
    * fact's rollup fresh for the price of the day's delta. Both inputs
    * are in [[viewPartialAgg]] layout (`keys…, cnt, sum_*`); deletes
    * arrive as −1-weighted delta rows, so the merge is a full-outer
    * coalesce-add on the group keys and a group whose merged `cnt`
    * reaches 0 vanishes from the view (all its rows were retracted —
    * SUM/COUNT are self-maintainable under insert+delete, the textbook
    * IVM result).
    *
    * Scale shape: ONE shuffle on the group keys over |view| + |delta
    * groups| AGGREGATE rows — the base facts are never read. With a
    * key-partitioned stored view the untouched partitions never even
    * rewrite (the merge output is partitionable by the same keys).
    */
  def incrementalViewMerge(view: DataFrame, deltaAgg: DataFrame,
      keys: Seq[String]): DataFrame = {
    val sums = view.columns.filter(_.startsWith("sum_")).toSeq
    require(sums.nonEmpty && view.columns.contains("cnt"),
      "view must be in viewPartialAgg layout")
    require(deltaAgg.columns.sorted.sameElements(view.columns.sorted),
      s"delta layout ${deltaAgg.columns.mkString(",")} != view layout")
    val b = view.select(keys.map(col) ++ ("cnt" +: sums).map(c =>
      col(c).as(s"__b_$c")): _*)
    val d = deltaAgg.select(keys.map(col) ++ ("cnt" +: sums).map(c =>
      col(c).as(s"__d_$c")): _*)
    def merged(c: String): Column =
      coalesce(col(s"__b_$c"), lit(0L)) + coalesce(col(s"__d_$c"), lit(0L))
    b.join(d, keys, "full_outer")
      .select(keys.map(col) ++ ("cnt" +: sums).map(c =>
        merged(c).as(c)): _*)
      .filter(col("cnt") > 0)
  }

  /** Publish `df` BUCKETED by `key` (hash-partitioned files + catalog
    * metadata, Hive-style layout): every downstream aggregation or
    * co-located join ON THE BUCKET KEY plans with ZERO shuffle
    * exchanges, because the storage layout already satisfies the
    * required hash distribution. This is the storage-side answer to the
    * 100 TB shuffle problem — pay the distribution ONCE at write time,
    * amortize it over every keyed read (the lakehouse cousin of
    * [[publishHiddenPartitioned]], which buys scan pruning the same way).
    *
    * External table at a caller-chosen path; idempotent (drops +
    * overwrites). `sortBy(key)` within buckets additionally enables
    * sort-merge reads without a per-task sort.
    */
  def writeBucketed(spark: SparkSession, df: DataFrame, table: String,
      path: String, key: String, buckets: Int): Unit = {
    require(buckets >= 1 && table.matches("[A-Za-z0-9_]+"),
      s"bad bucket spec: $table/$buckets")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // repartition on the bucket key FIRST: bucketBy writes one file per
    // (task, bucket), so an N-task upstream sprays N·buckets small files
    // (measured: 1026 files for a 7 MB index). repartition uses the same
    // Murmur3 HashPartitioning as the bucket id, so each bucket lands
    // wholly in one task → exactly `buckets` files, and the downstream
    // zero-shuffle bucketed join is unchanged.
    df.repartition(buckets, org.apache.spark.sql.functions.col(key))
      .write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** COMPACTION (OPTIMIZE) planner: assign size-carrying units (files,
    * partitions, day-slices) to target-sized rewrite bins — the planning
    * step of Delta's OPTIMIZE / Iceberg's rewrite_data_files, and the
    * same shape Spark's own FilePartition packing runs at scan time. A
    * small-file-ridden table is the #1 100 TB read-amplification bug;
    * this emits the deterministic rewrite job list that fixes it.
    *
    * Deterministic cumulative next-fit: units ordered by (size DESC,
    * key) — big units first, so no bin except the last runs short —
    * then bin = (cumsum − size) div target: a unit opens a new bin
    * exactly when the PRIOR units already fill the current quota.
    * Unlike stateful first-fit this is one window over the unit grid
    * (no recursion, engine-replayable), and every bin's total lands in
    * [target − max_unit, target + max_unit).
    *
    * Input is any (key, size) relation — the unit grid, bounded by file/
    * partition count, never data rows. Returns per bin: (bin, n_units,
    * total_size, min_key, max_key) ordered by bin.
    */
  def compactionPlan(units: DataFrame, keyCol: String, sizeCol: String,
      targetSize: Long): DataFrame = {
    require(targetSize >= 1, s"targetSize must be positive: $targetSize")
    val base = units.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("k"), col(sizeCol).cast("long").as("sz"))
    // global window over the bounded unit grid (file-count-sized)
    val w = Window.orderBy(col("sz").desc, col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("__cum", sum("sz").over(w))
      .withColumn("bin", expr(s"(__cum - sz) div ${targetSize}L"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_units"), sum("sz").as("total_size"),
        min("k").as("min_key"), max("k").as("max_key"))
      .orderBy("bin")
  }

  /** The data files of one generation, relative to the table root —
    * underscore/dot-prefixed entries (`_deletes`, `_SUCCESS`, hidden files)
    * are metadata, never data.
    */
  private def generationDataFiles(table: String, gen: String): Seq[String] =
    listDir(s"$table/$gen")(n =>
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
      .map(n => s"$gen/$n")

  /** EXECUTE a [[compactionPlan]] over the live generation of a
    * versioned table — the OPTIMIZE run itself, not just the job list.
    * The current data files are binned by on-disk size with the SAME
    * deterministic next-fit as [[compactionPlan]] (size DESC, then
    * path; bin = prior-cumsum div target); every multi-file bin is
    * rewritten by one NARROW coalesce(1) job (file-merge compaction
    * must never pay a cluster exchange — at 100 TB this runs per
    * partition directory, many narrow jobs, zero shuffles), single-file
    * bins are hard-copied through untouched, and the result is
    * published as the NEXT generation of the same commit chain: rows
    * identical, history intact ([[readVersionedAt]] still serves the
    * pre-compaction generation until [[vacuum]] ages it out), and the
    * small-file read amplification is gone.
    *
    * Outstanding deletion vectors are MATERIALIZED on the way — with
    * tombstones present every bin is rewritten through the clean view
    * and nothing is copied through (copy-through would resurrect
    * soft-deleted keys), so the new generation starts tombstone-free.
    *
    * Returns the executed plan: (bin, n_files_in, bytes_in) per output
    * bin, ordered by bin.
    */
  def compactExecute(spark: SparkSession, table: String,
      targetSize: Long): DataFrame = {
    require(targetSize >= 1, s"targetSize must be positive: $targetSize")
    import spark.implicits._
    val gen = liveGeneration(table).getOrElse(
      sys.error(s"no published generation in $table"))
    val files = generationDataFiles(table, gen)
    require(files.nonEmpty, s"no data files in $table/$gen")
    val del = deletedKeys(spark, table, gen)
    // file metadata is a driver-sized relation (the compactionPlan
    // contract); replay its exact next-fit so plan and execution agree
    val ordered = files.map(f => f -> Files.size(Paths.get(table, f)))
      .sortBy { case (f, sz) => (-sz, f) }
    var cum = 0L
    val assigned = ordered.map { case (f, sz) =>
      val bin = cum / targetSize
      cum += sz
      (bin, f, sz)
    }
    val newGen = claimGeneration(table)
    Files.createDirectories(Paths.get(table, newGen))
    val byBin = assigned.groupBy(_._1).toSeq.sortBy(_._1)
    byBin.foreach { case (bin, fs) =>
      if (fs.size == 1 && del.isEmpty) {
        Files.copy(Paths.get(table, fs.head._2),
          Paths.get(table, newGen, f"copy-$bin%05d.parquet"),
          StandardCopyOption.COPY_ATTRIBUTES)
      } else {
        var df = spark.read.parquet(fs.map(t => s"$table/${t._2}"): _*)
        del.foreach { d =>
          df = df.join(broadcast(d), Seq(d.columns.head), "left_anti")
        }
        df.coalesce(1).write.mode("append").parquet(s"$table/$newGen")
      }
    }
    // optimistic-concurrency check (the Iceberg/Delta compaction rule):
    // a compaction that raced a data publish must NOT shadow it — the
    // compacted generation was built from `gen`, so if the live pointer
    // moved while we rewrote files, abandon our claim (orphan dir; a
    // later vacuum sweeps it) and tell the caller to retry on the new
    // snapshot. The residual window after this check is the marker
    // create itself, which is monotone anyway (max-marker readers).
    if (!liveGeneration(table).contains(gen)) {
      throw new ConcurrentPublishException(
        s"compaction of $table based on $gen lost a race: live moved to " +
          s"${liveGeneration(table).getOrElse("<none>")} mid-rewrite; " +
          "retry compaction on the new snapshot")
    }
    commitAndFlip(table, newGen)
    byBin.map { case (bin, fs) =>
      (bin, fs.size.toLong, fs.map(_._3).sum) }
      .toDF("bin", "n_files_in", "bytes_in").orderBy("bin")
  }

  /** WRITE–AUDIT–PUBLISH (the WAP pattern: stage → expectations gate →
    * atomic pointer flip): `df` is written as the next generation but
    * the manifest only flips onto it when the [[Quality.expectationsAudit]]
    * over the STAGED files (read back — so writer bugs and partial writes
    * are audited, not just the logical plan) reports zero violations.
    * A rejected generation is quarantined in place: its `_audit.json`
    * records the per-rule counts, it never enters the commit log (so
    * time travel, history and `vacuum`'s orphan sweep treat it exactly
    * like a crashed write), and the previous live generation keeps
    * serving readers untouched.
    *
    * The underscore-prefixed audit file is invisible to parquet readers;
    * published generations carry it too, so every live snapshot ships
    * with the proof it passed its gate.
    *
    * Scale shape: staging is the normal distributed write; the audit is
    * [[Quality.expectationsAudit]]'s one-scan aggregate over the new
    * generation only (never the whole table); publish is the same
    * atomic manifest flip as [[publishVersioned]].
    *
    * Returns (generation, published, totalViolations).
    */
  def publishAudited(spark: SparkSession, df: DataFrame, table: String,
      rules: Seq[Quality.Expectation]): (String, Boolean, Long) = {
    val gen = claimGeneration(table)
    df.write.mode("overwrite").parquet(s"$table/$gen")
    val staged = spark.read.parquet(s"$table/$gen")
    val audit = Quality.expectationsAudit(staged, rules).collect()
    val nViol = audit.map(_.getAs[Long]("n_violations")).sum
    val verdict = audit.map(r =>
        s"""{"rule": ${jsonEscapeQ(r.getAs[String]("rule"))}, """ +
          s""""n_rows": ${r.getAs[Long]("n_rows")}, """ +
          s""""n_violations": ${r.getAs[Long]("n_violations")}}""")
      .mkString(
        s"""{"generation": "$gen", "published": ${nViol == 0L}, "rules": [""",
        ", ", "]}")
    writeAtomic(Paths.get(table, gen, "_audit.json"), verdict)
    if (nViol == 0L) commitAndFlip(table, gen)
    (gen, nViol == 0L, nViol)
  }

  private def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def jsonEscapeQ(s: String): String = "\"" + jsonEscape(s) + "\""

  /** Drop a versioned table directory entirely (fixture reset). */
  def resetTable(table: String): Unit =
    deleteRecursively(Paths.get(table))

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
}
