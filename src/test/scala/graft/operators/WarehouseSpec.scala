package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class WarehouseSpec extends SparkSpec {

  test("mergeByKey: updates win by version, ties go to the updates side") {
    import spark.implicits._
    val base = Seq(("S1", 1L, 10.0), ("S2", 1L, 20.0), ("S3", 1L, 30.0))
      .toDF("station_id", "version", "temperature")
    val updates = Seq(("S1", 2L, 11.0),  // newer version → replaces
      ("S2", 1L, 99.0),                  // same version → updates side wins
      ("S4", 1L, 40.0))                  // new key → inserted
      .toDF("station_id", "version", "temperature")
    val merged = Warehouse.mergeByKey(base, updates, Seq("station_id"), Seq("version"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(merged == Map("S1" -> 11.0, "S2" -> 99.0, "S3" -> 30.0, "S4" -> 40.0))
  }

  test("compact + publish: same rows, fewer files, old generation cleaned") {
    import spark.implicits._
    val dir = tempDir("graft-wh-compact") + "/t"
    // simulate micro-batch small-file pathology: 8 appends of 5 rows
    (0 until 8).foreach { b =>
      (0 until 5).map(i => (b * 5 + i, s"v$b-$i")).toDF("id", "v")
        .repartition(2).write.mode("append").parquet(dir)
    }
    val filesBefore = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesBefore >= 8)
    // compaction is a publish of the current snapshot in fewer partitions
    Warehouse.publish(spark, spark.read.parquet(dir).repartition(2), dir)
    val filesAfter = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesAfter <= 2)
    assert(spark.read.parquet(dir).count() == 40)
    assert(!new java.io.File(dir + ".old").exists())
    assert(!new java.io.File(dir + ".next").exists())
  }

  test("recoverSwap rolls back a crash between the two publish renames " +
      "(missing live dir + surviving .old)") {
    import spark.implicits._
    val dir = tempDir("graft-wh-crash") + "/t"
    (1 to 10).toDF("id").write.parquet(dir)
    // simulate the crash window: old generation moved aside, new one never
    // renamed in — readers would find NO live directory
    Files.move(java.nio.file.Paths.get(dir), java.nio.file.Paths.get(dir + ".old"))
    (11 to 15).toDF("id").write.parquet(dir + ".next")
    assert(!new java.io.File(dir).exists())
    assert(Warehouse.recoverSwap(dir))
    // the old snapshot is live again and fully readable
    assert(spark.read.parquet(dir).count() == 10)
    // a retried publish then lands the new data normally
    Warehouse.publish(spark, (11 to 15).toDF("id"), dir)
    assert(spark.read.parquet(dir).count() == 5)
    assert(!Warehouse.recoverSwap(dir)) // healthy table → no-op
  }

  test("publishVersioned: manifest flip is the commit — readers always " +
      "resolve a complete generation, crashed publishes are invisible") {
    import spark.implicits._
    val table = tempDir("graft-wh-versioned") + "/t"
    val g1 = Warehouse.publishVersioned((1 to 10).toDF("id"), table)
    assert(g1 == "gen-00000001")
    assert(Warehouse.readVersioned(spark, table).count() == 10)
    // a reader that resolved gen-1 keeps a consistent snapshot across the
    // next publish (no rename ever touches gen-1)
    val pinned = spark.read.parquet(s"$table/$g1")
    val g2 = Warehouse.publishVersioned((1 to 25).toDF("id"), table)
    assert(Warehouse.readVersioned(spark, table).count() == 25)
    assert(pinned.count() == 10)
    // crash BEFORE the manifest flip = an orphan generation dir; readers
    // still see gen-2, and the next publish skips past the orphan number
    (1 to 3).toDF("id").write.parquet(s"$table/gen-00000003")
    assert(Warehouse.liveGeneration(table).contains(g2))
    assert(Warehouse.readVersioned(spark, table).count() == 25)
    val g4 = Warehouse.publishVersioned((1 to 40).toDF("id"), table)
    assert(g4 == "gen-00000004")
    assert(Warehouse.readVersioned(spark, table).count() == 40)
    // vacuum keeps the live gen + 1 of COMMITTED history (gen-2) — the
    // never-committed orphan gen-3 must not shadow it, whatever its number
    val deleted = Warehouse.vacuum(table, keepHistory = 1)
    assert(deleted.toSet == Set("gen-00000001", "gen-00000003"))
    assert(Warehouse.readVersioned(spark, table).count() == 40)
    assert(spark.read.parquet(s"$table/$g2").count() == 25) // history intact
    assert(Warehouse.committedGenerations(table) == Seq(g2, g4))
  }

  test("publish self-heals from a crash after the final rename but " +
      "before .old cleanup (stale .old must not wedge the table)") {
    import spark.implicits._
    val dir = tempDir("graft-wh-staleold") + "/t"
    (1 to 10).toDF("id").write.parquet(dir)
    // simulate: previous publish completed its renames but died before
    // deleting the superseded generation
    (91 to 95).toDF("id").write.parquet(dir + ".old")
    // next publish must clean the stale .old and proceed, not throw
    Warehouse.publish(spark, (1 to 20).toDF("id"), dir)
    assert(spark.read.parquet(dir).count() == 20)
    assert(!new java.io.File(dir + ".old").exists())
  }

  test("schema evolution across generations + time travel reads") {
    import spark.implicits._
    val table = tempDir("graft-wh-evolve") + "/t"
    val g1 = Warehouse.publishVersioned(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), table)
    // atomic schema change: next generation adds a column
    val g2 = Warehouse.publishVersioned(
      Seq((1L, "a", 0.5), (2L, "b", 0.7)).toDF("id", "v", "score"), table)
    assert(Warehouse.readVersioned(spark, table).columns.toSeq ==
      Seq("id", "v", "score"))
    // time travel: the pre-migration snapshot keeps its pre-migration schema
    val old = Warehouse.readVersionedAt(spark, table, g1)
    assert(old.columns.toSeq == Seq("id", "v") && old.count() == 2)
    // only committed generations are addressable
    intercept[IllegalArgumentException] {
      Warehouse.readVersionedAt(spark, table, "gen-99999999")
    }
    // vacuum keeps the addressable history it promises (keepHistory=1)
    Warehouse.vacuum(table, keepHistory = 1)
    assert(Warehouse.readVersionedAt(spark, table, g1).count() == 2)
    assert(Warehouse.readVersioned(spark, table).count() == 2)
    assert(g1 != g2)
  }

  test("scd2Build: runs collapse into chained validity intervals; a value " +
      "returning later opens a NEW version") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val log = Seq(
      (1L, ts(0), 1L, "A"), (1L, ts(1), 2L, "A"), // run 1: A (2 rows)
      (1L, ts(2), 3L, "B"),                       // run 2: B
      (1L, ts(3), 4L, "A"),                       // run 3: A again — not merged
      (2L, ts(5), 5L, "X"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Warehouse.scd2Build(log, Seq("user_id"), "ts",
        Seq("event_id"), Seq("event_type"))
      .orderBy("user_id", "version").collect()
    def f(r: org.apache.spark.sql.Row, c: String) = r.get(r.fieldIndex(c))
    val u1 = out.filter(_.getLong(0) == 1L)
    assert(u1.map(r => (f(r, "version"), f(r, "event_type"))).toSeq ==
      Seq((1L, "A"), (2L, "B"), (3L, "A")))
    // half-open chain: to(k) == from(k+1); only the last version is current
    assert(u1.map(r => f(r, "effective_from")).toSeq ==
      Seq(ts(0), ts(2), ts(3)))
    assert(u1.map(r => f(r, "effective_to")).toSeq ==
      Seq(ts(2), ts(3), null))
    assert(u1.map(r => f(r, "is_current")).toSeq ==
      Seq(false, false, true))
    val u2 = out.filter(_.getLong(0) == 2L)
    assert(u2.length == 1 && f(u2(0), "version") == 1L &&
      f(u2(0), "is_current") == true)
  }

  test("snapshotDiff: classifies insert/delete/update and drops unchanged keys") {
    import spark.implicits._
    val old = Seq((1L, "a", 10L, 1.0), (2L, "a", 20L, 2.0), (3L, "b", 30L, 3.0))
      .toDF("k", "g", "ver", "v")
    val nw = Seq((1L, "a", 10L, 1.0),   // unchanged → absent
      (2L, "a", 21L, 2.0),              // version moved → update
      (4L, "c", 40L, 4.0))              // new key → insert; (3,b) gone → delete
      .toDF("k", "g", "ver", "v")
    val out = Warehouse.snapshotDiff(old, nw, Seq("k", "g"), Seq("ver", "v"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getString(2), Option(r.get(3)), Option(r.get(4)))).toMap
    assert(out.keySet == Set((2L, "a"), (3L, "b"), (4L, "c")))
    assert(out((2L, "a")) == (("update", Some(20L), Some(21L))))
    assert(out((3L, "b")) == (("delete", Some(30L), None)))
    assert(out((4L, "c")) == (("insert", None, Some(40L))))
  }

  test("deletion vectors: soft delete hides keys without a rewrite, " +
      "re-delete is idempotent, appends union, compact purges physically") {
    import spark.implicits._
    val table = tempDir("graft-wh-dv") + "/t"
    val gen1 = Warehouse.publishVersioned(
      (1L to 10L).map(i => (i, s"row$i")).toDF("id", "v"), table)
    // soft delete two keys
    assert(Warehouse.deleteWhere(spark, table, "id", col("id") <= 2L) == 2L)
    val clean = Warehouse.readVersionedClean(spark, table)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(clean == (3L to 10L).toSet)
    // the RAW snapshot still has every row — no data file was touched
    assert(Warehouse.readVersioned(spark, table).count() == 10L)
    // idempotent: same predicate deletes nothing new
    assert(Warehouse.deleteWhere(spark, table, "id", col("id") <= 2L) == 0L)
    // a second delete appends a second sidecar; both apply
    assert(Warehouse.deleteWhere(spark, table, "id", col("id") === 5L) == 1L)
    assert(Warehouse.readVersionedClean(spark, table)
      .select("id").collect().map(_.getLong(0)).toSet == ((3L to 10L).toSet - 5L))
    // physical purge: compaction writes the next generation tombstone-free
    // and clean by RAW read
    Warehouse.compactExecute(spark, table, Long.MaxValue)
    val gen2 = Warehouse.liveGeneration(table).get
    assert(gen2 != gen1)
    assert(Warehouse.deletedKeys(spark, table, gen2).isEmpty)
    assert(Warehouse.readVersioned(spark, table)
      .select("id").collect().map(_.getLong(0)).toSet == ((3L to 10L).toSet - 5L))
    // pre-purge generation (with its tombstones) survives as history
    assert(Warehouse.readVersionedAt(spark, table, gen1).count() == 10L)
  }

  test("incrementalViewMerge: inserts add, deletes retract, a group " +
      "counted down to zero vanishes, new groups appear — matches the " +
      "full recompute over the live facts") {
    import spark.implicits._
    val base = Seq(("a", 10L), ("a", 20L), ("b", 5L), ("c", 1L))
      .toDF("k", "m")
    val view0 = Warehouse.viewPartialAgg(base, Seq("k"), Seq("m"), lit(1))
    // CDC delta: insert a=70 and d=9 (new group), retract c's only row
    // and one of a's
    val delta = Seq(("a", 70L, 1), ("d", 9L, 1), ("c", 1L, -1),
      ("a", 20L, -1)).toDF("k", "m", "op")
    val deltaAgg = Warehouse.viewPartialAgg(delta, Seq("k"), Seq("m"),
      col("op"))
    val merged = Warehouse.incrementalViewMerge(view0, deltaAgg, Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    // live facts: a → {10, 70}, b → {5}, d → {9}; c fully retracted
    assert(merged == Set(("a", 2L, 80L), ("b", 1L, 5L), ("d", 1L, 9L)))
    // layout mismatch refuses instead of silently mis-merging
    intercept[IllegalArgumentException] {
      Warehouse.incrementalViewMerge(view0,
        deltaAgg.withColumnRenamed("sum_m", "sum_x"), Seq("k"))
    }
  }

  test("writeBucketed: aggregation on the bucket key plans ZERO shuffle " +
      "exchanges (the storage layout satisfies the distribution) and " +
      "matches the plain groupBy bit-for-bit") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong % 37, i.toLong)).toDF("k", "v")
    val path = tempDir("graft_bkt") + "/t"
    Warehouse.writeBucketed(spark, df, "graft_bkt_spec", path, "k", 8)
    val agg = spark.table("graft_bkt_spec").groupBy("k")
      .agg(sum(col("v")).as("s"))
    val planText = agg.queryExecution.executedPlan.toString
    assert(!planText.contains("Exchange"),
      s"bucketed aggregation planned an exchange:\n$planText")
    val got = agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.groupBy("k").agg(sum(col("v")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // idempotent republish (drop + overwrite)
    Warehouse.writeBucketed(spark, df, "graft_bkt_spec", path, "k", 8)
    assert(spark.table("graft_bkt_spec").count() == 1000)
    spark.sql("DROP TABLE IF EXISTS graft_bkt_spec")
  }

  test("compactionPlan: deterministic cumulative next-fit bins") {
    import spark.implicits._
    val units = Seq(("a", 700L), ("b", 600L), ("c", 300L), ("d", 200L),
      ("e", 100L)).toDF("k", "sz")
    val out = Warehouse.compactionPlan(units, "k", "sz", 1000L)
      .collect().map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_units"),
        r.getAs[Long]("total_size"), r.getAs[String]("min_key"),
        r.getAs[String]("max_key")))
    // desc order: 700 (cum 700, bin 0), 600 (cum 1300, bin 0) closes the
    // quota; 300/200/100 land in bin 1
    assert(out.toSeq == Seq((0L, 2L, 1300L, "a", "b"),
      (1L, 3L, 600L, "c", "e")))
  }

  test("compactExecute: small files merge into size bins, tombstones " +
      "materialize, history serves the pre-compaction generation") {
    import spark.implicits._
    val table = tempDir("graft-wh-optimize") + "/t"
    val g1 = Warehouse.publishVersioned(
      (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartition(16), table)
    Warehouse.deleteWhere(spark, table, "id", col("id") % 10 === 0)
    def genFiles(g: String) =
      new java.io.File(s"$table/$g").listFiles()
        .count(_.getName.endsWith(".parquet"))
    assert(genFiles(g1) == 16)
    // one huge bin: everything merges into a single rewritten file
    val plan = Warehouse.compactExecute(spark, table, targetSize = 1L << 30)
      .collect()
    assert(plan.length == 1 && plan.head.getAs[Long]("n_files_in") == 16L)
    val g2 = Warehouse.liveGeneration(table).get
    assert(g2 != g1 && genFiles(g2) == 1)
    // tombstones were materialized, never resurrected
    val live = Warehouse.readVersioned(spark, table)
    assert(live.count() == 900)
    assert(live.filter(col("id") % 10 === 0).count() == 0)
    // ...and the clean-read path agrees (new generation has no sidecars)
    assert(Warehouse.readVersionedClean(spark, table).count() == 900)
    // time travel still serves the pre-compaction generation raw
    assert(Warehouse.readVersionedAt(spark, table, g1).count() == 1000)
    // copy-through path: no tombstones + tiny target -> every file is
    // its own bin and is hard-copied, rows identical
    val before = genFiles(g2)
    Warehouse.compactExecute(spark, table, targetSize = 1L)
    val g3 = Warehouse.liveGeneration(table).get
    assert(genFiles(g3) == before)
    assert(Warehouse.readVersioned(spark, table).count() == 900)
  }

  test("publishAudited (write-audit-publish): clean batch flips the " +
      "manifest, dirty batch is quarantined with the live table intact") {
    import spark.implicits._
    import graft.operators.Quality.Expectation._
    val table = tempDir("graft-wh-wap") + "/t"
    val rules = Seq(NotNull("id_not_null", "id"),
      InRange("v_range", "v", 0.0, 100.0))
    val clean = Seq((Some(1L), 10.0), (Some(2L), 20.0)).toDF("id", "v")
    val (g1, pub1, v1) = Warehouse.publishAudited(spark, clean, table, rules)
    assert(pub1 && v1 == 0L)
    assert(Warehouse.liveGeneration(table).contains(g1))
    assert(Warehouse.committedGenerations(table) == Seq(g1))
    // every published generation carries its audit proof
    assert(Files.exists(java.nio.file.Paths.get(table, g1, "_audit.json")))
    // dirty batch: one null id + one out-of-range value = 2 violations
    val dirty = Seq((Some(3L), 10.0), (None, 20.0), (Some(4L), 500.0))
      .toDF("id", "v")
    val (g2, pub2, v2) = Warehouse.publishAudited(spark, dirty, table, rules)
    assert(!pub2 && v2 == 2L)
    // quarantined: staged on disk with its audit record, but never live,
    // never committed — readers still serve batch 1 exactly
    assert(Warehouse.liveGeneration(table).contains(g1))
    assert(Warehouse.committedGenerations(table) == Seq(g1))
    assert(Files.exists(java.nio.file.Paths.get(table, g2, "_audit.json")))
    assert(Files.readString(java.nio.file.Paths.get(table, g2, "_audit.json"))
      .contains("\"published\": false"))
    val live = Warehouse.readVersioned(spark, table).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("v"))).sorted
    assert(live.toSeq == Seq((1L, 10.0), (2L, 20.0)))
    // the next clean publish skips past the quarantined number and
    // goes live normally (the orphan never shadows it)
    val (g3, pub3, _) = Warehouse.publishAudited(spark,
      Seq((Some(5L), 30.0)).toDF("id", "v"), table, rules)
    assert(pub3 && g3 > g2)
    assert(Warehouse.readVersioned(spark, table).count() == 1)
    graft.CacheScope.releaseAll()
  }

  test("CAS publish: the slot CAS fails the loser cleanly before any " +
      "data write; a pre-existing claim is skipped past, never reused " +
      "(r10 verdict #6)") {
    import spark.implicits._
    val table = tempDir("graft-wh-cas") + "/t"
    val g1 = Warehouse.publishVersioned((1 to 10).toDF("id"), table)
    // the race window, deterministically: two writers computed the same
    // next number; the first claim wins, the second throws retryable
    Warehouse.claimSlot(table, "gen-00000002")
    intercept[Warehouse.ConcurrentPublishException] {
      Warehouse.claimSlot(table, "gen-00000002")
    }
    // the loser touched NOTHING: live, history, data intact, and no
    // half-written gen-2 dir exists (it lost at claim time, pre-write)
    assert(Warehouse.liveGeneration(table).contains(g1))
    assert(Warehouse.committedGenerations(table) == Seq(g1))
    assert(Warehouse.readVersioned(spark, table).count() == 10)
    assert(!Files.exists(java.nio.file.Paths.get(table, "gen-00000002")))
    // its retry re-reads the table state, claims PAST the burned slot
    // (a stalled writer may still be staging gen-2 — its number is never
    // reused), and publishes normally
    val g3 = Warehouse.publishVersioned((1 to 5).toDF("id"), table)
    assert(g3 == "gen-00000003")
    assert(Warehouse.readVersioned(spark, table).count() == 5)
  }

  test("two-writer race: barrier-released concurrent publishes never " +
      "corrupt the chain — the live snapshot is exactly ONE writer's " +
      "rows and every committed generation is intact") {
    import spark.implicits._
    val table = tempDir("graft-wh-race") + "/t"
    Warehouse.publishVersioned((1 to 3).toDF("id"), table)
    val dsA = (1 to 100).toDF("id")
    val dsB = (201 to 400).toDF("id")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def writer(name: String, df: org.apache.spark.sql.DataFrame) =
      new Thread(() => {
        barrier.await()
        try { results.put(name, Warehouse.publishVersioned(df, table)) }
        catch {
          case _: Warehouse.ConcurrentPublishException =>
            results.put(name, "retryable")
          case e: Throwable => results.put(name, s"UNEXPECTED: $e")
        }
      })
    val (ta, tb) = (writer("a", dsA), writer("b", dsB))
    ta.start(); tb.start(); ta.join(60000); tb.join(60000)
    val ra = results.get("a"); val rb = results.get("b")
    assert(!ra.startsWith("UNEXPECTED") && !rb.startsWith("UNEXPECTED"),
      s"non-retryable failure: a=$ra b=$rb")
    // at least one writer must have won (both may, on distinct slots)
    assert(ra != "retryable" || rb != "retryable")
    // chain invariants: live is committed; the live snapshot is exactly
    // one writer's dataset, never a mix; history counts are intact
    val live = Warehouse.liveGeneration(table).get
    assert(Warehouse.committedGenerations(table).contains(live))
    val liveIds = Warehouse.readVersioned(spark, table).collect()
      .map(_.getInt(0)).sorted.toSeq
    assert(liveIds == (1 to 100) || liveIds == (201 to 400),
      s"live snapshot mixed writers: n=${liveIds.size}")
    Warehouse.committedGenerations(table).foreach { g =>
      val ids = spark.read.parquet(s"$table/$g").collect()
        .map(_.getInt(0)).sorted.toSeq
      assert(ids == (1 to 3) || ids == (1 to 100) || ids == (201 to 400),
        s"committed generation $g holds a corrupt row set (n=${ids.size})")
    }
    // a loser that retries succeeds cleanly on a fresh slot
    if (ra == "retryable") {
      Warehouse.publishVersioned(dsA, table)
      assert(Warehouse.readVersioned(spark, table).count() == 100)
    } else if (rb == "retryable") {
      Warehouse.publishVersioned(dsB, table)
      assert(Warehouse.readVersioned(spark, table).count() == 200)
    }
  }

  test("monotone live pointer: a slower writer committing an OLDER " +
      "claimed slot cannot flip the table backward") {
    import spark.implicits._
    val table = tempDir("graft-wh-mono") + "/t"
    Warehouse.publishVersioned((1 to 3).toDF("id"), table)
    // writer X claims gen-2 but stalls (claim only — simulate by hand)
    Files.createFile(java.nio.file.Paths.get(table, "gen-00000002.claim"))
    // writer Y claims gen-3 and completes first
    val g3 = Warehouse.publishVersioned((1 to 30).toDF("id"), table)
    assert(g3 == "gen-00000003")
    // X wakes up and completes its stale slot: stage data + commit marker
    // + numbered live marker, exactly what commitAndFlip would do
    (1 to 20).toDF("id").write.parquet(s"$table/gen-00000002")
    Files.writeString(java.nio.file.Paths.get(table,
      "gen-00000002", "_COMMITTED"), "gen-00000002")
    Files.createFile(java.nio.file.Paths.get(table, "_MANIFEST.gen-00000002"))
    // readers still resolve the max marker: gen-3 stays live, gen-2 is
    // history (committed, time-travelable) — no backward flip
    assert(Warehouse.liveGeneration(table).contains(g3))
    assert(Warehouse.readVersioned(spark, table).count() == 30)
    assert(Warehouse.committedGenerations(table).contains("gen-00000002"))
    assert(Warehouse.readVersionedAt(spark, table, "gen-00000002")
      .count() == 20)
  }

  test("hidden partitioning: day(ts) layout prunes by day, reads exact rows") {
    import spark.implicits._
    val table = tempDir("graft-wh-hidden") + "/t"
    // 4 days x 4 rows, on the hour
    val rows = for (d <- 1 to 4; h <- Seq(0, 6, 12, 18))
      yield (d * 100 + h, f"2024-03-0$d $h%02d:30:00")
    val df = rows.toDF("id", "s")
      .select(col("id"), col("s").cast("timestamp_ntz").as("ts"))
    val g1 = Warehouse.publishHiddenPartitioned(df, table,
      Warehouse.TimeTransform("ts", "day"))
    assert(Warehouse.hiddenTransformOf(table, g1).map(_.spec)
      .contains("day(ts)"))
    // range spanning half of day 2 through half of day 3
    val (lo, hi) = ("2024-03-02 06:00:00", "2024-03-03 12:00:00")
    val (kept, total) = Warehouse.hiddenRangePrune(table, g1, lo, hi)
    assert(total == 4 && kept == Seq("2024-03-02", "2024-03-03"))
    val got = Warehouse.hiddenRangeRead(spark, table, lo, hi)
      .select("id").collect().map(_.getInt(0)).sorted.toSeq
    // day 2: hours 6,12,18 (6:30.. >= 6:00); day 3: hours 0,6 (12:30 > hi)
    assert(got == Seq(206, 212, 218, 300, 306))
    // pruned read ≡ unpruned filter (exactness contract)
    val full = spark.read.parquet(s"$table/$g1").drop("__part")
      .filter(col("ts").between(lit(lo).cast("timestamp_ntz"),
        lit(hi).cast("timestamp_ntz")))
      .select("id").collect().map(_.getInt(0)).sorted.toSeq
    assert(got == full)
  }

  test("partition evolution: g1 day(ts), g2 hour(ts) — each generation " +
      "prunes under its OWN stored transform, live and time-travel") {
    import spark.implicits._
    val table = tempDir("graft-wh-evolution") + "/t"
    val rows = for (d <- 1 to 3; h <- Seq(0, 8, 16))
      yield (d * 100 + h, f"2024-03-0$d $h%02d:15:00")
    val df = rows.toDF("id", "s")
      .select(col("id"), col("s").cast("timestamp_ntz").as("ts"))
    val g1 = Warehouse.publishHiddenPartitioned(df, table,
      Warehouse.TimeTransform("ts", "day"))
    val g2 = Warehouse.publishHiddenPartitioned(df, table,
      Warehouse.TimeTransform("ts", "hour"))
    assert(Warehouse.liveGeneration(table).contains(g2))
    assert(Warehouse.hiddenTransformOf(table, g2).map(_.spec)
      .contains("hour(ts)"))
    val (lo, hi) = ("2024-03-01 08:00:00", "2024-03-02 08:30:00")
    // live (hourly): 9 hour-partitions total, kept = 01-08, 01-16,
    // 02-00, 02-08 (four hour dirs inside the range's floor bounds)
    val (keptH, totalH) = Warehouse.hiddenRangePrune(table, g2, lo, hi)
    assert(totalH == 9)
    assert(keptH == Seq("2024-03-01-08", "2024-03-01-16",
      "2024-03-02-00", "2024-03-02-08"))
    // time travel to g1 (daily): 3 day-partitions, kept = days 1 and 2
    val (keptD, totalD) = Warehouse.hiddenRangePrune(table, g1, lo, hi)
    assert(totalD == 3 && keptD == Seq("2024-03-01", "2024-03-02"))
    // both reads return the SAME exact rows despite different layouts
    def ids(gen: String) =
      Warehouse.hiddenRangeRead(spark, table, lo, hi, Some(gen))
        .select("id").collect().map(_.getInt(0)).sorted.toSeq
    assert(ids(g2) == Seq(108, 116, 200, 208))
    assert(ids(g1) == ids(g2))
    // the live plan actually partition-prunes: the scan's partition
    // filters reference __part, and only 4 of 9 directories survive
    val plan = Warehouse.hiddenRangeRead(spark, table, lo, hi)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__part"))
  }
}
