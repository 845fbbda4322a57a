package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFns

class DedupSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
      (2L, "completely different words appear in this one"),
      (3L, "THE  QUICK brown fox jumps over the lazy dog") // exact after norm
    ).toDF("doc_id", "text")
  }

  test("exactByFingerprint keeps the lowest id per normalized text") {
    val out = Dedup.exactByFingerprint(docs, "doc_id",
      TextFns.fingerprint(col("text")))
    val survivors = out.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(survivors.toSeq == Seq(0L, 1L, 2L)) // 3 collapses into 0
    val g = out.filter(col("doc_id") === 0).collect()(0).getAs[Long]("group_size")
    assert(g == 2L)
  }

  test("shingles produce size-n+1 overlapping word n-grams") {
    val sh = docs.filter(col("doc_id") === 0)
      .select(TextFns.shingles(col("text"), 3).as("sh"))
      .collect()(0).getSeq[String](0)
    assert(sh.length == 7) // 9 tokens → 7 tri-grams
    assert(sh.head == "the quick brown" && sh.last == "the lazy dog")
  }

  test("ngramJaccardPairs finds the near-dup pair with the hand-computed score") {
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3).collect()
    // docs 0/1: 9 tokens → 7 trigrams; only 'the lazy dog|cat' differs →
    // inter = 6, union = 8
    val p01 = out.find(r => r.getAs[Long]("id_a") == 0L && r.getAs[Long]("id_b") == 1L)
    assert(p01.isDefined)
    assert(p01.get.getAs[Long]("inter") == 6L)
    assert(math.abs(p01.get.getAs[Double]("jaccard") - 0.75) < 1e-12)
    // 0/3 are identical after normalization → jaccard 1.0
    val p03 = out.find(r => r.getAs[Long]("id_a") == 0L && r.getAs[Long]("id_b") == 3L)
    assert(p03.get.getAs[Double]("jaccard") == 1.0)
  }

  test("minhashNearDups recalls the planted near-dups and exactly confirms") {
    val out = Dedup.minhashNearDups(docs, "doc_id", "text", 3, 32, 8, 0.5)
      .collect()
    val pairs = out.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 3L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("containmentPairs: a contained document is found even where " +
      "Jaccard stays below threshold (asymmetry)") {
    import spark.implicits._
    val d = Seq(
      (0L, "a b c d e f"),              // 4 trigrams, all inside doc 1
      (1L, "a b c d e f g h"),          // 6 trigrams (superset of doc 0)
      (2L, "totally different text lives here now")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(d, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        ((r.getAs[Long]("inter"), r.getAs[Double]("cont_a"), r.getAs[Double]("cont_b"))))
      .toMap
    // cont_a = 4/4 = 1.0 clears 0.9; jaccard would be 4/6 ≈ 0.67 and miss
    assert(out.keySet == Set((0L, 1L)))
    assert(out((0L, 1L)) == ((4L, 1.0, 4.0 / 6.0)))
  }

  test("sourceOverlap: exact group-level Jaccard and containment, " +
      "within-group duplicates collapse, zero-overlap pairs absent") {
    import spark.implicits._
    val d = Seq(
      (0L, "g1", "a b c d"),   // {abc, bcd}
      (1L, "g1", "a b c"),     // {abc} — already counted for g1
      (2L, "g2", "b c d e"),   // {bcd, cde}
      (3L, "g3", "x y z w")    // {xyz, yzw} — disjoint from g1/g2
    ).toDF("doc_id", "source", "text")
    try {
      val out = Dedup.sourceOverlap(d, "source", "text", 3)
        .collect().map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
          ((r.getAs[Long]("size_a"), r.getAs[Long]("size_b"),
            r.getAs[Long]("n_common"), r.getAs[Double]("jaccard"),
            r.getAs[Double]("cont_a_in_b"), r.getAs[Double]("cont_b_in_a"))))
        .toMap
      // only g1-g2 overlap (shared 'b c d'); g3 pairs must not appear
      assert(out.keySet == Set(("g1", "g2")))
      assert(out(("g1", "g2")) == ((2L, 2L, 1L, 1.0 / 3.0, 0.5, 0.5)))
    } finally graft.CacheScope.releaseAll()
  }

  test("editDistanceNearDups: the relative edit budget gates candidate " +
      "pairs by cross-multiplied integers") {
    // normalized pairs above jac 0.5: (0,1) lev=3 (dog→cat), (0,3) lev=0
    // (normalization-equal), (1,3) lev=3; max_len=43 everywhere.
    // Budget 1/10: 3·10=30 ≤ 43 → all three pass.
    val loose = Dedup.editDistanceNearDups(docs, "doc_id", "text",
        3, 32, 8, 0.5, 1, 10)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Int]("lev")).toMap
    assert(loose == Map((0L, 1L) -> 3, (0L, 3L) -> 0, (1L, 3L) -> 3))
    // Budget 1/20: 3·20=60 > 43 → only the lev-0 pair survives
    val tight = Dedup.editDistanceNearDups(docs, "doc_id", "text",
        3, 32, 8, 0.5, 1, 20)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(tight == Set((0L, 3L)))
  }

  test("simhash is identical for normalization-equal docs, near for near-dups") {
    val sigs = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(sigs(0L) == sigs(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(1L)) < ham(sigs(0L), sigs(2L)))
  }

  test("contaminatedBy flags docs sharing an 8-gram run with the benchmark " +
      "set, counts distinct hits, and ignores shorter overlaps") {
    import spark.implicits._
    val run = "one two three four five six seven eight" // exactly 8 tokens
    val corpus = Seq(
      (1L, s"prefix words then $run and trailing text"),   // contains the run
      (2L, "one two three four nothing else shared here"), // only a 4-gram
      (3L, "completely disjoint content in this document xyz")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, s"$run plus benchmark continuation"))
      .toDF("doc_id", "text")
    val out = Dedup.contaminatedBy(corpus, bench, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L))
    assert(out(1L) == 1L) // exactly the one shared 8-gram
  }

  test("simhashNearDups via band join equals brute force for maxDist < bands") {
    val sigs = Dedup.simhash(docs, "doc_id", "text")
    val banded = Dedup.simhashNearDups(sigs, 3, 4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val all = sigs.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash"))
    val brute = (for {
      (ia, sa) <- all; (ib, sb) <- all if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(banded == brute)
  }

  test("incrementalDedup: corpus-known rows dropped, within-batch keep-first") {
    import spark.implicits._
    import graft.functions.TextFns
    val corpus = Seq("known text one", "known text two").toDF("text")
      .select(TextFns.fingerprint(col("text")).as("fingerprint"))
    val incoming = Seq(
      (10L, "known text one"),   // already in the corpus → dropped
      (11L, "fresh text"),       // new → kept
      (12L, "fresh text"),       // within-batch dup of 11 → dropped
      (13L, "Known  Text two"),  // normalization catches case/ws → dropped
      (14L, "another fresh one") // new → kept
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(incoming, corpus, "doc_id",
        TextFns.fingerprint(col("text")))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(out == Set(11L, 14L))
  }

  test("incrementalDedupBloom: identical output to the exact anti-join, " +
      "including under a saturated (high-fpp) filter") {
    import spark.implicits._
    import graft.functions.TextFns
    val docs = (0L until 200L).map(i => (i, s"document body number ${i % 120}"))
      .toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 90)
      .select(TextFns.fingerprint(col("text")).as("fingerprint"))
    val incoming = docs.filter(col("doc_id") >= 90)
    def run(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "fingerprint").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val exact = run(Dedup.incrementalDedup(incoming, corpus, "doc_id",
      TextFns.fingerprint(col("text"))))
    // normal sizing: few false positives
    val bloom = run(Dedup.incrementalDedupBloom(incoming, corpus, "doc_id",
      TextFns.fingerprint(col("text")), expectedItems = 1000L, fpp = 0.01))
    assert(bloom == exact)
    // deliberately undersized filter → many false positives; everything
    // routes through the exact join and the result must not change
    val saturated = run(Dedup.incrementalDedupBloom(incoming, corpus, "doc_id",
      TextFns.fingerprint(col("text")), expectedItems = 2L, fpp = 0.5))
    assert(saturated == exact)
  }

  test("fuzzyDecontaminate: cross pairs only — corpus-corpus and " +
      "bench-bench near-dups are never reported") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base + " one"),   // corpus near-dup of bench 100 → flagged
      (2L, base + " one"),   // corpus EXACT dup of 1 → flagged vs bench, but
                             // the (1,2) corpus-corpus pair must NOT appear
      (3L, "completely different words nothing shared here at all today")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, base + " one"),
      (101L, base + " one")  // bench-bench dup — must NOT appear either
    ).toDF("doc_id", "text")
    val out = Dedup.fuzzyDecontaminate(docs, bench, "doc_id", "text",
        3, 64, 16, 0.8)
      .collect().map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("bench_id"))).toSet
    assert(out == Set((1L, 100L), (1L, 101L), (2L, 100L), (2L, 101L)))
  }

  test("incrementalDedupBloom: empty corpus — every row provably fresh, " +
      "within-batch keep-first still applies") {
    import spark.implicits._
    import graft.functions.TextFns
    val incoming = Seq((1L, "alpha"), (2L, "alpha"), (3L, "beta"))
      .toDF("doc_id", "text")
    val empty = incoming.filter(lit(false))
      .select(TextFns.fingerprint(col("text")).as("fingerprint"))
    val out = Dedup.incrementalDedupBloom(incoming, empty, "doc_id",
        TextFns.fingerprint(col("text")), expectedItems = 10L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(out == Set(1L, 3L))
  }

  test("minhashNearDups and fuzzyDecontaminate report exactly the pairs " +
      "and jaccards of the exact n-gram join on testdata") {
    // LSH only prunes candidates; the array_intersect confirm decides. At
    // 16 bands x 4 rows a true pair at jaccard 0.8 escapes every band with
    // p ~ 2e-4, so on sf0.001 both banded operators must equal the exact
    // ngramJaccardPairs definition the q21/q69 oracles replay.
    val docs = graft.GraftSession.table(spark, "/root/testdata/sf0.001", "documents")
    // sorted rows, not a map: a pair reported twice must fail too
    def pairRows(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.collect().map(r => (r.getAs[Long](a), r.getAs[Long](b),
        r.getAs[Double]("jaccard"))).toSeq.sortBy(p => (p._1, p._2))
    val exact = pairRows(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8),
      "id_a", "id_b")
    graft.CacheScope.releaseAll()
    val banded = pairRows(Dedup.minhashNearDups(docs, "doc_id", "text",
      3, 64, 16, 0.8), "id_a", "id_b")
    graft.CacheScope.releaseAll()
    assert(exact.nonEmpty)
    assert(banded == exact)
    // cross-corpus form, split as q69 splits: every exact pair with one
    // side in each half, oriented (corpus, bench)
    val isBench = (id: Long) => id % 5 == 0
    val exactCross = exact.collect { case (a, b, j) if isBench(a) != isBench(b) =>
      if (isBench(b)) (a, b, j) else (b, a, j) }.sortBy(p => (p._1, p._2))
    val cross = pairRows(Dedup.fuzzyDecontaminate(
        docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", 3, 64, 16, 0.8), "corpus_id", "bench_id")
    graft.CacheScope.releaseAll()
    assert(exactCross.nonEmpty)
    assert(cross == exactCross)
  }

  test("lshIndexProbe: probing a new batch against the stored index " +
      "reports exactly the cross-batch pairs of the one-shot union run, " +
      "and index maintenance is a plain append (index(b1)+index(b2) == " +
      "index(b1 ∪ b2))") {
    val docs = graft.GraftSession.table(spark, "/root/testdata/sf0.001",
      "documents")
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)
    val (ib, idocs) = Dedup.lshIndexRelations(b1, "doc_id", "text", 3, 64, 16)
    val probed = Dedup.lshIndexProbe(ib, idocs, b2, "doc_id", "text",
        3, 64, 16, 0.8)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("jaccard")).toMap
    graft.CacheScope.releaseAll()
    // one-shot union run, restricted to cross-parity pairs (canonical
    // id_a < id_b order -> orient to (even, odd))
    val union = Dedup.minhashNearDups(docs, "doc_id", "text", 3, 64, 16, 0.8)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("jaccard"))
      .collect { case ((a, b), j) if a % 2 != b % 2 =>
        (if (a % 2 == 0) (a, b) else (b, a)) -> j }
      .toMap
    graft.CacheScope.releaseAll()
    assert(probed.nonEmpty)
    assert(probed == union)
    // maintenance contract: per-doc index rows are batch-independent, so
    // appending batch-2's rows to batch-1's index IS the union index
    val (ib2, idocs2) = Dedup.lshIndexRelations(b2, "doc_id", "text", 3, 64, 16)
    val (ibU, idocsU) = Dedup.lshIndexRelations(docs, "doc_id", "text", 3, 64, 16)
    def bandRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("band"),
        r.getAs[Long]("bucket"))).toSet
    assert(bandRows(ib) ++ bandRows(ib2) == bandRows(ibU))
    def docRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("sz"),
        r.getSeq[Long](r.fieldIndex("shs")).sorted.toIndexedSeq)).toSet
    assert(docRows(idocs) ++ docRows(idocs2) == docRows(idocsU))
    graft.CacheScope.releaseAll()
  }

  test("bandPlannerEmpirical: nested power-of-two splits give monotone " +
      "candidate volume and recall; truth set constant across rows") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = Dedup.bandPlannerEmpirical(docs, "doc_id", "text", 3, 16, 0.8)
      .collect()
      .map(r => (r.getAs[Int]("bands"), r.getAs[Long]("n_cand"),
        r.getAs[Long]("n_truth"), r.getAs[Long]("tp")))
      .sortBy(_._1)
    graft.CacheScope.releaseAll()
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8, 16))
    // same exact-Jaccard truth on every row
    assert(rows.map(_._3).distinct.length == 1 && rows.head._3 > 0)
    // 16 = 2^4: every split's bands refine the next coarser one's, so a
    // band match at fewer bands implies matches at more bands ->
    // candidates and true positives are monotone non-decreasing in b
    assert(rows.sliding(2).forall { case Array(x, y) =>
      x._2 <= y._2 && x._4 <= y._4 })
    // single-slot bands (b=16) catch every >= 0.8 pair on this corpus
    assert(rows.last._4 == rows.last._3)
  }

  test("minhash ESTIMATOR calibration: matching-slot fraction tracks the " +
      "exact Jaccard on real pairs (per-pair band, unbiased-ish mean)") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val k = 64
    val arr = graft.CacheScope.register(
      Dedup.shingleArrays(docs, "doc_id", "text", 3))
    val sigs = Dedup.minhashSignaturesArr(arr, k)
    // exact pairs at a low threshold so the estimator is tested across a
    // RANGE of true similarities, not only near-1 dups
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.4)
    val est = pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sa")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sb")), "id_b")
      .select(col("jaccard"),
        (aggregate(zip_with(col("sa"), col("sb"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
          .cast("double") / k).as("est"))
      .collect()
    graft.CacheScope.releaseAll()
    assert(est.nonEmpty)
    val errs = est.map(r => r.getDouble(1) - r.getDouble(0))
    // per-pair: a 64-hash MinHash estimate has sd ≤ 1/16 at J=0.5;
    // 4 sd ≈ 0.25 is a safe deterministic band for this fixed corpus
    assert(errs.forall(e => math.abs(e) <= 0.25),
      s"worst error ${errs.map(math.abs).max}")
    val mean = errs.sum / errs.length
    assert(math.abs(mean) <= 0.06, s"mean error $mean")
  }

  test("splitLeakage: counts replay the h60Local split exactly; empty " +
      "pair relation divides safely") {
    import spark.implicits._
    val ids = (1L to 40L).toSeq
    val docs = ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairEdges = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L), (9L, 10L),
      (11L, 12L), (13L, 14L))
    val pairs = pairEdges.toDF("id_a", "id_b")
    val out = Dedup.splitLeakage(docs, "doc_id", pairs, "id_a", "id_b",
      80, "spec-salt").collect().head
    graft.CacheScope.releaseAll()
    // independent replay of the salted split on the driver
    def splitOf(i: Long): String =
      if (graft.functions.Hashing.h60Local(s"spec-salt:$i") % 100 < 80) "train"
      else "eval"
    val nTrain = ids.count(splitOf(_) == "train").toLong
    val leaked = pairEdges.count { case (a, b) => splitOf(a) != splitOf(b) }.toLong
    val tt = pairEdges.count { case (a, b) =>
      splitOf(a) == "train" && splitOf(b) == "train" }.toLong
    assert(out.getAs[Long]("n_train_docs") == nTrain)
    assert(out.getAs[Long]("n_eval_docs") == 40L - nTrain)
    assert(out.getAs[Long]("n_pairs") == pairEdges.length.toLong)
    assert(out.getAs[Long]("n_train_train") == tt)
    assert(out.getAs[Long]("n_leaked") == leaked)
    assert(out.getAs[Long]("n_eval_eval") ==
      pairEdges.length.toLong - tt - leaked)
    assert(out.getAs[Long]("leaked_micro") ==
      leaked * 1000000L / pairEdges.length)
    // no pairs: one well-defined row, zero leak, no division blow-up
    val empty = Dedup.splitLeakage(docs, "doc_id",
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b",
      80, "spec-salt").collect().head
    graft.CacheScope.releaseAll()
    assert(empty.getAs[Long]("n_pairs") == 0L)
    assert(empty.getAs[Long]("n_leaked") == 0L)
    assert(empty.getAs[Long]("leaked_micro") == 0L)
  }

  /** Spark jobs one `minhashNearDups` call starts over the sf0.001
    * exact-dedup survivors (cached, as the curation job caches them),
    * result collected. Fewer jobs than pinned passes with a note to
    * re-pin; more fails. */
  private val minhashJobsPin = 12

  test("minhashNearDups over the sf0.001 exact-dedup survivors starts no " +
      "more Spark jobs than pinned, the same number on every run") {
    val docs = graft.GraftSession.table(spark, "/root/testdata/sf0.001", "documents")
    def jobs(): Int = jobsStarted {
      try Dedup.minhashNearDups(
          graft.CacheScope.register(Dedup.exactByFingerprint(docs, "doc_id",
            TextFns.prefixFingerprint(col("text"), 80))),
          "doc_id", "text", 3, 64, 16, 0.8).collect()
      finally graft.CacheScope.releaseAll()
    }._2
    val counts = Seq.fill(3)(jobs())
    assert(counts.distinct.size == 1, s"job count differs between runs: $counts")
    assert(counts.head <= minhashJobsPin,
      s"minhashNearDups jobs $minhashJobsPin -> ${counts.head}")
    if (counts.head < minhashJobsPin)
      info(s"fewer jobs (consider re-pinning): $minhashJobsPin -> ${counts.head}")
  }
}
