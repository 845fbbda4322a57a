package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextMultimodalSpec extends SparkSpec {

  test("readability: hand-counted sentences/words/vowel groups, " +
      "sentence clamp, null text excluded") {
    import spark.implicits._
    val df = Seq(
      ("s1", "Hello world."),   // 1 sentence, 2 words, 3 vowel groups
      ("s2", "abc xyz"),        // no terminal punct → clamps to 1 sentence
      ("s3", null: String)      // excluded entirely
    ).toDF("source", "text")
    val out = TextOps.readability(df, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_sentences"), r.getAs[Long]("n_words"),
          r.getAs[Long]("n_vowel_groups"),
          r.getAs[Double]("flesch_milli")))).toMap
    assert(out.keySet == Set("s1", "s2"))
    // 206835 − 1015·(2/1) − 84600·(3/2): every term integer-exact
    assert(out("s1") == ((1L, 2L, 3L, 206835.0 - 2030.0 - 126900.0)))
    // "abc"→a, "xyz"→y: 2 vowel groups; 206835 − 2030 − 84600·(2/2)
    assert(out("s2") == ((1L, 2L, 2L, 206835.0 - 2030.0 - 84600.0)))
  }

  test("codeSwitchAudit: a half-English/half-German doc flags mixed; " +
      "uniform and undecidable docs do not") {
    import spark.implicits._
    val df = Seq(
      (0L, "the the the agg agg agg"),   // halves: en | de -> mixed
      (1L, "the the the the"),           // en | en -> not mixed
      (2L, "xy zz qq ww"),               // und | und -> not mixed
      (3L, "agg agg the"))               // h1 = [agg] de, h2 = [agg the]
      .toDF("doc_id", "text")            //   tie agg/the -> de (lexicon
                                         //   order) -> NOT mixed
    val out = TextOps.codeSwitchAudit(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[String]("lang_first") == "en" &&
      out(0L).getAs[String]("lang_second") == "de" &&
      out(0L).getAs[Boolean]("mixed"))
    assert(out(1L).getAs[String]("lang_first") == "en" &&
      !out(1L).getAs[Boolean]("mixed"))
    assert(out(2L).getAs[String]("lang_first") == "und" &&
      !out(2L).getAs[Boolean]("mixed"))
    assert(out(3L).getAs[String]("lang_first") == "de" &&
      out(3L).getAs[String]("lang_second") == "de" &&
      !out(3L).getAs[Boolean]("mixed"))
    assert(out(0L).getAs[Long]("n_tokens") == 6L)
  }

  test("charNgrams: overlapping n-grams of the normalized text, none " +
      "for text shorter than n") {
    import spark.implicits._
    val df = Seq((0L, "aber die und"), (1L, "zz")).toDF("doc_id", "text")
    val grams = df.orderBy("doc_id")
      .select(TextOps.charNgrams(col("text"), 3).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(grams(0).length == 10 && grams(0).head == "abe" &&
      grams(0).contains("r d"))
    assert(grams(1).isEmpty)
  }

  test("qualityFeatures computes exact counts and micro-unit ratios") {
    import spark.implicits._
    val df = Seq((0L, "the cat, the hat!")).toDF("doc_id", "text")
    val r = TextOps.qualityFeatures(df, "doc_id", "text").collect()(0)
    assert(r.getAs[Int]("n_chars") == 17)
    assert(r.getAs[Int]("n_tokens") == 4)
    // 2 punctuation chars of 17: round-half-up(2e6/17) = floor(4000017/34)
    assert(r.getAs[Long]("punct_ratio_micro") == 117647L)
    // 'the' twice of 4 tokens (",!" stay attached → 'cat,'/'hat!' not
    // stopwords): exactly half a million micro units
    assert(r.getAs[Long]("stopword_ratio_micro") == 500000L)
    // mean token length (17 - 3 separators) / 4 — raw IEEE division
    assert(r.getAs[Double]("mean_token_len") == 3.5)
    // min(4·1e4, 1e6) − 2·117647 + 500000
    assert(r.getAs[Long]("quality_score_micro") == 40000L - 2 * 117647L + 500000L)
  }

  test("tokenCounts: whitespace vs BPE-ish tokens") {
    import spark.implicits._
    val df = Seq((0L, "hello world42, ok")).toDF("doc_id", "text")
    val r = TextOps.tokenCounts(df, "doc_id", "text").collect()(0)
    assert(r.getAs[Int]("n_ws_tokens") == 3)
    // hello | world | 42 | , | ok
    assert(r.getAs[Int]("n_bpe_tokens") == 5)
  }

  test("redactPii replaces emails/phones/IPs with typed tokens and counts " +
      "the redactions") {
    import spark.implicits._
    val docs = Seq(
      (0L, "reach me at jane.doe+x@corp.example.org or 555-123-4567 thanks"),
      (1L, "server 192.168.0.42 responded"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val out = TextOps.redactPii(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(out(0L)._1 == "reach me at <EMAIL> or <PHONE> thanks")
    assert(out(0L)._2 == 2)
    assert(out(1L)._1 == "server <IP> responded" && out(1L)._2 == 1)
    assert(out(2L) == ("no pii here at all", 0))
  }

  test("topVocab returns the k most frequent tokens with doc frequencies, " +
      "ties broken alphabetically") {
    import spark.implicits._
    val docs = Seq((0L, "apple apple banana"), (1L, "apple cherry banana"))
      .toDF("doc_id", "text")
    val out = TextOps.topVocab(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("apple", 3L, 2L), ("banana", 2L, 2L)))
  }

  test("winnowFingerprints: the MOSS guarantee — docs sharing a run of " +
      ">= w+k-1 tokens share a fingerprint; disjoint docs share none") {
    import spark.implicits._
    val sharedRun = "alpha beta gamma delta epsilon zeta" // 6 tokens = w+k-1
    val docs = Seq(
      (0L, s"unrelated prefix words here $sharedRun and a suffix tail"),
      (1L, s"$sharedRun completely different continuation text"),
      (2L, "nothing in common with either of the others at all"))
      .toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(docs, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (id, a) => id -> a.map(_._2).toSet }
    assert((fps(0L) intersect fps(1L)).nonEmpty) // shared run detected
    assert((fps(0L) intersect fps(2L)).isEmpty)
    assert((fps(1L) intersect fps(2L)).isEmpty)
  }

  test("winnowFingerprints: short docs (< w shingles) keep their global " +
      "min; sub-k docs yield nothing") {
    import spark.implicits._
    val docs = Seq(
      (0L, "just four little tokens"),  // 2 shingles < w=4 → 1 fingerprint
      (1L, "two words")                 // < k tokens → no shingles
    ).toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(docs, "doc_id", "text", k = 3, w = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(fps == Seq(0L))
  }

  test("binaryFeatures magic bytes match the payload head") {
    import spark.implicits._
    val docs = Seq((0L, "abcdef")).toDF("doc_id", "text")
    val r = Multimodal.binaryFeatures(Multimodal.asMedia(docs, "doc_id", "text"))
      .collect()(0)
    assert(r.getAs[Int]("n_bytes") == 6)
    assert(r.getAs[String]("magic") == "61626364")
  }

  test("perceptualHash: hand-computed bands on a two-level payload") {
    import spark.implicits._
    // 32 'a' (0x61) then 32 'z' (0x7A): n=64 so cell j = byte j. Mean is
    // strictly between the two levels, so exactly the 'z' half sets bits:
    // bands 0-3 (bits 0-31) = 0, bands 4-7 (bits 32-63) = 255.
    val docs = Seq((0L, "a" * 32 + "z" * 32), (1L, "a" * 64)).toDF("doc_id", "text")
    val sig = Multimodal.perceptualHash(
        Multimodal.asMedia(docs, "doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[Int]]("bands").toSeq).toMap
    assert(sig(0L) == Seq(0, 0, 0, 0, 255, 255, 255, 255))
    // constant payload: no cell exceeds the mean strictly -> all-zero hash
    assert(sig(1L) == Seq(0, 0, 0, 0, 0, 0, 0, 0))
  }

  test("grayscaleFeatures: hand-computed histogram, mean, and edge " +
      "density on a striped 8x8 grid (r10 verdict #7)") {
    import spark.implicits._
    // rows alternate 8 spaces (0x20, bin 1) and 8 tildes (0x7E, bin 3):
    // n=64 so cell j = byte j. Histogram: 32 in bin 1, 32 in bin 3.
    // Every vertical neighbor pair crosses the stripe (|126-32|=94>32)
    // -> 56 vertical edges; rows are constant -> 0 horizontal edges.
    // mean = (32*32 + 32*126)*1e6 div 64 = 79_000_000.
    val striped = (" " * 8 + "~" * 8) * 4
    val docs = Seq((0L, striped), (1L, "a" * 64)).toDF("doc_id", "text")
    val out = Multimodal.grayscaleFeatures(
        Multimodal.asMedia(docs, "doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val s = out(0L)
    assert((0 until 8).map(b => s.getAs[Long](s"hist_$b")) ==
      Seq(0L, 32L, 0L, 32L, 0L, 0L, 0L, 0L))
    assert(s.getAs[Long]("mean_intensity_micro") == 79000000L)
    assert(s.getAs[Long]("n_edges") == 56L)
    assert(s.getAs[Long]("edge_density_micro") == 500000L) // 56e6 div 112
    // constant payload: one bin holds all 64 cells, zero edges
    val c = out(1L)
    assert(c.getAs[Long]("hist_3") == 64L && c.getAs[Long]("n_edges") == 0L)
    assert(c.getAs[Long]("edge_density_micro") == 0L)
  }

  test("phashNearDup: banded pairing is EXACTLY brute force at Hamming <= 7 " +
      "and finds planted dups") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def randText(len: Int) =
      (0 until len).map(_ => (32 + rnd.nextInt(95)).toChar).mkString
    val base = (0L until 60L).map(i => (i, randText(80 + rnd.nextInt(60))))
    // planted: 100 = exact copy of 0 (hamming 0); 101 = same-length
    // perturbation of 1 (a few bytes touched -> few cells move)
    val perturbed = base(1)._2.toCharArray
    perturbed(5) = 'X'; perturbed(40) = 'Y'
    val docs = (base :+ (100L, base(0)._2) :+ (101L, new String(perturbed)))
      .toDF("doc_id", "text")
    val media = Multimodal.asMedia(docs, "doc_id", "text")

    val got = Multimodal.phashNearDup(media, 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bands = Multimodal.perceptualHash(media).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[Int]]("bands").toSeq)
    val brute = (for {
      (ida, ba) <- bands; (idb, bb) <- bands if ida < idb
      ham = ba.zip(bb).map { case (x, y) =>
        java.lang.Integer.bitCount(x ^ y) }.sum
      if ham <= 7
    } yield (ida, idb, ham)).toSet
    assert(got == brute)
    assert(got.contains((0L, 100L, 0)))
  }

  test("vocabJaccard: hand-computed overlap, token multiplicity ignored") {
    import spark.implicits._
    // a: {x,y,z}; b: {y,z,w} (repeats collapse) -> inter 2, union 4
    val docs = Seq(("a", "x y z"), ("a", "y y"), ("b", "y z"), ("b", "w w"))
      .toDF("source", "text")
    val out = TextOps.vocabJaccard(docs, "source", "text").collect()
    assert(out.length == 1)
    val r = out(0)
    assert((r.getString(0), r.getString(1)) == ("a", "b"))
    assert(r.getAs[Long]("inter") == 2L &&
      r.getAs[Long]("sz_a") == 3L && r.getAs[Long]("sz_b") == 3L)
    assert(r.getAs[Double]("jaccard") == 0.5)
  }

  test("cdcDupChunks: content-defined boundaries re-sync after a 1-token " +
      "insertion, exact dups share every chunk") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val words = (0 until 120).map(_ => "w" + rnd.nextInt(500)).mkString(" ")
    // a fixed segmenter shares ZERO 32-token segments after a 1-token
    // prefix shift; CDC chunks re-synchronize at the first content cut
    val docs = Seq((1L, words), (2L, "zzz " + words)).toDF("doc_id", "text")
    val out = TextOps.cdcDupChunks(docs, "doc_id", "text", 4, 8).collect()
    assert(out.length >= 3, s"only ${out.length} shared chunks after shift")
    assert(out.forall(_.getAs[Long]("n_docs") == 2L))
    // exact duplicates share every chunk, each occurring twice
    val dup = Seq((3L, words), (4L, words)).toDF("doc_id", "text")
    val out2 = TextOps.cdcDupChunks(dup, "doc_id", "text", 4, 8).collect()
    assert(out2.nonEmpty)
    assert(out2.forall(r => r.getAs[Long]("n_occ") == 2L &&
      r.getAs[Long]("example_doc") == 3L))
  }

  test("stitchCandidates: tail-k == head-k pairs found, short docs and " +
      "self-pairs excluded") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),      // tail-3 = "c d e"
      (2L, "c d e f g"),      // head-3 = "c d e"  -> (1, 2)
      (3L, "x y z w v"),      // unrelated
      (4L, "c d")             // shorter than k: excluded
    ).toDF("doc_id", "text")
    val out = TextOps.stitchCandidates(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq((1L, 2L, "c d e")))
  }

  test("vocabGrowth: cumulative docs/tokens/vocab per bucket, new words " +
      "counted at first appearance only") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // ids 0..3 with 4 buckets -> one doc per bucket; vocab grows
    // 2 -> 3 -> 3 -> 4 (only "c" then "d" are new)
    val docs = Seq((0L, "a b"), (1L, "a c"), (2L, "b c"), (3L, "d d d"))
      .toDF("doc_id", "text")
    val out = TextOps.vocabGrowth(docs, "doc_id", "text", 4)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, 1L, 2L, 2L), (1L, 2L, 4L, 3L), (2L, 3L, 6L, 3L),
      (3L, 4L, 9L, 4L)))
  }

  test("zipfSlope: pure power-law counts recover the exponent; count ties " +
      "rank tokens alphabetically (deterministic)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // freq(tok at rank r) = 24 / r  ->  ln f = ln 24 - 1 * ln r: slope -1
    val words = Seq("a" -> 24, "b" -> 12, "c" -> 8, "d" -> 6)
    val text = words.flatMap { case (w, n) => Seq.fill(n)(w) }.mkString(" ")
    val docs = Seq(("s1", text)).toDF("source", "text")
    val slope = TextOps.zipfSlope(docs, "source", "text", 4)
      .collect()(0).getAs[Double]("slope")
    // micro-unit log rounding keeps it within ~1e-6 of the exact -1
    assert(math.abs(slope - (-1.0)) < 1e-5, s"slope was $slope")

    // tie case: equal counts must rank alphabetically on both engines --
    // the slope over tied counts is exactly 0 and n_ranks is capped by k
    val tied = Seq(("s1", "x y z x y z")).toDF("source", "text")
    val r = TextOps.zipfSlope(tied, "source", "text", 2).collect()(0)
    assert(r.getAs[Long]("n_ranks") == 2L)
    assert(r.getAs[Double]("slope") == 0.0)
  }

  test("chunkTokens: window/stride coverage, short last chunk, short docs") {
    import spark.implicits._
    // 10 tokens, window 4, stride 3: nchunks = floor((10-4+3-1)/3)+1 = 3
    // → starts 0, 3, 6; the last chunk ends exactly at the document end
    val docs = Seq(
      (0L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
      (1L, "a b"), // shorter than the window → one whole-doc chunk
      (2L, "solo")).toDF("doc_id", "text")
    val out = TextOps.chunkTokens(docs, "doc_id", "text", window = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getInt(2), r.getString(3))).toMap
    assert(out((0L, 0)) == (4, "t0 t1 t2 t3"))
    assert(out((0L, 1)) == (4, "t3 t4 t5 t6"))
    assert(out((0L, 2)) == (4, "t6 t7 t8 t9")) // last chunk reaches the end
    assert(!out.contains((0L, 3)))
    assert(out((1L, 0)) == (2, "a b"))
    assert(out((2L, 0)) == (1, "solo"))
    // overlap reconstruction: dropping each chunk's first (window-stride)
    // tokens after chunk 0 re-yields the document exactly
    val doc0 = out.collect { case ((0L, i), (_, txt)) => (i, txt) }.toSeq
      .sortBy(_._1).map(_._2)
    val rebuilt = doc0.head +: doc0.tail.map(_.split(" ").drop(1).mkString(" "))
    assert(rebuilt.mkString(" ") == "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")
  }

  test("bigramLmScores: add-one bigram log-probs in exact micro-units") {
    import spark.implicits._
    // corpus: a b | a b | a c → V=3, C(a)=3, C(a b)=2, C(a c)=1
    val docs = Seq((0L, "a b"), (1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextOps.bigramLmScores(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def u(x: Double) = math.round(math.log(x) * 1e6)
    assert(out(0L) == ((1L, u(3) - u(6))))  // (2+1)/(3+3)
    assert(out(1L) == out(0L))
    assert(out(2L) == ((1L, u(2) - u(6))))  // (1+1)/(3+3): rarer → lower
    assert(out(2L)._2 < out(0L)._2)
  }

  test("repetitionSignals: degenerate repetition spikes the ratios") {
    import spark.implicits._
    val docs = Seq(
      (0L, "spam spam spam spam spam"),        // 4 bigrams, all the same
      (1L, "all words here are fully unique"), // 5 distinct bigrams
      (2L, "one")).toDF("doc_id", "text")      // < 2 tokens → absent
    val out = TextOps.repetitionSignals(docs, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(0L) == ((4L, 4L, 0.75)))  // 1 - 1/4
    assert(out(1L) == ((5L, 1L, 0.0)))
    assert(!out.contains(2L))
  }

  test("gopherFilter: each rule fails independently and is named") {
    import spark.implicits._
    // 60 tokens alternating fresh content words with the 4 stopword kinds:
    // every bigram is unique, mean length ~4, all rules hold
    val stops = Seq("the", "of", "and", "a")
    val long = (1 to 30).flatMap(i => Seq(s"word$i", stops(i % 4))).mkString(" ")
    val docs = Seq(
      (0L, long),                                   // passes everything
      (1L, "the of and just a few words here"),     // too short → word_count
      (2L, ("the of and a " + Seq.fill(30)("spam spam spam").mkString(" "))), // repetition
      (3L, (1 to 60).map(i => s"tok$i").mkString(" "))) // no stopwords
      .toDF("doc_id", "text")
    val out = TextOps.gopherFilter(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), r.getSeq[String](3).toList)).toMap
    assert(out(0L) == ((true, Nil)))
    assert(out(1L)._2.contains("word_count") && !out(1L)._1)
    assert(out(2L)._2.contains("repetition"))
    assert(out(3L)._2 == List("stopwords"))
  }

  test("gopherFilter boundaries: every rule flips EXACTLY at its default " +
      "threshold, so a threshold edit cannot silently shift verdicts") {
    import spark.implicits._
    // Each fixture pins ONE rule at its boundary while satisfying every
    // other rule with margin; the paired fixture sits one minimal step
    // past the boundary and must fail ONLY that rule.
    def doc(toks: Seq[String]) = toks.mkString(" ")
    val f4 = (1 to 48).map(i => f"w$i%02da")              // unique, 4 chars
    val t3 = (1 to 48).map(i => f"t$i%02d")               // unique, 3 chars
    val u10 = (1 to 46).map(i => "u" + f"$i%02d" + "a" * 7)  // unique, 10 chars
    val docs = Seq(
      // word_count: exactly minTokens=50 passes; 49 fails only word_count
      (0L, doc("the" +: "and" +: f4.take(48))),
      (1L, doc("the" +: "and" +: f4.take(47))),
      // mean_word_len lower bound: 50 three-char tokens → (199-49)/50 =
      // exactly 3.0 passes; swapping one for a 2-char token → 2.98 fails
      (2L, doc("the" +: "and" +: t3.take(48))),
      (3L, doc("the" +: "and" +: (t3.take(47) :+ "zz"))),
      // mean_word_len upper bound: 46×10 + 2×17 + the + and = 500 chars
      // over 50 tokens → exactly 10.0 passes; +1 char → 10.02 fails
      (4L, doc("the" +: "and" +: (u10 ++ Seq("v01" + "a" * 14, "v02" + "a" * 14)))),
      (5L, doc("the" +: "and" +: (u10.tail ++
        Seq("x01" + "a" * 8, "v01" + "a" * 14, "v02" + "a" * 14)))),
      // stopwords: exactly minStopKinds=2 DISTINCT kinds passes (fixture
      // 0); the same shape with one kind repeated fails only stopwords
      (6L, doc("the" +: "the" +: f4.take(48))),
      // repetition: top bigram 3 of 50 → 3·50 ≤ 50·3 passes (equality);
      // 4 of 50 → fails only repetition. Phrase "pp qq" planted with
      // unique 4-char separators, stopword pair kept adjacent once.
      (7L, doc(Seq("pp", "qq", f4(0), "pp", "qq", f4(1), "pp", "qq", f4(2),
        "the", "and") ++ f4.slice(3, 43))),
      (8L, doc(Seq("pp", "qq", f4(0), "pp", "qq", f4(1), "pp", "qq", f4(2),
        "pp", "qq", "the", "and") ++ f4.slice(3, 41)))
    ).toDF("doc_id", "text")
    val out = TextOps.gopherFilter(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(2), r.getSeq[String](3).toList))).toMap
    assert(out(0L) == ((true, Nil)))
    assert(out(1L) == ((false, List("word_count"))))
    assert(out(2L) == ((true, Nil)))
    assert(out(3L) == ((false, List("mean_word_len"))))
    assert(out(4L) == ((true, Nil)))
    assert(out(5L) == ((false, List("mean_word_len"))))
    assert(out(6L) == ((false, List("stopwords"))))
    assert(out(7L) == ((true, Nil)))
    assert(out(8L) == ((false, List("repetition"))))
  }

  test("trainCharNgramProfiles: every language keeps exactly topK grams, " +
      "ranked 1..topK by count desc, gram asc") {
    import spark.implicits._
    val docs = Seq(
      (0L, "de", "aber die und aber die und aber"),
      (1L, "de", "die und aber die und"),
      (2L, "en", "the and with the and with the"),
      (3L, "en", "and with the and with")).toDF("doc_id", "lang", "text")
    val prof = TextOps.trainCharNgramProfiles(docs, "lang", "text", 3, 5)
    val rows = prof.collect()
    // deterministic rank: every lang has exactly topK rows, ranks 1..5
    assert(rows.map(_.getString(0)).toSet == Set("de", "en"))
    assert(rows.groupBy(_.getString(0)).forall { case (_, g) =>
      g.map(_.getAs[Int]("rk")).sorted.toSeq == (1 to 5)
    })
    // within a language, rank order is (cnt desc, gram asc)
    assert(rows.groupBy(_.getString(0)).forall { case (_, g) =>
      val byRank = g.sortBy(_.getAs[Int]("rk"))
        .map(r => (-r.getAs[Long]("cnt"), r.getAs[String]("gram"))).toSeq
      byRank == byRank.sorted
    })
  }

  test("unigramKl: hand-computed micro-exact divergence from the corpus " +
      "unigram distribution") {
    import spark.implicits._
    // corpus: N=7, C_a=3, C_b=3, C_c=1. doc0 (a a b): n=3, c_a=2, c_b=1.
    // lnμ: ln2→693147, ln3→1098612, ln7→1945910.
    // s1 = 2(693147−1098612) + (0−1098612) = −1909542
    // kl_sum = s1 + 3(1945910−1098612) = 632352; true KL ≈ 0.210784 ✓
    val docs = Seq((0L, "a a b"), (1L, "a b b c")).toDF("doc_id", "text")
    val out = TextOps.unigramKl(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("kl_sum_micro"),
          r.getAs[Double]("kl_micro")))).toMap
    assert(out(0L) == ((3L, 632352L, 632352.0 / 3.0)))
  }

  test("hashedBow: sparse (doc, bucket, cnt) triplets with exact counts") {
    import spark.implicits._
    val docs = Seq((0L, "x y X"), (1L, "")).toDF("doc_id", "text")
    // tokens lowercase → x appears twice; empty doc contributes one
    // empty-string token (split of "" is [""]) — a real bucket
    val out = TextOps.hashedBow(docs, "doc_id", "text", 1024)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("bucket"), r.getAs[Long]("cnt")))
    val doc0 = out.filter(_._1 == 0L)
    assert(doc0.map(_._3).sorted.toSeq == Seq(1L, 2L))   // y once, x twice
    assert(doc0.forall(t => t._2 >= 0 && t._2 < 1024))
    assert(out.count(_._1 == 1L) == 1)
  }

  test("bigramLm: MLE conditionals over exact counts, pruned rows keep " +
      "their mass in c1") {
    import spark.implicits._
    val docs = Seq((0L, "a b a b a c"), (1L, "a b x")).toDF("doc_id", "text")
    // bigram counts: (a b)=3, (b a)=2, (a c)=1, (b x)=1
    // c1 totals: a→4, b→3 (pruned hapax rows still count toward c1)
    val out = TextOps.bigramLm(docs, "text", 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("c12"), r.getAs[Long]("c1"), r.getAs[Long]("p_micro")))).toMap
    assert(out.keySet == Set(("a", "b"), ("b", "a")))
    assert(out(("a", "b")) == ((3L, 4L, 750000L)))   // 3/4 exactly
    assert(out(("b", "a")) == ((2L, 3L, 666667L)))   // 2/3 round-half-up
  }

  test("repeatedSpanCoverage: planted cross-doc trigram covers its span, " +
      "unique docs keep ratio 1") {
    import spark.implicits._
    // "common gram here" appears in docs 0,1,2 (df=3 > maxDocFreq=2);
    // it covers positions 0-2 in each. Doc 3 is wholly unique.
    val docs = Seq(
      (0L, "common gram here tail0 a b c"),
      (1L, "common gram here tail1 d e f"),
      (2L, "common gram here tail2 g h i"),
      (3L, "nothing shared at all in this one")).toDF("doc_id", "text")
    val out = TextOps.repeatedSpanCoverage(docs, "doc_id", "text", 3, 2)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(0L) == ((7, 3L, 1.0 - 3.0 / 7)))
    assert(out(1L)._2 == 3L && out(2L)._2 == 3L)
    assert(out(3L) == ((7, 0L, 1.0)))
  }

  test("ngramNovelty: shared grams zero out novelty, unique prose scores 1") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta"),      // shares both grams with doc 1
      (1L, "alpha beta gamma delta"),      // exact dup of 0 → novelty 0
      (2L, "wholly original text here"),   // no gram shared → novelty 1
      (3L, "alpha beta gamma nine ten"),   // 1 of 3 grams shared with 0/1
      (4L, "too short")).toDF("doc_id", "text") // < 3 tokens → absent
    val out = TextOps.ngramNovelty(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(0L) == ((2L, 0L, 0.0)))
    assert(out(1L) == ((2L, 0L, 0.0)))
    assert(out(2L) == ((2L, 2L, 1.0)))
    assert(out(3L)._1 == 3L && out(3L)._2 == 2L) // "beta gamma nine","gamma nine ten"
    assert(!out.contains(4L))
  }

  test("dedupSegments: cross-document segments drop, unique ones survive " +
      "in order; all-boilerplate docs get null kept_text") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d e f"),   // "a b c" shared with 1 and 2; "d e f" unique
      (1L, "a b c x y z"),   // "a b c" shared; "x y z" unique
      (2L, "a b c"),         // pure boilerplate → kept_text null
      (3L, "p q r s"))       // "p q r" + short tail "s", both unique
      .toDF("doc_id", "text")
    val out = TextOps.dedupSegments(docs, "doc_id", "text", segTokens = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)))).toMap
    assert(out(0L) == ((2L, 1L, Some("d e f"))))
    assert(out(1L) == ((2L, 1L, Some("x y z"))))
    assert(out(2L) == ((1L, 0L, None)))
    assert(out(3L) == ((2L, 2L, Some("p q r s"))))
  }

  test("charEntropy: uniform chars maximize, single-char spam zeroes, " +
      "exact micro-nat identity") {
    import spark.implicits._
    val docs = Seq(
      (0L, "abcd"),      // 4 distinct chars → H = ln 4, sum = 4·L(4) − 4·0
      (1L, "aaaa"),      // one char → H = 0
      (2L, "aa bb"))     // whitespace ignored: k(a)=2, k(b)=2, n=4
      .toDF("doc_id", "text")
    def L(x: Long) = math.round(math.log(x.toDouble) * 1e6)
    val out = TextOps.charEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) == ((4L, 4 * L(4))))           // 4·ln4 micro-nats
    assert(out(1L) == ((4L, 4 * L(4) - 4 * L(4)))) // = 0
    assert(out(2L) == ((4L, 4 * L(4) - 2 * L(2) - 2 * L(2))))
  }

  test("lexicalStats: token/type/hapax counts and exact TTR") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the cat the dog"),        // 4 tokens, 3 types, 2 hapax
      (1L, "one one one"),            // 3 tokens, 1 type, 0 hapax
      (2L, "all unique words here"))  // 4 tokens, 4 types, 4 hapax
      .toDF("doc_id", "text")
    val out = TextOps.lexicalStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(0L) == ((4L, 3L, 2L, 0.75)))
    assert(out(1L) == ((3L, 1L, 0L, 1.0 / 3.0)))
    assert(out(2L) == ((4L, 4L, 4L, 1.0)))
  }

  test("bigramLmScoresOn: train-only counts; unseen bigrams and unseen " +
      "contexts smooth to the add-one floor") {
    import spark.implicits._
    val train = Seq((10L, "a b"), (11L, "a b"), (12L, "b c"))
      .toDF("doc_id", "text")
    val score = Seq((0L, "a b"), (1L, "c d x")).toDF("doc_id", "text")
    def L(x: Long) = math.round(math.log(x.toDouble) * 1e6)
    try {
      val out = TextOps.bigramLmScoresOn(train, score, "doc_id", "text")
        .collect().map(r => r.getAs[Long]("id") ->
          ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_lp_micro")))).toMap
      // V = |{a,b,c}| = 3; doc 0: "a b" seen twice, context 'a' count 2
      assert(out(0L) == ((1L, L(2 + 1) - L(2 + 3))))
      // doc 1: "c d" unseen bigram, seen context c1('c')=1 → L(1)−L(4);
      //        "d x" unseen bigram AND context → L(1)−L(3)
      assert(out(1L) == ((2L, (0 - L(4)) + (0 - L(3)))))
    } finally graft.CacheScope.releaseAll()
  }

  test("naiveBayesClassify separates disjoint-vocabulary classes and " +
      "marks every prediction with a positive margin") {
    import spark.implicits._
    // two classes with DISJOINT vocabularies: the likelihood term alone
    // decides, and every doc must classify to its own class — held-out
    // word mixes ('code code', 'wine bread') score correctly too
    val docs = Seq(
      (0L, "tech", "code compile deploy code"),
      (1L, "tech", "compile code server deploy"),
      (2L, "tech", "server code compile"),
      (3L, "food", "wine bread cheese wine"),
      (4L, "food", "bread wine cheese"),
      (5L, "food", "cheese bread wine bread wine"))
      .toDF("doc_id", "label", "text")
    try {
      val out = TextOps.naiveBayesClassify(docs, "doc_id", "text", "label", 64)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("pred"), r.getAs[Long]("margin_micro")))).toMap
      assert(out.size == 6)
      (0L to 2L).foreach(i => assert(out(i)._1 == "tech", s"doc $i"))
      (3L to 5L).foreach(i => assert(out(i)._1 == "food", s"doc $i"))
      // disjoint vocabularies → the winner leads by a real margin
      out.values.foreach { case (_, m) => assert(m > 0L) }
    } finally graft.CacheScope.releaseAll()
  }

  test("naiveBayesClassify: single-label corpus predicts that label with " +
      "margin 0") {
    import spark.implicits._
    val docs = Seq((0L, "only", "a b"), (1L, "only", "b c"))
      .toDF("doc_id", "label", "text")
    try {
      val out = TextOps.naiveBayesClassify(docs, "doc_id", "text", "label", 16)
        .collect().map(r => (r.getAs[String]("pred"), r.getAs[Long]("margin_micro")))
      assert(out.length == 2)
      out.foreach { case (p, m) => assert(p == "only" && m == 0L) }
    } finally graft.CacheScope.releaseAll()
  }

  test("sparseCosinePairs: identical docs score 1.0, disjoint docs never pair, " +
      "dfCap prunes ubiquitous terms") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha beta gamma"),   // exact dup of 0 → cos exactly 1.0
      (2L, "delta epsilon zeta"), // disjoint from 0/1 → no pair
      (3L, "common x1"), (4L, "common x2"), (5L, "common x3")
    ).toDF("doc_id", "text")
    try {
      val out = TextOps.sparseCosinePairs(docs, "doc_id", "text",
          dfCap = 2, minCos = 0.1)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Double]("cos")))
      // docs 3/4/5 share ONLY "common" (df=3 > dfCap=2) → pruned, never pair;
      // the only surviving pair is the exact dup (0,1) at cosine exactly 1.
      assert(out.toSeq == Seq((0L, 1L, 1.0)))
    } finally graft.CacheScope.releaseAll()
  }

  test("ngramDiversity: hand-computed distinct/total ratios per n") {
    import spark.implicits._
    val docs = Seq(
      ("en", "a b a b"),  // 1grams: a,b,a,b; 2grams: "a b","b a","a b"; 3grams: "a b a","b a b"
      ("en", "a b c")     // 1grams: a,b,c;   2grams: "a b","b c";       3grams: "a b c"
    ).toDF("lang", "text")
    val out = TextOps.ngramDiversity(docs, "lang", "text", 3)
      .collect().map(r => r.getAs[Int]("n") ->
        ((r.getAs[Long]("n_total"), r.getAs[Long]("n_distinct"),
          r.getAs[Double]("diversity")))).toMap
    assert(out(1) == ((7L, 3L, 3.0 / 7)))   // a,b,c distinct of 7 tokens
    assert(out(2) == ((5L, 3L, 3.0 / 5)))   // "a b","b a","b c" of 5
    assert(out(3) == ((3L, 3L, 1.0)))       // all three trigrams distinct
  }

  test("ngramDiversity: a doc shorter than n contributes nothing at that n") {
    import spark.implicits._
    val docs = Seq(("en", "solo"), ("en", "x y")).toDF("lang", "text")
    val out = TextOps.ngramDiversity(docs, "lang", "text", 3)
      .collect().map(r => r.getAs[Int]("n") -> r.getAs[Long]("n_total")).toMap
    assert(out(1) == 3L && out(2) == 1L && !out.contains(3))
  }

  test("substringDedup removes a cross-doc span straddling a chunk " +
      "boundary, keeps unique text, and leaves single shared tokens alone") {
    import spark.implicits._
    // the 6-token span "dup1 dup2 dup3 dup4 dup5 dup6" appears in A at
    // positions 6..11 (straddling a fixed 8-token chunk boundary — the
    // case q146's CDC chunking misses) and in B at positions 0..5; all
    // context tokens are unique per doc so only the span's 3-grams repeat
    val span = "dup1 dup2 dup3 dup4 dup5 dup6"
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 a5 a6 $span a7 a8"),
      (2L, s"$span b1 b2 b3"),
      // C shares the single token "dup1" but no 3-gram -> untouched
      (3L, "c1 dup1 c2 c3"),
      (4L, "")).toDF("doc_id", "text")
    val out = TextOps.substringDedup(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getString(2), r.getLong(3)))).toMap
    assert(out(1L) == ((14, "a1 a2 a3 a4 a5 a6 a7 a8", 6L)), s"A: ${out(1L)}")
    assert(out(2L) == ((9, "b1 b2 b3", 6L)), s"B: ${out(2L)}")
    assert(out(3L) == ((4, "c1 dup1 c2 c3", 0L)), s"C: ${out(3L)}")
    // empty doc: split('') is [''] — 1 token, nothing removed, '' back
    assert(out(4L) == ((1, "", 0L)), s"empty doc: ${out(4L)}")
  }

  test("substringDedup: a fully-duplicated document returns empty " +
      "cleaned_text with every token removed, not a missing row") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x1 x2 x3 x4"),
      (2L, "x1 x2 x3 x4"),
      (3L, "solo u1 u2 u3")).toDF("doc_id", "text")
    val out = TextOps.substringDedup(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getString(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((4, "", 4L)) && out(2L) == ((4, "", 4L)))
    assert(out(3L) == ((4, "solo u1 u2 u3", 0L)))
  }

  test("bm25Search: hand-replayed scores, tf saturation by doc length, " +
      "top-k order, and partition determinism") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a"),       // tf(a)=2, tf(b)=1, dl=3
      (2L, "a c"),         // tf(a)=1, dl=2
      (3L, "c c c b"),     // tf(b)=1, dl=4
      (4L, "z z z z z"))   // no query terms → absent from results
      .toDF("doc_id", "text")
    val out = TextOps.bm25Search(docs, "doc_id", "text", Seq("a", "b"), 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
    // local replay of the operator's exact arithmetic
    val N = 4.0; val S = 14.0
    def idfMicro(df: Double) =
      math.round(math.log((N - df + 0.5) / (df + 0.5) + 1.0) * 1e6)
    def c(df: Double, tf: Double, dl: Double) =
      math.round(idfMicro(df).toDouble * (22.0 * tf * S) /
        (10.0 * S * tf + 3.0 * S + 9.0 * N * dl))
    val exp = Map(
      1L -> (c(2, 2, 3) + c(2, 1, 3), 2L),  // both terms hit doc 1
      2L -> (c(2, 1, 2), 1L),
      3L -> (c(2, 1, 4), 1L))
    assert(out.toMap == exp)
    // ranked by score desc: doc 1 (two terms) first
    assert(out.head._1 == 1L)
    // same-tf higher-dl doc scores LOWER (length normalization works)
    assert(exp(2L)._1 > exp(3L)._1)
    val out2 = TextOps.bm25Search(docs.repartition(7), "doc_id", "text",
        Seq("a", "b"), 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
    assert(out2.toSeq == out.toSeq)
  }

  test("dsirWeights: target-vocabulary docs weigh positive, off-target " +
      "negative, and the weight replays the closed form exactly") {
    import spark.implicits._
    // target (tgt=true) speaks alpha; raw background speaks beta; counts
    // large enough that the add-one/B smoothing does not swamp the signal
    def rep(w: String, n: Int) = Seq.fill(n)(w).mkString(" ")
    val docs = Seq(
      (1L, rep("alpha", 30), true),
      (2L, rep("alpha", 20) + " beta", true),
      (3L, rep("beta", 30), false),
      (4L, rep("beta", 20) + " alpha", false),
      (5L, "alpha beta", false)
    ).toDF("doc_id", "text", "is_t")
    val out = TextOps.dsirWeights(docs, "doc_id", "text", $"is_t", 64)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(out(1L)._1 == 30L) // n_tokens
    // closed form: ct(alpha)=50, ct(beta)=1, nt=51; cr(alpha)=52,
    // cr(beta)=52, nr=104; B=64 buckets; alpha/beta hash to DISTINCT
    // buckets (md5 prefixes mod 64 = 59 vs 43)
    def ln6(x: Long): Long = math.round(math.log(x.toDouble) * 1e6)
    val wAlpha = ln6(50 + 1) - ln6(51 + 64) - ln6(52 + 1) + ln6(104 + 64)
    val wBeta = ln6(1 + 1) - ln6(51 + 64) - ln6(52 + 1) + ln6(104 + 64)
    assert(out(1L)._2 == 30 * wAlpha)
    assert(out(3L)._2 == 30 * wBeta)
    assert(out(2L)._2 == 20 * wAlpha + wBeta)
    // alpha is the target signature: positive weight; beta negative
    assert(wAlpha > 0 && wBeta < 0)
    assert(out(1L)._3 && !out(3L)._3)
  }

  test("jsDivergencePairwise: zero on identical, ln 2 on disjoint, " +
      "symmetric bounded values") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "alpha beta gamma"), ("s2", "alpha beta gamma"),
      ("s3", "delta epsilon zeta")).toDF("src", "text")
    val out = TextOps.jsDivergencePairwise(docs, "src", "text").collect()
      .map(r => ((r.getAs[String]("group_a"), r.getAs[String]("group_b")),
        (r.getAs[Long]("js_sum_a_micro"), r.getAs[Long]("js_sum_b_micro"),
          r.getAs[Double]("js_nats")))).toMap
    // identical distributions: every log term is exactly 0
    assert(out(("s1", "s2")) == ((0L, 0L, 0.0)))
    // disjoint vocabularies: JS = ln 2 (micro-rounded)
    assert(math.abs(out(("s1", "s3"))._3 - math.log(2.0)) < 1e-5)
    assert(math.abs(out(("s2", "s3"))._3 - math.log(2.0)) < 1e-5)
    // symmetric sums: equal-size sides of the disjoint pair agree
    assert(out(("s1", "s3"))._1 == out(("s1", "s3"))._2)
  }

  test("textRankKeywords: hand-unrolled path-graph ranks, minCo filter, " +
      "self-bigram exclusion, deterministic topK cut") {
    import spark.implicits._
    // Surviving graph (minCo = 2): the path aa—bb—cc from the repeated
    // doc. "dd ee" appears once (below minCo); "ff ff" is a self-bigram
    // (filtered); neither word set enters the graph.
    val docs = Seq("aa bb cc", "aa bb cc", "dd ee", "ff ff ff", "ff ff ff")
      .toDF("text")
    val out = TextOps.textRankKeywords(docs, "text",
        minCo = 2, iters = 1, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // One pageRank iteration on the 3-node path, exact integer replay:
    // init = 1e12/3, base = (15*init)/100; center receives both leaves'
    // full rank, each leaf receives half the center's.
    val init = 1000000000000L / 3 // 333333333333
    val base = (15L * init) / 100L // 49999999999
    val center = base + (85L * (init * 2)) / 100L // 616666666665
    val leaf = base + (85L * (init / 2)) / 100L // 191666666665
    assert(out == Seq(("bb", center), ("aa", leaf), ("cc", leaf)))
    // topK cuts after the (rank DESC, word ASC) order — deterministic
    val top2 = TextOps.textRankKeywords(docs, "text",
        minCo = 2, iters = 1, topK = 2)
      .collect().map(_.getString(0)).toSeq
    assert(top2 == Seq("bb", "aa"))
  }

  test("countMinSketch: estimates replay the h60 sketch exactly and " +
      "never underestimate") {
    import spark.implicits._
    val docs = Seq("aa bb aa cc", "bb aa dd", "cc cc aa ee ff")
      .toDF("text")
    val depth = 2; val width = 4
    val out = TextOps.countMinSketch(docs, "text", depth, width, topK = 6)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    // independent replay: vocabulary counts, then the d x w cells
    val toks = Seq("aa", "bb", "aa", "cc", "bb", "aa", "dd",
      "cc", "cc", "aa", "ee", "ff")
    val vocab = toks.groupBy(identity).map { case (t, l) =>
      t -> l.size.toLong }
    def bucket(r: Int, tok: String): Long =
      graft.functions.Hashing.h60Local(s"$r:$tok") % width
    val cells = (for { (t, c) <- vocab.toSeq; r <- 0 until depth }
      yield ((r, bucket(r, t)), c))
      .groupBy(_._1).map { case (k, l) => k -> l.map(_._2).sum }
    def est(tok: String): Long =
      (0 until depth).map(r => cells((r, bucket(r, tok)))).min
    val expected = vocab.toSeq.sortBy { case (t, c) => (-c, t) }
      .map { case (t, c) => (t, c, est(t), est(t) >= c) }
    assert(out.toSeq == expected)
    assert(out.forall(_._4), "CMS one-sided guarantee violated")
  }

  test("cmsMergeCheck: half sketches merge EXACTLY into the whole") {
    import spark.implicits._
    val docs = Seq((1L, "aa bb aa"), (2L, "bb cc"), (3L, "aa dd ee"),
      (4L, "cc cc ff")).toDF("doc_id", "text")
    val r = TextOps.cmsMergeCheck(docs, "doc_id", "text",
      depth = 3, width = 8).collect().head
    assert(r.getAs[Boolean]("merge_exact"))
    assert(r.getAs[Long]("n_mismatch") == 0L)
    // total mass = depth x total token count (each token feeds d rows)
    assert(r.getAs[Long]("total_mass") == 3L * 11L)
    assert(r.getAs[Long]("n_cells") >= 1L)
  }

  test("featureHash: buckets, signs, and collision counts replay h60") {
    import spark.implicits._
    val docs = Seq("aa bb cc", "aa aa dd").toDF("text")
    val out = TextOps.featureHash(docs, "text", buckets = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    val vocab = Map("aa" -> 3L, "bb" -> 1L, "cc" -> 1L, "dd" -> 1L)
    def b(t: String) = graft.functions.Hashing.h60Local(s"101:$t") % 4
    def sg(t: String) = (graft.functions.Hashing.h60Local(s"102:$t") % 2) * 2 - 1
    val expected = vocab.toSeq.groupBy { case (t, _) => b(t) }
      .map { case (bk, l) => bk -> ((l.size.toLong,
        l.map(_._2).sum, l.map { case (t, c) => sg(t) * c }.sum)) }
    assert(out == expected)
  }

  test("rakeKeywords: hand degree/frequency scores, stopword-delimited " +
      "phrases, repeat phrases collapse") {
    import spark.implicits._
    // tokens: good apple | of | good apple pie  (of = stopword)
    // good: freq 2, degree 2+3=5 → 2_500_000; apple: same; pie: 3/1
    val df = Seq((1L, "good apple of good apple pie")).toDF("doc_id", "text")
    val out = TextOps.rakeKeywords(df, "doc_id", "text", 10).collect()
    assert(out.length == 2)
    assert(out(0).getString(0) == "good apple pie" &&
      out(0).getAs[Long]("score_micro") == 8000000L &&
      out(0).getAs[Long]("n_occurrences") == 1L)
    assert(out(1).getString(0) == "good apple" &&
      out(1).getAs[Long]("score_micro") == 5000000L)
    // the same phrase across docs counts occurrences, keeps one score
    val two = Seq((1L, "fast cars"), (2L, "fast cars"))
      .toDF("doc_id", "text")
    val o2 = TextOps.rakeKeywords(two, "doc_id", "text", 10).collect()
    assert(o2.length == 1 && o2(0).getString(0) == "fast cars" &&
      o2(0).getAs[Long]("n_occurrences") == 2L &&
      o2(0).getAs[Long]("score_micro") == 4000000L)
  }

  test("goodTuring: hand count-of-counts table; r* and unseen mass " +
      "replay the integer divisions") {
    import spark.implicits._
    // tokens: a a a b b c d e -> N1=3 (c,d,e... wait b b -> N2 has b)
    // counts: a:3, b:2, c:1, d:1, e:1 -> N1=3, N2=1, N3=1; N=8
    val docs = Seq((1L, "a a a b"), (2L, "b c d e")).toDF("doc_id", "text")
    val out = graft.operators.TextOps.goodTuring(docs, "doc_id", "text", 3)
      .collect().map(r => r.getAs[Long]("r") ->
        ((r.getAs[Long]("n_r"), r.getAs[Long]("n_r_next"),
          Option(r.getAs[java.lang.Long]("r_star_micro")),
          Option(r.getAs[java.lang.Long]("mass_share_micro"))))).toMap
    // r=1: N1=3, N2=1, r* = 2*1*1e6/3 = 666666; mass = 3*1e6/8 = 375000
    assert(out(1L) == ((3L, 1L, Some(666666L), Some(375000L))))
    // r=2: N2=1, N3=1, r* = 3*1*1e6/1 = 3000000; mass = 2*1e6/8
    assert(out(2L) == ((1L, 1L, Some(3000000L), Some(250000L))))
    // r=3: N3=1, N4=0 -> r* null (the smoothing handoff)
    assert(out(3L) == ((1L, 0L, None, Some(375000L))))
  }

  test("tokenDispersion: a token present everywhere in proportion " +
      "scores ~0; a single-source token scores the complement share") {
    import spark.implicits._
    val docs = Seq(
      ("p1", "the the only1"), ("p2", "the the"), ("p3", "the the"))
      .toDF("source", "text")
    val out = graft.operators.TextOps.tokenDispersion(docs, "source",
        "text", 10)
      .collect().map(r => r.getAs[String]("token") ->
        ((r.getAs[Long]("n_total"), r.getAs[Long]("dp_micro")))).toMap
    // "the": v = (2/6, 2/6, 2/6), s = (3/7, 2/7, 2/7) -> small DP > 0
    // "only1": v = (1, 0, 0), s = (3/7, 2/7, 2/7)
    //   DP = 0.5*(|1e6 - 428571| + 285714 + 285714) = 571428 (micro)
    assert(out("only1")._1 == 1L)
    assert(out("only1")._2 == 571428L)
    assert(out("the")._1 == 6L)
    assert(out("the")._2 < 100000L)
  }

  test("sentenceStats: terminator runs split, trailing run stripped, " +
      "token counts per sentence, punctuation-free text is one sentence") {
    import spark.implicits._
    val docs = Seq(
      (1L, "First sentence here. Second one!  Third, a bit longer one?"),
      (2L, "no terminators at all just words"),
      (3L, "Trailing only."),
      (4L, "Multi!!! Bang?! Done..."),
      (5L, "")).toDF("doc_id", "text")
    val out = TextOps.sentenceStats(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // doc 1: 3 sentences of 3 / 2 / 5 whitespace tokens
    assert(out(1L) == ((3L, 10L, 5L)))
    // doc 2: one unterminated sentence of 6 tokens
    assert(out(2L) == ((1L, 6L, 6L)))
    // doc 3: the trailing run is stripped, one 2-token sentence
    assert(out(3L) == ((1L, 2L, 2L)))
    // doc 4: runs of !!!/?! split like single terminators
    assert(out(4L) == ((3L, 3L, 1L)))
    // doc 5: empty text → zero everywhere
    assert(out(5L) == ((0L, 0L, 0L)))
  }

  test("rougeOverlap: clipped multiset n-gram overlap, hand-computed P/R/F") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"), (2L, "the cat lay on the mat"),
      (3L, "a a a"), (4L, "a b")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val r1 = TextOps.rougeOverlap(docs, "doc_id", "text", pairs, 1)
      .collect().map(r => (r.getAs[Long]("id_a"),
        (r.getAs[Long]("overlap"), r.getAs[Double]("p"),
          r.getAs[Double]("r"), r.getAs[Double]("f")))).toMap
    // unigrams: {the:2, cat, on, mat} shared → 5 of 6/6
    assert(r1(1L)._1 == 5L)
    assert(math.abs(r1(1L)._2 - 5.0 / 6) < 1e-12 &&
      math.abs(r1(1L)._4 - 5.0 / 6) < 1e-12)
    // clipping: "a a a" vs "a b" → min(3,1) = 1, p = 1/3, r = 1/2, f = 0.4
    assert(r1(3L) == ((1L, 1.0 / 3, 0.5, 0.4)))
    val r2 = TextOps.rougeOverlap(docs, "doc_id", "text", pairs, 2)
      .collect().map(r => r.getAs[Long]("id_a") ->
        ((r.getAs[Long]("overlap"), r.getAs[Double]("f")))).toMap
    // bigrams: "the cat", "on the", "the mat" shared → 3 of 5/5
    assert(r2(1L)._1 == 3L && math.abs(r2(1L)._2 - 0.6) < 1e-12)
    // "a a" vs "a b": no shared bigram
    assert(r2(3L) == ((0L, 0.0)))
  }
}
