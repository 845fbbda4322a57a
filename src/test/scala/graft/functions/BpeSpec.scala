package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BpeSpec extends SparkSpec {

  test("merge application: rank order, left-to-right, non-overlapping") {
    // merges: (a,b)->AB rank0, then (ab,c)->ABC rank1 (side refers to an
    // earlier merge's token string), then (d,d)->DD rank2
    val t = BpeTokenizer(Seq(("a", "b"), ("ab", "c"), ("d", "d")))
    assert(t.encode("abcab") == Seq("abc", "ab"))
    assert(t.encode("aab") == Seq("a", "ab"))          // LTR: second a starts the match
    assert(t.encode("dddd") == Seq("dd", "dd"))
    assert(t.encode("ddd") == Seq("dd", "d"))          // non-overlapping within a pass
    assert(t.encode("xbay") == Seq("x", "b", "a", "y")) // no pair present
    assert(t.encode("") == Seq.empty)
  }

  test("unknown characters pass through as base tokens") {
    val t = BpeTokenizer(Seq(("a", "b")))
    assert(t.encode("zab!") == Seq("z", "ab", "!"))
  }

  test("trainer learns the most frequent pair first, deterministically") {
    val merges = BpeTrainer.learn(Seq("aaab", "aab", "ab", "cd"), 2)
    // "ab" occurs 3x (beats "aa": 2x after overlap discount), learned first
    assert(merges.head == ("a", "b"))
    val again = BpeTrainer.learn(Seq("aaab", "aab", "ab", "cd"), 2)
    assert(merges == again)
  }

  test("trainer rejects corpora colliding with the symbol space") {
    intercept[IllegalArgumentException] {
      BpeTrainer.learn(Seq("ok", "bad"), 4)
    }
  }

  test("distributed trainer == driver trainer: same merges on a corpus " +
      "with ties, runs, and early exhaustion") {
    import spark.implicits._
    // ties ("xy" vs "yx" same count -> lexicographic), runs ("aaaa"
    // exercises the overlap discount), multi-round merge-of-merge
    val corpus = Seq("aaab aaab", "aab ab ab", "xy yx xy yx",
      "aaaa aaaa", "cd cd cd", "unique")
    val driver = BpeTrainer.learn(corpus, 12)
    val dist = BpeTrainer.learnDistributed(
      corpus.toDF("text").repartition(3), "text", 12)
    assert(dist == driver)
    // exhaustion: a corpus with no repeating pair stops early on both
    val tiny = Seq("ab", "cd", "ef")
    assert(BpeTrainer.learnDistributed(tiny.toDF("text"), "text", 8) ==
      BpeTrainer.learn(tiny, 8))
  }

  test("distributed trainer reproduces the driver vocab on real docs") {
    val docs = graft.GraftSession.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("text")).limit(120)
    val corpus = docs.collect().map(_.getString(0)).toSeq
    val n = 16 // enough rounds to hit merge-of-merge on the real corpus
    assert(BpeTrainer.learnDistributed(docs, "text", n) ==
      BpeTrainer.learn(corpus, n))
  }

  test("column encode == driver encode on the real corpus (shipped vocab)") {
    val t = graft.operators.TextOps.bpe
    assert(t.passes.nonEmpty)
    val docs = graft.GraftSession.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).limit(50)
    val viaColumn = docs
      .select(col("doc_id"), t.tokenCountExpr(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = docs.collect()
      .map(r => r.getLong(0) -> t.encode(r.getString(1)).size.toLong).toMap
    assert(viaColumn == viaDriver)
    // sub-word property: fewer tokens than characters, more than ws words
    val sample = docs.collect().head.getString(1)
    assert(t.encode(sample).size < sample.length)
    assert(t.encode(sample).mkString == sample) // lossless round-trip
  }

  test("round-trip: concatenated decoded tokens reproduce the input") {
    val t = BpeTokenizer(Seq(("a", "b"), ("ab", "c"), ("x", "y")))
    for (s <- Seq("abcabcxyxab", "aaa", "cbacba", "xyzzy"))
      assert(t.encode(s).mkString == s)
  }
}
