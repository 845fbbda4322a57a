package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A real merge-table BPE tokenizer, engine-friendly by construction.
  *
  * Representation: every symbol is exactly ONE code point — base
  * characters stand for themselves, and the token produced by merge rank
  * r is the private-use code point U+E000+r. Encoding is then a fold of
  * plain string replacement: for each merge (a, b) → m in rank order,
  * `replace(s, a+b, m)`. String `replace` substitutes left-to-right,
  * non-overlapping — exactly BPE's within-pass convention — and both
  * Spark (`functions.replace`, codegen'd StringReplace) and DuckDB
  * (`replace`) implement those semantics, so the SAME merge table encodes
  * identically in the engine and in the correctness oracle.
  *
  * Why a single sequential pass equals the classic "repeatedly merge the
  * lowest-rank pair present" loop: a later merge M could only create a new
  * occurrence of an earlier pair (a, b) if M's output symbol WERE a or b;
  * but a and b both existed in the corpus when (a, b) was learned, so
  * their creating merges rank strictly below (a, b), hence below M — M's
  * fresh symbol can never equal either. Merge ranks are topologically
  * ordered, so one pass per merge, in rank order, is exact.
  *
  * Precondition: input must not contain U+E000..U+F8FF (the symbol
  * space). The training corpus here is ASCII; [[BpeTrainer.learn]]
  * asserts it.
  */
final case class BpeTokenizer(merges: Seq[(String, String)]) {
  require(merges.size <= 0x1900, s"symbol space exhausted: ${merges.size} merges")

  /** Merge rank r's single-codepoint output symbol. */
  private def sym(r: Int): String = new String(Character.toChars(0xE000 + r))

  /** (search, replacement) pairs in application order, in symbol space. */
  val passes: Seq[(String, String)] = {
    // a merge side that is itself a merged token refers to ITS symbol;
    // resolve via the token-string → symbol map built as we go
    val symbolOf = scala.collection.mutable.HashMap.empty[String, String]
    merges.zipWithIndex.map { case ((a, b), r) =>
      val sa = symbolOf.getOrElse(a, a)
      val sb = symbolOf.getOrElse(b, b)
      require(sa.codePointCount(0, sa.length) == 1 &&
        sb.codePointCount(0, sb.length) == 1,
        s"merge $r ($a, $b): sides must be base chars or earlier merge outputs")
      symbolOf(a + b) = sym(r)
      (sa + sb, sym(r))
    }
  }

  /** Token string each symbol decodes to (merged symbols only; merge
    * sides are stored as full token strings, so rank r decodes to a+b).
    */
  val tokenOf: Map[String, String] =
    merges.zipWithIndex.map { case ((a, b), r) => sym(r) -> (a + b) }.toMap

  /** Driver-side encode to token strings (spec / debugging mirror of the
    * column form — same passes, same semantics).
    */
  def encode(s: String): Seq[String] = {
    var cur = s
    passes.foreach { case (search, repl) => cur = cur.replace(search, repl) }
    cur.map(c => tokenOf.getOrElse(c.toString, c.toString)).toList
  }

  /** Encoded symbol string as a Column (chained codegen'd replaces). */
  def encodeExpr(text: Column): Column =
    passes.foldLeft(text) { case (c, (search, repl)) =>
      replace(c, lit(search), lit(repl))
    }

  /** Token count as a Column: one code point per symbol by construction. */
  def tokenCountExpr(text: Column): Column =
    length(encodeExpr(text)).cast("long")

  /** DuckDB replay of [[tokenCountExpr]] over SQL expression `e` — the
    * same replace chain, the same length. DuckDB `length` counts code
    * points, matching Spark's `length` on the BMP symbols used here.
    */
  def tokenCountSql(e: String): String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val chain = passes.foldLeft(e) { case (acc, (search, repl)) =>
      s"replace($acc, ${q(search)}, ${q(repl)})"
    }
    s"length($chain)"
  }
}

object BpeTokenizer {
  /** Load a merge table from `left<TAB>right` lines in rank order (the
    * format [[BpeTrainer.save]] writes and `graft/bpe_merges.tsv` ships).
    */
  def fromResource(path: String = "graft/bpe_merges.tsv"): BpeTokenizer = {
    val in = getClass.getClassLoader.getResourceAsStream(path)
    require(in != null, s"missing resource $path")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try BpeTokenizer(src.getLines().filter(_.nonEmpty).map { line =>
      val Array(a, b) = line.split('\t')
      (a, b)
    }.toList)
    finally src.close()
  }
}

/** Classic BPE training: repeatedly merge the most frequent adjacent
  * symbol pair (ties broken lexicographically, so the learned table is
  * deterministic). [[learn]] is the driver-side reference;
  * [[learnDistributed]] runs the identical algorithm over a DataFrame
  * with map-side pair counting, so at 100 TB the corpus never leaves
  * the cluster — only pair statistics do.
  */
object BpeTrainer {

  /** Accumulate one document's adjacent-pair counts into `into`,
    * left-to-right with the non-overlap rule (aaa = ONE "aa", matching
    * what a replace pass would actually consume). SHARED by the driver
    * and distributed trainers so their counting can never diverge.
    */
  private def countPairsInto(t: String,
      into: scala.collection.mutable.Map[(Char, Char), Long]): Unit = {
    var i = 0
    while (i < t.length - 1) {
      val key = (t(i), t(i + 1))
      into(key) = into.getOrElse(key, 0L) + 1L
      // skip the middle of an overlapping run (aaa = one "aa" for a
      // left-to-right replace pass, not two)
      if (t(i) == t(i + 1) && i + 2 < t.length && t(i + 2) == t(i)) i += 1
      i += 1
    }
  }

  /** Pick the winning pair: most frequent, then lexicographically first —
    * or None if merging can't help (no pair occurs twice). Shared
    * tie-break for both trainers. */
  private def argmax(counts: Iterable[((Char, Char), Long)]): Option[(Char, Char)] =
    if (counts.isEmpty) None
    else {
      val ((a, b), n) = counts.maxBy { case ((a, b), n) =>
        (n, -a.toInt, -b.toInt)
      }
      if (n < 2) None else Some((a, b))
    }

  def learn(corpus: Seq[String], numMerges: Int): Seq[(String, String)] = {
    corpus.foreach(s => require(!s.exists(c => c >= 0xE000 && c <= 0xF8FF),
      "corpus collides with the BPE symbol space U+E000..U+F8FF"))
    var texts = corpus.toArray
    val merges = Seq.newBuilder[(String, String)]
    val tokenOf = scala.collection.mutable.HashMap.empty[Char, String]
    var r = 0
    var done = false
    while (r < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(Char, Char), Long]
      texts.foreach(countPairsInto(_, counts))
      argmax(counts) match {
        case None => done = true
        case Some((a, b)) =>
          val symbol = (0xE000 + r).toChar
          val search = s"$a$b"
          texts = texts.map(_.replace(search, symbol.toString))
          def tok(c: Char) = tokenOf.getOrElse(c, c.toString)
          merges += ((tok(a), tok(b)))
          tokenOf(symbol) = tok(a) + tok(b)
          r += 1
      }
    }
    merges.result()
  }

  /** Distributed trainer — identical output to [[learn]] (same counting,
    * same tie-break; the equality is spec-pinned), but the corpus never
    * leaves the cluster. Per round:
    *
    *   1. pair counting: `mapPartitions` accumulates a per-task hashmap
    *      (map-side combine — the map-reduce wordcount shape), so the
    *      shuffle carries only DISTINCT (pair, count) rows per task,
    *      bounded by alphabet², never corpus size;
    *   2. the tiny aggregated count relation (≤ a few thousand rows)
    *      is collected and the winner picked with [[argmax]] — the only
    *      driver-side data is pair statistics, never text;
    *   3. the merge is applied as one codegen'd `replace` projection and
    *      the result `localCheckpoint`ed, so round r+1 counts a
    *      materialized corpus instead of replaying r replace passes
    *      (lineage stays O(1) per round — at 100 TB swap the local
    *      checkpoint for a reliable one or a table write).
    *
    * numMerges rounds = numMerges corpus passes, the same asymptotics as
    * [[learn]]; each pass is a full-parallel scan.
    */
  def learnDistributed(docs: org.apache.spark.sql.DataFrame, textCol: String,
      numMerges: Int): Seq[(String, String)] = {
    import org.apache.spark.sql.Encoders
    require(docs.filter(col(textCol).rlike("[\\uE000-\\uF8FF]")).isEmpty,
      "corpus collides with the BPE symbol space U+E000..U+F8FF")
    var texts = graft.Parallelism.fanOut(
      docs.select(col(textCol).cast("string").as("t")).na.drop())
    val merges = Seq.newBuilder[(String, String)]
    val tokenOf = scala.collection.mutable.HashMap.empty[Char, String]
    var r = 0
    var done = false
    while (r < numMerges && !done) {
      val counts = texts.select(col("t")).as(Encoders.STRING)
        .mapPartitions { it =>
          val m = scala.collection.mutable.HashMap.empty[(Char, Char), Long]
          it.foreach(countPairsInto(_, m))
          m.iterator.map { case ((a, b), n) => (a.toInt, b.toInt, n) }
        }(Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt, Encoders.scalaLong))
        .toDF("a", "b", "n")
        .groupBy("a", "b").agg(sum("n").as("n"))
        .collect()
        .map(row => ((row.getInt(0).toChar, row.getInt(1).toChar), row.getLong(2)))
      argmax(counts) match {
        case None => done = true
        case Some((a, b)) =>
          val symbol = (0xE000 + r).toChar
          texts = texts
            .select(replace(col("t"), lit(s"$a$b"), lit(symbol.toString)).as("t"))
            .localCheckpoint()
          def tok(c: Char) = tokenOf.getOrElse(c, c.toString)
          merges += ((tok(a), tok(b)))
          tokenOf(symbol) = tok(a) + tok(b)
          r += 1
      }
    }
    merges.result()
  }

  /** Serialize in [[BpeTokenizer.fromResource]]'s tsv format. */
  def save(merges: Seq[(String, String)], path: java.nio.file.Path): Unit = {
    val lines = merges.map { case (a, b) => s"$a\t$b" }
    java.nio.file.Files.writeString(path, lines.mkString("\n") + "\n")
  }
}
