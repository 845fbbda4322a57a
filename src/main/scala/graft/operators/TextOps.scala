package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, TextFns}

/** Text-analysis operators for training-data curation: language ID, quality
  * scoring, token counting. All pure per-row expressions (narrow, no
  * shuffle, full codegen) — they pipeline into whatever aggregation follows.
  */
object TextOps {

  /** Tiny per-language lexicons for the n-gram/stopword language-ID
    * heuristic. Deliberately small and deterministic; real deployments swap
    * in larger lexicons without changing the operator shape.
    */
  val langLexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("agg", "window", "join", "group"),
    "en" -> Seq("the", "a", "key", "row"),
    "es" -> Seq("data", "stream", "big", "sort"),
    "fr" -> Seq("query", "value", "small", "vector"),
    "zh" -> Seq("merge", "batch", "line", "slow"))

  /** Language ID: argmax of per-language lexicon hit counts over
    * whitespace tokens, ties broken by lexicon declaration order
    * (alphabetical), zero hits → 'und'. A CASE chain, not a struct sort,
    * so the tie-break is explicit and engine-independent. Tokenizes ONCE
    * and materializes one score column per language before the CASE: a
    * pure-Column form would embed every score subtree ~7x inside the
    * CASE/greatest chain, and interpreted higher-order filters get no
    * common-subexpression elimination (~30 tokenizations per row).
    */
  def langId(df: DataFrame, textCol: String, out: String): DataFrame = {
    val toks = graft.Parallelism.fanOut(df)
      .withColumn("__toks", TextFns.tokens(col(textCol)))
    val scored = langLexicons.foldLeft(toks) { case (d, (lang, lex)) =>
      d.withColumn(s"__s_$lang",
        size(filter(col("__toks"), t => t.isInCollection(lex))))
    }
    val all = langLexicons.map { case (lang, _) => col(s"__s_$lang") }
    val chain = langLexicons.foldRight(lit("und")) { case ((lang, _), rest) =>
      when(col(s"__s_$lang") >= greatest(all: _*) && col(s"__s_$lang") > 0,
        lang).otherwise(rest)
    }
    scored.withColumn(out, chain)
      .drop("__toks" +: langLexicons.map { case (l, _) => s"__s_$l" }: _*)
  }

  /** MIXED-LANGUAGE (code-switching) AUDIT — "is this document ONE
    * language or two stitched together": [[langId]] votes once per
    * document, so a half-English/half-German page gets whichever half
    * outweighs the other and the mixture is invisible. This audit runs
    * the SAME lexicon argmax on the two token-halves independently and
    * flags documents whose halves disagree (both halves decided, i.e.
    * not 'und') — the curation gate for translation-glued or
    * boilerplate-wrapped pages that one-vote language filters pass.
    *
    * Deterministic and oracle-replayable end to end: halves are exact
    * token slices (first ⌊n/2⌋ / rest), scores are integer lexicon hit
    * counts, the argmax chain is [[langId]]'s (ties → lexicon order,
    * zero hits → 'und'). Pure projection — one tokenization, no shuffle
    * beyond the caller's sort.
    *
    * Output per doc: (id, n_tokens, lang_first, lang_second, mixed).
    */
  def codeSwitchAudit(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = graft.Parallelism.fanOut(df.select(col(idCol), col(textCol)))
      .withColumn("__toks", TextFns.tokens(col(textCol)))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__h1", slice(col("__toks"), lit(1),
        expr("__n div 2").cast("int")))
      .withColumn("__h2", slice(col("__toks"),
        (expr("__n div 2") + 1).cast("int"),
        expr("__n - __n div 2").cast("int")))
    def predict(half: String): Column = {
      val scores = langLexicons.map { case (lang, lex) =>
        lang -> size(filter(col(half), t => t.isInCollection(lex)))
      }
      val all = scores.map(_._2)
      scores.foldRight(lit("und")) { case ((lang, s), rest) =>
        when(s >= greatest(all: _*) && s > 0, lang).otherwise(rest)
      }
    }
    toks.select(col(idCol), col("__n").cast("long").as("n_tokens"),
      predict("__h1").as("lang_first"), predict("__h2").as("lang_second"))
      .withColumn("mixed",
        col("lang_first") =!= col("lang_second") &&
          col("lang_first") =!= "und" && col("lang_second") =!= "und")
  }

  /** Character n-grams of the normalized text (overlapping, length n) —
    * the classic language-ID feature. `Column.substr` with column offsets
    * keeps this in codegen.
    */
  def charNgrams(textCol: Column, n: Int): Column = {
    val t = graft.functions.TextFns.normalized(textCol)
    when(length(t) >= n,
      transform(sequence(lit(1), length(t) - (n - 1)),
        i => t.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))
  }

  /** The top-K character n-grams per language from a labeled corpus —
    * the Cavnar–Trenkle n-gram profile a char-n-gram language classifier
    * scores documents against. Deterministic rank (count desc, gram asc).
    *
    * Scale shape: one shuffle on (lang, gram) with map-side combine; the
    * ranking window partitions by language over the AGGREGATED gram
    * counts (rows per partition = distinct grams per language, bounded
    * by alphabet^n, not corpus size).
    *
    * Returns (langCol, gram, cnt, rk ≤ topK).
    */
  def trainCharNgramProfiles(df: DataFrame, langCol: String,
      textCol: String, n: Int, topK: Int): DataFrame = {
    require(topK > 0, s"profile size must be positive: $topK")
    val grams = graft.Parallelism.fanOut(df.select(col(langCol), col(textCol)))
      .select(col(langCol), explode(charNgrams(col(textCol), n)).as("gram"))
    val counts = grams.groupBy(col(langCol), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(langCol)).orderBy(col("cnt").desc, col("gram"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
  }

  /** Quality features per document: char/token counts, mean token length,
    * punctuation / digit / stopword ratios, and a composite score.
    *
    * Ratios ride MICRO-UNIT LONGS (round-half-up of num·1e6/den), never a
    * double→DECIMAL cast: Spark rounds a double's shortest-string repr
    * into DECIMAL while DuckDB rounds the exact binary expansion, so the
    * 9th decimal diverges on some inputs (the q61→q95/q97 bug class). The
    * micro rounding here is `floor((num·2e6 + den) / (2·den))` — numerator
    * and denominator are exact integers ≤ 2e15, both engines cast them to
    * the same doubles, one IEEE division, one floor: bit-identical
    * everywhere, and long sums of the result are order-independent, so
    * row-level consumers (survivor argmax, percentile gates) and
    * aggregate consumers (per-lang means) are both engine-exact.
    * `mean_token_len` stays one raw IEEE division of exact counts (the
    * q61/q71 pattern — correctly rounded, identical in any engine).
    *
    * Composite score in micro units: min(n_tokens·1e4, 1e6)
    * − 2·punct_micro + stop_micro — all-integer, so even its sums are
    * exact (overflow at ~4.6e12 docs per group, far past any corpus).
    */
  def qualityFeatures(df0: DataFrame, idCol: String, textCol: String): DataFrame = {
    // materialize the token array once — several features reference it,
    // and building it repeatedly inside one projection re-tokenizes per
    // feature (interpreted HOFs get no CSE; see langId)
    val df = graft.Parallelism.fanOut(df0.select(col(idCol), col(textCol)))
      .withColumn("__toks", TextFns.tokens(col(textCol)))
    val t = col(textCol)
    val toks = col("__toks")
    val nChars = length(t)
    val nToks = size(toks)
    val punct = nChars - length(regexp_replace(t, "[^A-Za-z0-9\\s]", ""))
    val digits = nChars - length(regexp_replace(t, "[0-9]", ""))
    val stops = size(filter(toks, x => x.isInCollection(TextFns.stopwords)))
    // guarded: ANSI mode (Spark 4 default) throws DIVIDE_BY_ZERO, and a
    // single empty document must not kill a 100 TB job — null ratio
    val punctMicro = ratioMicro(punct, nChars)
    val stopMicro = ratioMicro(stops, nToks)
    val meanTokLen =
      when(nToks =!= 0, (nChars - (nToks - lit(1))).cast("double") /
        nToks.cast("double"))
    // composite score: long enough, not punctuation-heavy, some stopwords
    val score =
      least(nToks.cast("long") * 10000L, lit(1000000L)) -
        punctMicro * 2 + stopMicro
    df.select(col(idCol), nChars.as("n_chars"), nToks.as("n_tokens"),
      meanTokLen.as("mean_token_len"), punctMicro.as("punct_ratio_micro"),
      ratioMicro(digits, nChars).as("digit_ratio_micro"),
      stopMicro.as("stopword_ratio_micro"),
      score.as("quality_score_micro"))
  }

  /** Round-half-up micro-unit ratio of two non-negative exact integer
    * counts, as exact integer arithmetic both engines replay bit-for-bit:
    * floor((num·2e6 + den) / (2·den)). The operands stay ≤ 2e15 (exact in
    * double for any num ≤ 1e9), the division is one correctly-rounded
    * IEEE op on identical inputs, and floor of that identical double is
    * identical — engine-exact with no decimal quantization anywhere.
    * Null (not a throw, not a poison value) when the denominator is 0.
    *
    * Exactness window: num ≤ ~4.5e9 keeps num·2e6 + den below 2^53, so
    * both operands are exactly representable and the result is
    * bit-identical everywhere. Beyond that (single counts in the
    * billions — corpus-wide bigram totals at 100 TB, not per-document
    * features) the +den term can be absorbed by rounding and the floor
    * may differ by one micro unit between engines exactly at .5
    * boundaries; route such magnitudes through DECIMAL division instead.
    */
  private[graft] def ratioMicro(num: Column, den: Column): Column =
    when(den =!= 0,
      floor((num.cast("long") * 2000000L + den.cast("long")) /
        (den.cast("long") * 2L)).cast("long"))

  /** The shipped merge-table tokenizer (64 merges learned from the
    * documents corpus by [[graft.functions.BpeTrainer]]; regenerate with
    * `runMain graft.BpeVocabGen`). Loaded once per JVM — the merge table
    * becomes literal arguments of the codegen'd replace chain.
    */
  lazy val bpe: graft.functions.BpeTokenizer =
    graft.functions.BpeTokenizer.fromResource()

  /** Token counting: whitespace tokens, the regex sub-word approximation,
    * and REAL merge-table BPE ([[bpe]] — deterministic, loadable vocab,
    * all-builtin replace chain, so the count stays in whole-stage codegen
    * and the DuckDB oracle replays it exactly).
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Parallelism.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        size(TextFns.tokens(col(textCol))).as("n_ws_tokens"),
        size(TextFns.bpeTokens(col(textCol))).as("n_bpe_tokens"),
        bpe.tokenCountExpr(col(textCol)).as("n_real_bpe_tokens"))

  /** Sentence segmentation stats — the context-length facts a packing /
    * chunking stage reads (q56/q59 count tokens; training-time document
    * truncation decisions are made in SENTENCES). Splitter: strip one
    * trailing terminator run, then split on `[.!?]+` followed by
    * whitespace (RE2-safe, identical in Spark's Java regex and DuckDB's
    * RE2); a sentence's length is its whitespace token count. Per doc:
    * n_sentences, n_sentence_tokens (Σ over sentences),
    * max_sentence_tokens. Pure per-row projection — no shuffle.
    */
  def sentenceStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stripped = regexp_replace(trim(col(textCol)), "[.!?]+\\s*$", "")
    val sentences = filter(split(stripped, "[.!?]+\\s+"),
      s => trim(s) =!= "")
    val tokCounts = transform(sentences, s => size(split(trim(s), "\\s+")))
    graft.Parallelism.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        size(sentences).cast("long").as("n_sentences"),
        coalesce(aggregate(tokCounts, lit(0L), (a, v) => a + v), lit(0L))
          .as("n_sentence_tokens"),
        coalesce(array_max(tokCounts).cast("long"), lit(0L))
          .as("max_sentence_tokens"))
  }

  /** ROUGE-N overlap between (candidate, reference) document pairs —
    * the n-gram eval metric summarization/distillation pipelines score
    * model outputs with (ROUGE-1/2 precision, recall, F1; Lin 2004).
    * Counts are CLIPPED multiset overlap: Σ_g min(count_cand(g),
    * count_ref(g)) — a candidate repeating a reference gram scores it
    * at most as often as the reference contains it. All counts exact
    * BIGINTs; P/R/F are one guarded IEEE division chain each, pinned
    * identically in the oracle.
    *
    * The pairing is an INPUT (eval sets arrive as candidate/reference
    * pairs); `pairs` must carry (id_a = candidate, id_b = reference).
    * Scale shape: per-doc gram counts (one explode + groupBy), two hash
    * joins from the pair relation into the gram relation keyed
    * (id, gram), one aggregate per pair — never all-pairs, never a
    * gram cross join.
    */
  def rougeOverlap(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, n: Int): DataFrame = {
    val grams = graft.CacheScope.register(
      graft.Parallelism.fanOut(docs.select(col(idCol), col(textCol)))
        .select(col(idCol).as("id"),
          explode(TextFns.shinglesOfTokens(TextFns.tokens(col(textCol)), n))
            .as("g"))
        .groupBy("id", "g").agg(count(lit(1)).as("c")))
    val totals = grams.groupBy("id").agg(sum("c").cast("long").as("tot"))
    val ov = pairs
      .join(grams.select(col("id").as("id_a"), col("g"),
        col("c").as("__ca")), "id_a")
      .join(grams.select(col("id").as("id_b"), col("g"),
        col("c").as("__cb")), Seq("id_b", "g"))
      .groupBy("id_a", "id_b")
      .agg(sum(least(col("__ca"), col("__cb"))).cast("long").as("overlap"))
    val p = when(col("cand_n") > 0,
      col("overlap").cast("double") / col("cand_n"))
    val r = when(col("ref_n") > 0,
      col("overlap").cast("double") / col("ref_n"))
    pairs
      .join(ov, Seq("id_a", "id_b"), "left")
      .join(totals.select(col("id").as("id_a"), col("tot").as("cand_n")),
        Seq("id_a"), "left")
      .join(totals.select(col("id").as("id_b"), col("tot").as("ref_n")),
        Seq("id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        coalesce(col("cand_n"), lit(0L)).as("cand_n"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"))
      .withColumn("p", coalesce(p, lit(0.0)))
      .withColumn("r", coalesce(r, lit(0.0)))
      .withColumn("f", when(col("p") + col("r") > 0,
        lit(2.0) * col("p") * col("r") / (col("p") + col("r")))
        .otherwise(lit(0.0)))
  }

  /** PII patterns shared by [[redactPii]] and its oracle — RE2-safe (no
    * backrefs/lookaround) so Spark (Java regex) and DuckDB (RE2) agree.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+" -> "<EMAIL>",
    "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}" -> "<PHONE>",
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}" -> "<IP>")

  /** PII scrubbing: replace emails / phone numbers / IPv4s with typed
    * placeholder tokens, and count the redactions per document (the audit
    * column curation jobs alert on). Pure per-row regex projection — no
    * shuffle, pipelines into whatever follows.
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val redacted = piiPatterns.foldLeft(col(textCol)) {
      case (c, (pat, tok)) => regexp_replace(c, pat, tok)
    }
    val nRedactions = piiPatterns.map { case (pat, _) =>
      size(regexp_extract_all(col(textCol), lit(pat), lit(0)))
    }.reduce(_ + _)
    graft.Parallelism.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        redacted.as("text_redacted"), nRedactions.as("n_redactions"))
  }

  /** Corpus vocabulary: the `k` most frequent whitespace tokens with
    * counts and document frequencies. Aggregate-then-limit: the full
    * shuffle carries one row per distinct token (partial map-side counts),
    * and only the k-row result is ever collected/sorted globally.
    */
  def topVocab(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    graft.Parallelism.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("__doc"),
        explode(TextFns.tokens(col(textCol))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"), countDistinct(col("__doc")).as("n_docs"))
      .orderBy(col("n").desc, col("tok"))
      .limit(k)

  /** TF-IDF top terms per document: term frequency over whitespace tokens,
    * inverse document frequency ln((N+1)/(df+1)) + 1 (the smoothed
    * sklearn-style form — never division by zero, never negative), top
    * `perDoc` terms per doc by weight with (term) tie-break.
    *
    * Plan shape: one (doc, token) count shuffle, one token-df aggregate
    * joined back on the token, a corpus-count broadcast (1 row), and a
    * per-doc window for the top-k.
    *
    * Cross-engine note: ln() is the one function here whose last ulp may
    * differ between libm implementations, so the weight is quantized to
    * INTEGER micro-units (round(w·1e6) as long) BEFORE ranking — integers
    * are exactly representable, so the two engines' round algorithms
    * cannot disagree post-quantization, and both rank identical values
    * (term tie-break). Residual risk is an ln ulp landing exactly on a
    * .5 micro-unit boundary (~1e-11 per value), not the ~1e-8 of
    * fractional-decimal rounding.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      perDoc: Int): DataFrame = {
    require(perDoc > 0, s"perDoc must be positive: $perDoc")
    val tf = graft.Parallelism.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"), explode(TextFns.tokens(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.select(countDistinct(col(idCol)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("tfidf_micro").desc, col("term"))
    tf.join(idf, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf_micro",
        round(col("tf") * (log((col("__n") + 1).cast("double") / (col("df") + 1)) + 1)
          * 1e6).cast("long"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= perDoc)
      .select(col("id"), col("term"), col("tf"), col("df"), col("tfidf_micro"))
  }

  /** Sequence packing for training: assign documents (in deterministic
    * `idCol` order within each `shardCol` group) to consecutive chunks of
    * ~`tokenBudget` tokens — chunk id = floor(exclusive-prefix-sum /
    * budget), the streaming bin-packing rule whose only slack is that a
    * chunk may overrun by less than one document (first-fit-exact would
    * need sequential state). Output: (id, shard, n_tokens, seq_id).
    *
    * Scale shape: the prefix sum is a window per shard — one shuffle on
    * the shard key, no global sort. Shard by source/date so no single
    * window partition holds the corpus.
    */
  /** Statistical-LM quality scoring (the CCNet/KenLM filter stage): score
    * each document by the corpus-trained add-one-smoothed bigram model,
    *   P(w2|w1) = (C(w1 w2) + 1) / (C(w1) + V),
    * where C(w1) counts ALL occurrences of w1 and V is the distinct-token
    * vocabulary size. Output per doc: (id, n_bigrams, sum_lp_micro) with
    * sum_lp_micro = Σ [round(ln(C12+1)·1e6) − round(ln(C1+V)·1e6)] — each
    * ln is taken of an INTEGER both engines agree on and rounded to
    * micro-units BEFORE summing, so the sum is exact integer arithmetic
    * (the tfidf libm-proofing pattern). Low mean log-prob ⇒ improbable
    * word sequences ⇒ filter candidate. Docs with <2 tokens are absent.
    *
    * Scale shape: two count aggregations over the corpus (bigram,
    * unigram — the "training" pass), then the scoring joins shuffle on
    * the bigram/first-token keys; V travels as a 1-row broadcast. At
    * 100 TB you train the counts on a sample or reference corpus once and
    * reuse them; this inline form trains on the scored corpus itself.
    */
  def bigramLmScores(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // tokenize ONCE: the bigram and unigram relations both derive from a
    // cached token-array frame instead of re-tokenizing the corpus twice
    val toks = graft.CacheScope.register(
      graft.Parallelism.fanOut(df.select(col(idCol), col(textCol)))
        .select(col(idCol).as("id"), TextFns.tokens(col(textCol)).as("__t")))
    val bg = toks
      .select(col("id"), explode(TextFns.shinglesOfTokens(col("__t"), 2)).as("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    val uniCounts = toks
      .select(explode(col("__t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = uniCounts.select(count(lit(1)).as("__v"))
    // bigram counts as a window over the occurrence relation, not a
    // groupBy + join-back: one shuffle on the bigram key serves both the
    // count and the per-occurrence scoring rows, and `bg` (the expensive
    // explode) is referenced exactly once in the plan
    bg.withColumn("c12", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("bg"))))
      .join(uniCounts, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("lp_micro",
        round(log((col("c12") + 1).cast("double")) * 1e6).cast("long") -
          round(log((col("c1") + col("__v")).cast("double")) * 1e6).cast("long"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_micro")).as("sum_lp_micro"))
  }

  /** [[bigramLmScores]] with a TRAIN/SCORE split: the model's bigram and
    * unigram counts come exclusively from `train`, and `score`'s
    * documents are evaluated against that model — HELD-OUT perplexity,
    * the measurement a curation pipeline actually wants (in-corpus
    * perplexity rewards memorization; every document co-trains the model
    * that scores it). Add-one smoothing handles unseen events: an unseen
    * bigram scores lnμ(1) − lnμ(c1 + V), an unseen context lnμ(1) −
    * lnμ(V), with V the TRAIN-side unigram vocabulary — identical
    * arithmetic to q62's formula, just with train-only counts and
    * left joins for the misses.
    *
    * Scale shape mirrors [[bigramLmScores]]: each side tokenizes once,
    * the train counts shuffle on the bigram key (map-side combine), V
    * rides a broadcast 1-row aggregate, and the score side joins the
    * count relations on (bg) then (w1) — inverted-index cost. Score
    * documents with fewer than 2 tokens have no bigrams and are absent
    * from the output, as in the in-corpus form.
    *
    * Returns (id, n_bigrams, sum_lp_micro).
    */
  def bigramLmScoresOn(train: DataFrame, score: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def lnMicro(c: Column): Column =
      round(log(c.cast("double")) * 1e6).cast("long")
    val tToks = graft.CacheScope.register(
      graft.Parallelism.fanOut(train.select(col(textCol)))
        .select(TextFns.tokens(col(textCol)).as("__t")))
    val bgCounts = tToks
      .select(explode(TextFns.shinglesOfTokens(col("__t"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
    val uniCounts = tToks
      .select(explode(col("__t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = uniCounts.select(count(lit(1)).as("__v"))
    val sBg = graft.Parallelism.fanOut(score.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        explode(TextFns.shingles(col(textCol), 2)).as("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    sBg
      .join(bgCounts, Seq("bg"), "left")
      .join(uniCounts, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("lp_micro",
        lnMicro(coalesce(col("c12"), lit(0L)) + 1) -
          lnMicro(coalesce(col("c1"), lit(0L)) + col("__v")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_micro")).as("sum_lp_micro"))
  }

  /** Repetition signals (the Gopher-rules family): how much of a document
    * is the same n-gram said again. Per document, over its word n-grams
    * WITH multiplicity:
    *   - `n_ngrams` — total n-gram occurrences,
    *   - `top_ngram_n` — occurrences of the single most frequent n-gram,
    *   - `dup_ngram_ratio` — fraction of occurrences beyond each gram's
    *     first (1 - distinct/total), a plain double: one IEEE division of
    *     two exact integer counts plus one subtraction, so the value is
    *     bit-identical in any IEEE-754 engine (no decimal quantization,
    *     which rounds differently across engines).
    * Boilerplate-heavy and degenerate-loop documents spike both ratios;
    * filter on them before training. Two shuffles: (id, gram) count,
    * then per-id aggregate — no per-doc state on the driver. Documents
    * with fewer than `n` tokens have no n-grams and are absent from the
    * output (callers treat missing as "no repetition evidence").
    */
  /** Count-based bigram language model — the statistics pass behind
    * KenLM-style n-gram LMs and the classic "train a tiny LM on the
    * target corpus to perplexity-filter the crawl" recipe (Moore–Lewis
    * selection): bigram counts c(w1,w2), left-context totals
    * c1(w1) = Σ_w2 c(w1,w2), and the MLE conditional P(w2|w1) in
    * engine-exact micro units ([[ratioMicro]] — one IEEE division of
    * exact integer counts, no decimal quantization). `minCount` prunes
    * the hapax tail (rows, not counts: c1 still includes pruned mass, so
    * surviving probabilities are true MLE, not renormalized). Counts here
    * are corpus-wide — see [[ratioMicro]]'s exactness window note for
    * the (billions-of-occurrences) regime where the micro rounding
    * should move to DECIMAL division.
    *
    * Scale shape: ONE shuffle counts bigrams (map-side partial
    * aggregation collapses repeats before the exchange); the c1 totals
    * come from a window over the AGGREGATED bigram relation partitioned
    * by w1 — rows per partition = distinct successors of w1, bounded by
    * vocabulary, not corpus size. No driver-side anything.
    *
    * Returns (w1, w2, c12, c1, p_micro).
    */
  def bigramLm(df: DataFrame, textCol: String, minCount: Long): DataFrame = {
    val grams = graft.Parallelism.fanOut(df.select(col(textCol)))
      .select(explode(TextFns.shingles(col(textCol), 2)).as("__g"))
    // tokens are \s+-split, so the bigram's single joining space is the
    // only space in __g — substring_index splits it back exactly
    val counts = grams.groupBy(col("__g")).agg(count(lit(1)).as("c12"))
      .select(substring_index(col("__g"), " ", 1).as("w1"),
        substring_index(col("__g"), " ", -1).as("w2"), col("c12"))
    counts
      .withColumn("c1", sum(col("c12")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))))
      .filter(col("c12") >= minCount)
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        ratioMicro(col("c12"), col("c1")).as("p_micro"))
  }

  /** Interpolated Kneser-Ney bigram probabilities (absolute discount
    * d = 3/4) for the `topK` most frequent bigrams — the smoothing that
    * actually ships in n-gram LMs ([[bigramLm]] is raw MLE; KN backs off
    * to CONTINUATION counts, so "Francisco" — frequent but only ever
    * after "San" — stops inflating unseen-context probabilities):
    *
    *   P(w2|w1) = (c12 − d)⁺/c1 + d·N1+(w1·)/c1 · N1+(·w2)/B
    *
    * with N1+(w1·) = distinct successors of w1, N1+(·w2) = distinct
    * predecessors of w2, B = total distinct bigram types.
    *
    * Exactness: d = 3/4 clears to integers — both engines emit
    *   num = (4·c12 − 3)⁺·B + 3·N1+(w1·)·N1+(·w2),  den = 4·B·c1
    * as exact BIGINTs (counts ≤ 10⁹ keep the products < 2^63 by orders
    * of magnitude) and `p_kn` as the single final IEEE division.
    *
    * Scale shape: ONE bigram-count shuffle (map-side combine), the
    * three continuation statistics are windows/aggregates over the
    * AGGREGATED bigram relation (successor/predecessor partitions are
    * vocabulary-bounded, the [[bigramLm]] argument), top-k via ordered
    * limit (TakeOrderedAndProject — no global sort materialization).
    */
  def knBigramLm(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    val grams = graft.Parallelism.fanOut(df.select(col(textCol)))
      .select(explode(TextFns.shingles(col(textCol), 2)).as("__g"))
    val counts = graft.CacheScope.register(
      grams.groupBy(col("__g")).agg(count(lit(1)).as("c12"))
        .select(substring_index(col("__g"), " ", 1).as("w1"),
          substring_index(col("__g"), " ", -1).as("w2"), col("c12")))
    val w1w = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
    val w2w = org.apache.spark.sql.expressions.Window.partitionBy(col("w2"))
    val b = counts.count() // distinct bigram types: one tiny driver scalar
    counts
      .withColumn("c1", sum(col("c12")).over(w1w))
      .withColumn("n1_fwd", count(lit(1)).over(w1w))
      .withColumn("n1_bwd", count(lit(1)).over(w2w))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("n1_fwd"), col("n1_bwd"),
        (greatest(lit(4L) * col("c12") - 3L, lit(0L)) * b +
          lit(3L) * col("n1_fwd") * col("n1_bwd")).as("p_num"),
        (lit(4L) * b * col("c1")).as("p_den"))
      .withColumn("p_kn",
        col("p_num").cast("double") / col("p_den").cast("double"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Feature-hashing bag-of-words vectorization (the HashingTF trick):
    * token → bucket = h60(token) mod k, per-document bucket counts in
    * LONG format (id, bucket, cnt). Long format IS the scale design: the
    * sparse triplet layout stores only occupied buckets (≈ distinct
    * tokens per doc), where a dense k-vector column at k = 2^18 would be
    * a megabyte of mostly-zeros per row across a 100 TB corpus. Hash
    * collisions are the accepted trade (pick k ≫ working vocabulary);
    * the h60 bucket is oracle-replayable, unlike a trained vocabulary
    * lookup, and needs NO vocabulary pass at all — the property that
    * makes feature hashing the streaming/incremental-safe vectorizer.
    *
    * One shuffle on (id, bucket) with map-side combine; everything else
    * is a projection.
    */
  def hashedBow(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"bucket count must be positive: $k")
    graft.Parallelism.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(TextFns.tokens(col(textCol))).as("__tok"))
      .groupBy(col(idCol), pmod(Hashing.h60(col("__tok")), lit(k.toLong)).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** DSIR-style importance weights: score every document by how much
    * more likely its hashed-unigram bag is under the TARGET distribution
    * (rows matching `targetPred`) than under the RAW corpus distribution
    * — Data Selection via Importance Resampling (Xie et al., "Data
    * Selection for Language Models via Importance Resampling", NeurIPS
    * 2023), the standard "make the crawl look like the reference corpus"
    * selector, minus the Gumbel noise (selection here is the
    * deterministic sign of the log-weight; callers wanting a fixed
    * budget rank on `logw_micro` with id ties).
    *
    *   logw(d) = Σ_b c_db · [lnμ(ct_b+1) − lnμ(Nt+B) − lnμ(cr_b+1) + lnμ(Nr+B)]
    *
    * with c_db the doc's count in hash bucket b, ct/cr the target/raw
    * bucket totals, B the bucket count. Every ln is taken OF AN INTEGER
    * and rounded to micro units before any arithmetic (the q62
    * libm-proofing trick), so logw_micro is an exact BIGINT any engine
    * reproduces; buckets ride [[hashedBow]]'s oracle-replayable h60.
    *
    * Scale shape: one token scan fanned out to (doc, bucket) counts
    * (map-side combine), the B-row target/raw bucket tables broadcast
    * back onto it, one (doc) re-aggregate. The per-bucket model is
    * 2·B longs — fixed memory at any corpus size, the property that
    * lets DSIR score petabyte crawls.
    *
    * Returns (id, n_tokens, logw_micro, selected = logw_micro > 0),
    * one row per document with ≥ 1 token.
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int): DataFrame = {
    require(buckets > 0, s"bucket count must be positive: $buckets")
    def lnMicro(c: Column): Column =
      round(log(c.cast("double")) * 1e6).cast("long")
    val docBuckets = graft.CacheScope.register(
      graft.Parallelism.fanOut(
          df.select(col(idCol).as("id"), col(textCol).as("__t"),
            targetPred.as("__is_target")))
        .select(col("id"), col("__is_target"),
          explode(TextFns.tokens(col("__t"))).as("__tok"))
        .groupBy(col("id"), col("__is_target"),
          pmod(Hashing.h60(col("__tok")), lit(buckets.toLong)).as("b"))
        .agg(count(lit(1)).as("c")))
    val model = broadcast(docBuckets
      .groupBy("b")
      .agg(sum(when(col("__is_target"), col("c")).otherwise(0L)).as("ct"),
        sum(col("c")).as("cr")))
    val totals = broadcast(model.agg(
      sum(col("ct")).as("nt"), sum(col("cr")).as("nr")))
    docBuckets
      .join(model, "b")
      .crossJoin(totals)
      .groupBy("id")
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * (lnMicro(col("ct") + 1) - lnMicro(col("nt") + buckets)
          - lnMicro(col("cr") + 1) + lnMicro(col("nr") + buckets)))
          .as("logw_micro"))
      .select(col("id"), col("n_tokens"), col("logw_micro"),
        (col("logw_micro") > 0).as("selected"))
  }

  /** Multiclass Naive Bayes classifier over hashed bag-of-words features
    * — the fastText/CCNet-style "model-based domain/quality filter"
    * reduced to exact integer arithmetic. Trains on `labelCol` with
    * add-one smoothing over the `k` hash buckets and scores every
    * document with micro-rounded integer log-probabilities (every ln is
    * taken OF AN INTEGER and rounded to micro units before any sum — the
    * q62 libm-proofing trick, so both engines add identical longs):
    *
    *   score(d, l) = lnμD_l − lnμD + Σ_b cnt_db·[lnμ(c_lb+1) − lnμ(T_l+k)]
    *
    * Prediction is the argmax with ties to the smaller label string.
    *
    * Scale shape: ONE cached (id, label, bucket) token relation feeds
    * training and scoring. The model is at most k×L rows (buckets ×
    * labels) — bounded by construction, broadcast to the scorers; priors
    * are L rows. Corpus-keyed work: the (id, bucket) count and an
    * L-expanded (id, label) score sum — linear in corpus tokens times
    * the (small, fixed) label count; the per-id argmax window sees L
    * rows per partition key. Train-then-score-elsewhere is the same
    * function applied to a frozen model: the relations are separable.
    *
    * Overflow headroom: |lp| ≤ lnμ(T+k) ≈ 2e7, per-doc Σ ≤ n_tokens·4e7
    * — exact in a long to ~2e11 tokens per document.
    *
    * Returns (id, label, pred, lp_micro, margin_micro) — margin the
    * winner's lead over the runner-up, 0 when L == 1.
    */
  def naiveBayesClassify(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, k: Int): DataFrame = {
    require(k > 0, s"bucket count must be positive: $k")
    def lnMicro(c: Column): Column =
      round(log(c.cast("double")) * 1e6).cast("long")
    val toks = graft.CacheScope.register(
      graft.Parallelism.fanOut(
          df.select(col(idCol), col(labelCol), col(textCol)))
        .select(col(idCol), col(labelCol).as("__lbl"),
          explode(TextFns.tokens(col(textCol))).as("__tok"))
        .select(col(idCol), col("__lbl"),
          pmod(Hashing.h60(col("__tok")), lit(k.toLong)).as("__b")))
    // model: per-(label, bucket) smoothed log-likelihood; absent buckets
    // fall back to the label's zero-count term at scoring time
    val classTot = toks.groupBy("__lbl").agg(count(lit(1)).as("__t"))
    val model = toks.groupBy("__lbl", "__b").agg(count(lit(1)).as("__c"))
      .join(classTot, "__lbl")
      .select(col("__lbl"), col("__b"),
        (lnMicro(col("__c") + 1) - lnMicro(col("__t") + k)).as("__lp"))
    val zeroLp = classTot.select(col("__lbl"),
      (lnMicro(lit(1)) - lnMicro(col("__t") + k)).as("__lp0"))
    val priors = df.groupBy(col(labelCol).as("__lbl"))
      .agg(count(lit(1)).as("__d"))
      .crossJoin(broadcast(df.agg(count(lit(1)).as("__dn"))))
      .select(col("__lbl"),
        (lnMicro(col("__d")) - lnMicro(col("__dn"))).as("__prior"))
    val docBuckets = toks.groupBy(col(idCol), col("__b"))
      .agg(count(lit(1)).as("__cnt"))
    val scored = docBuckets
      .crossJoin(broadcast(priors.select(col("__lbl"), col("__prior"))))
      .join(broadcast(model), Seq("__lbl", "__b"), "left")
      .join(broadcast(zeroLp), Seq("__lbl"))
      .withColumn("__lpz", coalesce(col("__lp"), col("__lp0")))
      .groupBy(col(idCol), col("__lbl"), col("__prior"))
      .agg(sum(col("__cnt") * col("__lpz")).as("__s"))
      .select(col(idCol), col("__lbl"), (col("__prior") + col("__s")).as("__score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__score").desc, col("__lbl").asc)
    scored.withColumn("__rn", row_number().over(w))
      .groupBy(col(idCol))
      .agg(max(when(col("__rn") === 1, col("__lbl"))).as("pred"),
        max(when(col("__rn") === 1, col("__score"))).as("lp_micro"),
        max(when(col("__rn") === 2, col("__score"))).as("__s2"))
      .withColumn("margin_micro",
        coalesce(col("lp_micro") - col("__s2"), lit(0L)))
      .join(df.select(col(idCol), col(labelCol).as("label")), Seq(idCol))
      .select(col(idCol), col("label"), col("pred"), col("lp_micro"),
        col("margin_micro"))
  }

  /** Per-document unigram KL divergence from the corpus distribution —
    * the domain-shift / template-detector signal: KL(doc ‖ corpus) is
    * near 0 for documents whose word mix matches the corpus and large for
    * boilerplate, navigation junk, or off-domain text. Computed exactly:
    *
    *   KL = (1/n)·Σ_w c_w·[ln c_w − ln C_w] + (ln N − ln n)
    *
    * with every ln taken OF AN INTEGER and rounded to micro units before
    * any arithmetic (the q62 libm-proofing trick — raw ln is
    * libm-dependent, micro-rounded ln of identical integers is engine
    * -exact), so `kl_sum_micro = Σ c_w·(lnμc_w − lnμC_w) + n·(lnμN − lnμn)`
    * is an exact long and `kl_micro = kl_sum_micro / n` one IEEE division.
    *
    * Scale shape: ONE cached token relation feeds the per-doc counts, the
    * corpus counts, and the total; the only corpus-keyed shuffle is the
    * token join of per-doc counts against corpus counts (Σdf rows,
    * inverted-index cost); N rides a broadcast 1-row aggregate.
    * Overflow headroom: |lnμ| ≤ 2.1e7·ln-range ≈ 4e7, so Σ ≤ n·8e7 —
    * exact in a long to n ≈ 1e11 tokens per document.
    *
    * Returns (id, n_tokens, kl_sum_micro, kl_micro).
    */
  def unigramKl(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = graft.CacheScope.register(
      graft.Parallelism.fanOut(df.select(col(idCol), col(textCol)))
        .select(col(idCol), explode(TextFns.tokens(col(textCol))).as("__w")))
    def lnMicro(c: Column): Column =
      round(log(c.cast("double")) * 1e6).cast("long")
    val dc = toks.groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("c"))
    val cc = toks.groupBy(col("__w")).agg(count(lit(1)).as("cw"))
    val nTot = toks.agg(count(lit(1)).as("__nn"))
    val perDoc = dc.join(cc, "__w")
      .groupBy(col(idCol))
      .agg(sum(col("c") * (lnMicro(col("c")) - lnMicro(col("cw")))).as("__s1"),
        sum(col("c")).as("n_tokens"))
    perDoc.crossJoin(broadcast(nTot))
      .select(col(idCol), col("n_tokens"),
        (col("__s1") + col("n_tokens") *
          (lnMicro(col("__nn")) - lnMicro(col("n_tokens")))).as("kl_sum_micro"))
      .withColumn("kl_micro",
        col("kl_sum_micro").cast("double") / col("n_tokens").cast("double"))
  }

  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val grams = graft.Parallelism.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(TextFns.shingles(col(textCol), n)).as("__g"))
    val tf = grams.groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__tf"))
    tf.groupBy(col(idCol)).agg(
        sum(col("__tf")).as("n_ngrams"),
        max(col("__tf")).as("top_ngram_n"),
        count(lit(1)).as("__distinct"))
      .select(col(idCol), col("n_ngrams"), col("top_ngram_n"),
        (lit(1.0) - col("__distinct").cast("double") /
          col("n_ngrams").cast("double")).as("dup_ngram_ratio"))
  }

  /** Corpus-repeated SPAN coverage — the measurement step of exact
    * substring deduplication (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022): a token position is
    * COVERED when any word n-gram through it occurs in more than
    * `maxDocFreq` distinct documents. Returns per document
    * (id, n_tokens, n_covered, keep_ratio) — the removal step is then a
    * caller-side trim of covered positions.
    *
    * Scale shape: positional grams shuffle once on the gram hash for the
    * document-frequency count and once more for the coverage join — the
    * same inverted-index discipline as [[graft.operators.Dedup]]; no
    * per-pair work anywhere (cost is Σ df, not Σ df²). Both the gram
    * relation and the token base are cached: each feeds two branches.
    * keep_ratio is one exact IEEE division of integer counts (null for
    * zero-token docs — ANSI-safe).
    */
  def repeatedSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxDocFreq: Int): DataFrame = {
    val toks = graft.CacheScope.register(
      graft.Parallelism.fanOut(docs.select(col(idCol), col(textCol)))
        .select(col(idCol), TextFns.tokens(col(textCol)).as("__t"))
        .select(col(idCol), size(col("__t")).as("n_tokens"), col("__t")))
    val grams = graft.CacheScope.register(
      toks.select(col(idCol),
          posexplode(TextFns.shinglesOfTokens(col("__t"), n)).as(Seq("pos", "__g")))
        .select(col(idCol), col("pos"), Hashing.h60(col("__g")).as("gh")))
    val repeated = grams.select(col(idCol), col("gh")).distinct()
      .groupBy("gh").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .select("gh")
    val covered = grams.join(repeated, "gh")
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("__tp"))
      .distinct()
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_covered"))
    toks.select(col(idCol), col("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        when(col("n_tokens") =!= 0,
          lit(1.0) - coalesce(col("n_covered"), lit(0L)).cast("double") /
            col("n_tokens").cast("double")).as("keep_ratio"))
  }

  /** Exact substring DEDUPLICATION — the removal step completing
    * [[repeatedSpanCoverage]] (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022: drop every span that the
    * corpus repeats, keep the rest of the document). A token position is
    * removed when any word `n`-gram through it occurs in more than
    * `maxDocFreq` DISTINCT documents; the surviving tokens are re-joined
    * in order. Returns (id, n_tokens, cleaned_text, removed_tokens) — a
    * fully-duplicated document comes back with cleaned_text = "" rather
    * than disappearing, so callers can distinguish "all boilerplate"
    * from "missing".
    *
    * Unlike q146's content-defined chunk dedup, the positional-gram index
    * sees spans that STRADDLE any chunk boundary: coverage is per token
    * position, not per chunk, so a duplicated run split across two chunks
    * is still removed in full.
    *
    * Scale shape: the df count and the coverage join are [[repeatedSpanCoverage]]'s
    * inverted-index discipline (Σdf cost, never pairwise). Reassembly
    * explodes tokens once and collapses them back with one id-keyed
    * aggregate whose state is bounded by the document's own length
    * (sorted (pos, token) structs) — token-volume shuffles, all codegen,
    * no per-element lambda in the df/coverage path. The same 60-bit
    * oracle-replayable gram hash as the dedup family.
    */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxDocFreq: Int = 1): DataFrame = {
    val toks = graft.CacheScope.register(
      graft.Parallelism.fanOut(docs.select(col(idCol), col(textCol)))
        .select(col(idCol), TextFns.tokens(col(textCol)).as("__t"))
        .select(col(idCol), size(col("__t")).as("n_tokens"), col("__t")))
    val grams = graft.CacheScope.register(
      toks.select(col(idCol),
          posexplode(TextFns.shinglesOfTokens(col("__t"), n)).as(Seq("pos", "__g")))
        .select(col(idCol), col("pos"), Hashing.h60(col("__g")).as("gh")))
    val repeated = grams.select(col(idCol), col("gh")).distinct()
      .groupBy("gh").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .select("gh")
    val covered = grams.join(repeated, "gh")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("__tp"))
      .distinct()
    val posToks = toks.select(col(idCol),
      posexplode(col("__t")).as(Seq("__tp", "__tok")))
    val kept = posToks.join(covered, Seq(idCol, "__tp"), "left_anti")
    val cleaned = kept.groupBy(col(idCol))
      .agg(array_join(
          transform(array_sort(collect_list(struct(col("__tp"), col("__tok")))),
            s => s.getField("__tok")), " ").as("__cleaned"),
        count(lit(1)).as("__n_kept"))
    toks.select(col(idCol), col("n_tokens"))
      .join(cleaned, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("__cleaned"), lit("")).as("cleaned_text"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L)))
          .as("removed_tokens"))
  }

  /** Composite Gopher-style quality gate (Rae et al., "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher", 2021,
    * §A1.1.1): a document passes only if every rule holds, and each
    * failure is NAMED so the filter is auditable — the pipeline property
    * you need when a threshold change moves billions of documents.
    * Rules (thresholds scaled to the corpus at hand):
    *   - `word_count`:    minTokens ≤ n_tokens ≤ maxTokens
    *   - `mean_word_len`: mean token length within [minMeanLen, maxMeanLen]
    *   - `stopwords`:     at least `minStopKinds` DISTINCT stopwords occur
    *   - `repetition`:    top bigram ≤ (topFracNum/topFracDen) of bigrams
    *
    * Engine-exactness: mean length is one IEEE division of exact integer
    * counts (never a DECIMAL quantization — engines disagree on double →
    * decimal rounding); the repetition rule is cross-multiplied so it
    * compares integers only. Scale shape: the token-derived features are
    * a pure projection; only the bigram stats shuffle (the
    * [[repetitionSignals]] pair of aggregations), then one id-keyed join.
    *
    * Returns (id, n_tokens, passes, fail_reasons array<string> in fixed
    * rule order).
    */
  def gopherFilter(df0: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 50, maxTokens: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minStopKinds: Int = 2,
      topFracNum: Int = 3, topFracDen: Int = 50): DataFrame = {
    // ONE cached token relation feeds both the projection features and
    // the bigram stats — without it, repetitionSignals would re-read and
    // re-tokenize the corpus for a second full scan
    val df = graft.CacheScope.register(
      graft.Parallelism.fanOut(df0.select(col(idCol), col(textCol)))
        .withColumn("__toks", TextFns.tokens(col(textCol))))
    val nToks = size(col("__toks"))
    val mtl = when(nToks =!= 0,
      (length(col(textCol)) - (nToks - lit(1))).cast("double") / nToks.cast("double"))
    val stopKinds = size(array_intersect(array_distinct(col("__toks")),
      array(TextFns.stopwords.map(lit): _*)))
    val feat = df.select(col(idCol), nToks.as("n_tokens"), mtl.as("__mtl"),
      stopKinds.as("__stops"))
    // same aggregation shape as repetitionSignals(n = 2), derived from
    // the cached tokens instead of a fresh text scan
    val rep = df
      .select(col(idCol),
        explode(TextFns.shinglesOfTokens(col("__toks"), 2)).as("__g"))
      .groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__tf"))
      .groupBy(col(idCol))
      .agg(max(col("__tf")).as("top_ngram_n"), sum(col("__tf")).as("n_ngrams"))
    val wcOk = col("n_tokens").between(minTokens, maxTokens)
    val mlOk = col("__mtl").isNotNull &&
      col("__mtl") >= minMeanLen && col("__mtl") <= maxMeanLen
    val stopOk = col("__stops") >= minStopKinds
    // docs too short to have bigrams carry no repetition evidence → rule holds
    val repOk = col("top_ngram_n").isNull ||
      col("top_ngram_n") * topFracDen <= col("n_ngrams") * topFracNum
    feat.join(rep, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (wcOk && mlOk && stopOk && repOk).as("passes"),
        array_compact(array(
          when(!wcOk, lit("word_count")),
          when(!mlOk, lit("mean_word_len")),
          when(!stopOk, lit("stopwords")),
          when(!repOk, lit("repetition")))).as("fail_reasons"))
  }

  /** Context-window chunking: split each document into token windows of
    * `window` tokens advancing by `stride` (overlap = window - stride),
    * the standard prep for fixed-context training and RAG indexing.
    * Chunk starts are 0, stride, 2·stride, …; the chunk count is
    * 1 for n ≤ window, else (n - window + stride - 1) / stride + 1
    * (integer arithmetic — both engines compute it exactly), so the last
    * chunk always reaches the end of the document and may be short, and
    * no chunk is a pure subset of its predecessor.
    *
    * Output: (id, chunk_idx, n_chunk_tokens, chunk_text). Pure
    * projection + explode — no shuffle; data amplification is
    * ~window/stride, the caller's overlap choice.
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    val nChunks = when(col("__n") <= window, lit(1))
      .otherwise(floor((col("__n") - window + (stride - 1)) / stride).cast("int") + 1)
    graft.Parallelism.fanOut(df.select(col(idCol), col(textCol)))
      .withColumn("__toks", TextFns.tokens(col(textCol)))
      .withColumn("__n", size(col("__toks")))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => slice(col("__toks"), i * stride + 1, lit(window)))))
      .withColumnRenamed("pos", "chunk_idx")
      .select(col(idCol), col("chunk_idx"),
        size(col("col")).as("n_chunk_tokens"),
        array_join(col("col"), " ").as("chunk_text"))
  }

  def packSequences(df: DataFrame, idCol: String, textCol: String,
      shardCol: String, tokenBudget: Int): DataFrame = {
    require(tokenBudget > 0, s"tokenBudget must be positive: $tokenBudget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    graft.Parallelism.fanOut(df.select(col(idCol), col(shardCol), col(textCol)))
      .withColumn("n_tokens", size(TextFns.tokens(col(textCol))).cast("long"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .select(col(idCol), col(shardCol), col("n_tokens"),
        floor((col("__cum") - col("n_tokens")) / tokenBudget).as("seq_id"))
  }

  /** Winnowing document fingerprints (the MOSS algorithm, Schleimer et al.
    * SIGMOD'03): hash every overlapping k-token shingle, slide a
    * w-position window over the hash sequence, keep each window's MINIMUM
    * hash; the distinct kept hashes are the document's fingerprints.
    * Guarantee: two documents sharing a run of >= w+k-1 tokens share at
    * least one fingerprint, while only ~2/(w+1) of positions are stored —
    * the rolling-hash sketch for containment/plagiarism-style matching
    * (where set-based MinHash answers whole-document similarity instead).
    *
    * Documents with fewer than w shingles keep their single global min, so
    * short docs still fingerprint. Plan shape: one shuffle on the doc id
    * (the per-doc position window), one partial-aggregated distinct —
    * output volume ~n/w per doc, never the full shingle stream.
    * Oracle-replayable: h60 shingle hash + the same SQL window min.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    val grams = graft.Parallelism.fanOut(
        docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        posexplode(TextFns.shingles(col("__t"), k)).as(Seq("pos", "gram")))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    val nWin = org.apache.spark.sql.expressions.Window.partitionBy("id")
    grams
      .select(col("id"), col("pos"),
        min(graft.functions.Hashing.h60(col("gram"))).over(win).as("fp"),
        count(lit(1)).over(win).as("__full"),
        count(lit(1)).over(nWin).as("__n"))
      .filter(col("__full") === w || (col("__n") < w && col("pos") === 0))
      .select("id", "fp").distinct()
  }

  /** Segment-level dedup (the CCNet/RefinedWeb paragraph-dedup stage,
    * adapted to unstructured text): split each document into consecutive
    * `segTokens`-token segments, drop every segment that occurs in more
    * than `maxDocFreq` distinct documents corpus-wide, and reassemble the
    * survivors in order. Catches boilerplate shared across documents
    * (headers, navboxes, license blocks) that document-level dedup can
    * never remove because the surrounding text differs.
    *
    * Output per doc: (id, n_segments, n_kept, kept_text) — `kept_text`
    * null when every segment was boilerplate (the doc is pure template).
    *
    * Scale shape: segments travel as 60-bit hashes into ONE
    * document-frequency aggregate (distinct (doc, hash) postings, then a
    * count per hash), joined back on the hash — both shuffles are keyed by
    * the segment hash, the same skew-safe domain the fuzzy-dedup paths
    * use; reassembly is a per-doc aggregate. No pair join, no driver
    * state. The oracle replays the identical h60 hashing.
    */
  def dedupSegments(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int, maxDocFreq: Int = 1): DataFrame = {
    require(segTokens >= 1, s"segTokens must be positive: $segTokens")
    require(maxDocFreq >= 1, s"maxDocFreq must be positive: $maxDocFreq")
    val segs = graft.Parallelism.fanOut(df.select(col(idCol), col(textCol)))
      .withColumn("__toks", TextFns.tokens(col(textCol)))
      .withColumn("__n", size(col("__toks")))
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(0), floor((col("__n") - 1) / segTokens).cast("int")),
          i => array_join(slice(col("__toks"), i * segTokens + 1, lit(segTokens)), " ")))
          .as(Seq("pos", "seg")))
      .withColumn("__h", graft.functions.Hashing.h60(col("seg")))
    val dfreq = segs.select(col(idCol), col("__h")).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__df"))
    val kept = col("__df") <= maxDocFreq
    segs.join(dfreq, "__h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(kept, struct(col("pos"), col("seg"))))),
          x => x.getField("seg")), " ").as("__joined"))
      .withColumn("kept_text", when(col("n_kept") > 0, col("__joined")))
      .drop("__joined")
  }

  /** Lexical-richness statistics per document: token count, distinct-type
    * count, hapax-legomenon count (tokens occurring exactly once in the
    * doc), and type-token ratio — the cheap vocabulary-diversity signals
    * (low TTR = repetitive/templated text; used alongside
    * [[repetitionSignals]] in quality filtering). `ttr` is one exact IEEE
    * division of two exact counts — bit-identical across engines.
    *
    * Two shuffles: (doc, token) count, then the per-doc aggregate — the
    * same shape as [[repetitionSignals]]; no driver state.
    */
  def lexicalStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = graft.Parallelism.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(TextFns.tokens(col(textCol))).as("__tok"))
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__tf"))
    tf.groupBy(col(idCol)).agg(
        sum(col("__tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__tf") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr", col("n_types").cast("double") / col("n_tokens"))
  }

  /** Character-distribution entropy per document — the gibberish/spam
    * detector among the quality signals (natural text sits near the
    * language's characteristic char entropy; keyboard-mash and
    * single-char spam fall far below, base64 blobs far above). Computed
    * over non-whitespace characters of the lowercased text.
    *
    * Exactness: entropy in micro-nats is returned as the INTEGER
    *   ent_micro_sum = n·L(n) − Σ_c k_c·L(k_c),  L(x) = round(ln(x)·1e6),
    * which equals n · H(doc) in micro-nats up to per-term rounding — every
    * ln is taken of an integer both engines agree on and rounded to
    * micro-units before any arithmetic (the q62 libm-proofing pattern), so
    * the result is bit-exact cross-engine. Divide by n for mean entropy.
    *
    * Two shuffles: (doc, char) count, then the per-doc aggregate. Docs
    * that are all whitespace have no characters and are absent.
    */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def lmicro(c: Column): Column = round(log(c.cast("double")) * 1e6).cast("long")
    val chars = graft.Parallelism.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(split(regexp_replace(lower(trim(col(textCol))), "\\s", ""), ""))
          .as("__ch"))
      .filter(length(col("__ch")) > 0)
    val k = chars.groupBy(col(idCol), col("__ch")).agg(count(lit(1)).as("__k"))
    k.groupBy(col(idCol)).agg(
        sum(col("__k")).as("__n"),
        sum(col("__k") * lmicro(col("__k"))).as("__sum_klk"))
      .select(col(idCol), col("__n").as("n_chars_nospace"),
        (col("__n") * lmicro(col("__n")) - col("__sum_klk")).as("ent_micro_sum"))
  }

  /** N-gram novelty: per document, the fraction of its DISTINCT word
    * n-grams that occur in no other document — high novelty = original
    * prose, low novelty = boilerplate/templated/duplicated content (the
    * corpus-level complement of [[repetitionSignals]]' within-doc view;
    * a standard web-curation quality signal).
    *
    * Plan shape: the posting relation (one row per distinct (doc, gram))
    * gets its corpus document-frequency via a window count over the gram
    * hash — ONE shuffle, whose partitioning-by-gram is exactly what the
    * fuzzy-dedup paths also key on — then a per-doc aggregate (second
    * shuffle on doc id). Nothing is ever joined against the cross
    * product, and the gram strings themselves travel as 60-bit hashes.
    * novelty = exact double division of two exact counts.
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val sh = Dedup.shingleSets(docs, idCol, textCol, n)
    val withDf = sh.withColumn("__df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("sh")))
    withDf.groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty",
        col("n_unique").cast("double") / col("n_grams"))
  }

  /** Sparse lexical cosine near-dup: pairwise document cosine over
    * TF-IDF weights, computed through the INVERTED INDEX — a pair is
    * scored only if it shares at least one surviving term, and every
    * term's posting list is bounded by `dfCap` (terms in more than
    * `dfCap` documents are stop-terms for near-dup purposes and are
    * pruned — the standard rare-term trick that also bounds the
    * self-join fan-out to Σ df² ≤ dfCap·Σ df, skew-proof without
    * salting). Complements the embedding cosine paths (q25) with a
    * lexical signal that needs no model.
    *
    * Engine-exactness: weights are the q58 smoothed TF-IDF quantized to
    * MILLI-unit integers (round(tf·idf·1e3) as long — the one ln() is
    * quantized away exactly as in [[tfidfTopTerms]]); dot products and
    * norms are then exact integer sums (bounded: w ≤ ~1e7, w² ≤ 1e14,
    * corpus-safe vs the 9.2e18 long range), and the final cosine is
    * int→double conversion, sqrt, multiply, divide — all IEEE
    * correctly-rounded, so both engines emit identical doubles.
    *
    * Returns (id_a, id_b, cos) for pairs with cosine ≥ `minCos`.
    */
  def sparseCosinePairs(docs: DataFrame, idCol: String, textCol: String,
      dfCap: Int, minCos: Double): DataFrame = {
    require(dfCap > 0, s"dfCap must be positive: $dfCap")
    val tf = graft.Parallelism.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        explode(graft.functions.TextFns.tokens(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    val n = docs.select(countDistinct(col(idCol)).as("__n"))
    val postings = graft.CacheScope.register(
      tf.join(idf, "term").crossJoin(broadcast(n))
        .select(col("id"), col("term"),
          round(col("tf") * (log((col("__n") + 1).cast("double") / (col("df") + 1)) + 1)
            * 1e3).cast("long").as("w")))
    val norms = postings.groupBy("id").agg(sum(col("w") * col("w")).as("n2"))
    val a = postings.select(col("term"), col("id").as("id_a"), col("w").as("__wa"))
    val b = postings.select(col("term"), col("id").as("id_b"), col("w").as("__wb"))
    a.join(b, "term").where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(sum(col("__wa") * col("__wb")).as("__dot"))
      .join(norms.select(col("id").as("id_a"), col("n2").as("__na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("n2").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("__dot").cast("double") /
          (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))))
          .as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Corpus n-gram diversity (distinct-n over total-n, n = 1..`maxN`) per
    * group — the Self-BLEU-adjacent repetitiveness diagnostic for
    * generated or templated data: a corpus whose trigram diversity
    * collapses is repeating itself even when each document individually
    * looks clean ([[repetitionSignals]] is the within-doc view; this is
    * the corpus view).
    *
    * Plan shape: n-grams are formed as a pure projection per document
    * (transform over the token array — no window, no join), then one
    * (group, n)-keyed count + distinct-count aggregate; the distinct
    * shuffle keys on the gram itself, which is exactly how the dedup
    * paths partition, and output is ≤ |groups|·maxN rows. diversity is
    * an exact double division of two exact counts.
    */
  def ngramDiversity(docs: DataFrame, groupCol: String, textCol: String,
      maxN: Int): DataFrame = {
    require(maxN >= 1, s"maxN must be >= 1: $maxN")
    val toks = graft.Parallelism.fanOut(docs.select(col(groupCol), col(textCol)))
      .select(col(groupCol), graft.functions.TextFns.tokens(col(textCol)).as("__l"))
    val grams = (1 to maxN).map { n =>
      toks.filter(size(col("__l")) >= n)
        .select(col(groupCol), lit(n).as("n"),
          explode(transform(sequence(lit(0), size(col("__l")) - n),
            i => concat_ws(" ", slice(col("__l"), i + lit(1), lit(n))))).as("__g"))
    }.reduce(_ unionByName _)
    grams.groupBy(col(groupCol), col("n"))
      .agg(count(lit(1)).as("n_total"), countDistinct(col("__g")).as("n_distinct"))
      .withColumn("diversity",
        col("n_distinct").cast("double") / col("n_total"))
  }

  /** Pairwise vocabulary Jaccard between groups: |Va ∩ Vb| over
    * |Va ∪ Vb| from the distinct (group, token) posting relation — the
    * lexical face of the corpus-overlap audit (q144 is the embedding
    * face, q116 the shingle face). Per-token fan-out in the intersection
    * join is bounded by the GROUP count (≤ |groups|² pairs per token),
    * never the corpus size — the q116 argument.
    */
  def vocabJaccard(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val post = graft.CacheScope.register(graft.Parallelism.fanOut(
        docs.select(col(groupCol).as("grp"), col(textCol).as("__t")))
      .select(col("grp"), explode(TextFns.tokens(col("__t"))).as("tok"))
      .distinct())
    val sizes = post.groupBy("grp").agg(count(lit(1)).as("sz"))
    val inter = post.as("a").join(post.as("b"),
        col("a.tok") === col("b.tok") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("grp", "grp_a")
        .withColumnRenamed("sz", "sz_a"), "grp_a")
      .join(sizes.withColumnRenamed("grp", "grp_b")
        .withColumnRenamed("sz", "sz_b"), "grp_b")
      .select(col("grp_a"), col("grp_b"), col("inter"),
        col("sz_a"), col("sz_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
  }

  /** Content-defined chunking (CDC) dedup: chunk boundaries are cut where
    * the rolling `gramLen`-token hash satisfies h % `avgChunk` == 0, so
    * boundaries depend on CONTENT, not position — one inserted token
    * shifts every fixed segment (q82's dedupSegments misses everything)
    * but CDC boundaries re-synchronize right after the edit, which is
    * why production dedup/storage systems chunk this way. Emits chunks
    * shared by >= 2 documents with occurrence stats.
    *
    * Scale shape: one corpus scan; the per-doc cumulative-cut window and
    * the chunk re-assembly buffer are bounded by a single document's
    * length (the q47/q56 per-doc window contract); the dup aggregate is
    * keyed by the 60-bit chunk hash — the skew-safe domain all the
    * fingerprint dedup paths share. Expected chunk length is `avgChunk`
    * grams, tunable per corpus.
    */
  /** CDC chunk INSTANCES: one row per (doc, chunk) with the chunk's
    * 60-bit content hash — the shared kernel of [[cdcDupChunks]] and
    * [[dupTokenShare]]. See cdcDupChunks for the boundary rule and scale
    * contract.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      gramLen: Int, avgChunk: Int): DataFrame = {
    require(gramLen >= 1 && avgChunk >= 2, s"bad CDC params: $gramLen/$avgChunk")
    val W = org.apache.spark.sql.expressions.Window
    val toks = graft.Parallelism.fanOut(
        df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), TextFns.tokens(col("__t")).as("__l"))
      .select(col("id"), col("__l"), posexplode(col("__l")).as(Seq("__p0", "tok")))
      .select(col("id"), (col("__p0") + 1).as("p"), col("tok"),
        when(col("__p0") + gramLen <= size(col("__l")),
          graft.functions.Hashing.h60(
            concat_ws(" ", slice(col("__l"), col("__p0") + 1, lit(gramLen)))))
          .as("__gh"))
      .select(col("id"), col("p"), col("tok"),
        when(col("__gh").isNotNull && pmod(col("__gh"), lit(avgChunk)) === 0, 1)
          .otherwise(0).as("__cut"))
    toks
      .withColumn("chunk_id", sum(col("__cut")).over(
        W.partitionBy("id").orderBy("p")))
      .groupBy(col("id"), col("chunk_id"))
      .agg(count(lit(1)).as("tok_len"),
        array_join(transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          s => s.getField("tok")), " ").as("__chunk"))
      .select(col("id"), col("chunk_id"), col("tok_len"),
        graft.functions.Hashing.h60(col("__chunk")).as("chunk_fp"))
  }

  def cdcDupChunks(df: DataFrame, idCol: String, textCol: String,
      gramLen: Int, avgChunk: Int): DataFrame =
    cdcChunks(df, idCol, textCol, gramLen, avgChunk)
      .groupBy("chunk_fp")
      .agg(min(col("tok_len")).as("tok_len"),
        countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("id")).as("example_doc"))
      .filter(col("n_docs") >= 2)

  /** Duplicate-token share per group: the fraction of each group's tokens
    * sitting inside CDC chunks shared by >= 2 documents corpus-wide —
    * "how much of this source would chunk-level dedup delete", the
    * impact metric that decides whether running the dedup is worth it.
    * Exact integer token counts; one double ratio at the end.
    */
  def dupTokenShare(df: DataFrame, idCol: String, groupCol: String,
      textCol: String, gramLen: Int, avgChunk: Int): DataFrame = {
    val inst = graft.CacheScope.register(
      cdcChunks(df, idCol, textCol, gramLen, avgChunk))
    val shared = inst.groupBy("chunk_fp")
      .agg(countDistinct(col("id")).as("__nd"))
      .select(col("chunk_fp"), (col("__nd") >= 2).as("__shared"))
    val grouped = df.select(col(idCol).as("id"), col(groupCol).as("grp"))
    inst.join(shared, "chunk_fp").join(grouped, "id")
      .groupBy("grp")
      .agg(sum(col("tok_len")).as("n_tokens"),
        sum(when(col("__shared"), col("tok_len")).otherwise(0L))
          .as("dup_tokens"))
      .select(col("grp"), col("n_tokens"), col("dup_tokens"),
        (col("dup_tokens").cast("double") / col("n_tokens")).as("dup_share"))
  }

  /** Suffix→prefix continuation candidates: pairs where doc A's last `k`
    * tokens equal doc B's first `k` tokens — how pagination/crawl
    * fragments of one original document are found and re-assembled
    * before dedup counts them as distinct documents. One projection
    * computes both k-token edges; the pair list is an equi-join on the
    * edge string, so candidate volume is bounded by edge-group sizes
    * (boilerplate edges can be df-capped upstream), never the corpus
    * pair count.
    */
  def stitchCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val toks = TextFns.tokens(col(textCol))
    val edges = graft.Parallelism.fanOut(
        df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), size(toks).as("__n"),
        concat_ws(" ", slice(toks, 1, k)).as("__head"),
        concat_ws(" ", slice(toks, -k, k)).as("__tail"))
      .filter(col("__n") >= k)
    edges.as("a").join(edges.as("b"),
        col("a.__tail") === col("b.__head") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_tail"), col("b.id").as("id_head"),
        col("a.__tail").as("overlap"))
  }

  /** Heaps-law vocabulary-growth curve: the corpus is cut into `nBuckets`
    * equal doc-id ranges and each bucket row reports the CUMULATIVE docs,
    * tokens, and distinct-vocabulary counts up through that bucket — the
    * curve data teams plot to decide whether more of a source still buys
    * new vocabulary. Distributed form: a token's contribution to the
    * cumulative vocab is fully determined by its MIN bucket (one groupBy),
    * so no prefix is ever re-scanned; the only window runs over the
    * nBuckets-row aggregate.
    */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame = {
    val bounds = docs.agg(max(col(idCol).cast("long")).as("__mx"))
    val toks = graft.Parallelism.fanOut(
        docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__t")))
      .crossJoin(broadcast(bounds))
      .select(col("doc_id"),
        expr(s"doc_id * $nBuckets DIV (__mx + 1)").as("bucket"),
        explode(TextFns.tokens(col("__t"))).as("tok"))
    val perBucket = toks.groupBy("bucket")
      .agg(count(lit(1)).as("toks"), countDistinct(col("doc_id")).as("docs"))
    val newVocab = toks.groupBy("tok").agg(min(col("bucket")).as("fb"))
      .groupBy(col("fb").as("bucket")).agg(count(lit(1)).as("new_vocab"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    perBucket.join(newVocab, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_vocab"))
      .select(col("bucket"),
        sum("docs").over(w).as("docs_cum"),
        sum("toks").over(w).as("tokens_cum"),
        sum("new_vocab").over(w).as("vocab_cum"))
  }

  /** Zipf rank-frequency slope per group: OLS of ln(freq) on ln(rank) over
    * each group's top-`topK` tokens. The ranked prefix comes from the
    * bounded [[graft.functions.MinKLongStringAggregator]] fed (-count,
    * token) — deterministic under count ties, at most topK rows per group
    * per task on the shuffle, no per-group vocabulary sort. Logs are
    * micro-unit integers (the q62 libm-proof pattern), so the slope is a
    * ratio of exactly-reproducible BIGINTs.
    */
  def zipfSlope(docs: DataFrame, groupCol: String, textCol: String,
      topK: Int): DataFrame = {
    val minK = udaf(new graft.functions.MinKLongStringAggregator(topK))
    val freq = graft.Parallelism.fanOut(
        docs.select(col(groupCol).as("grp"), col(textCol).as("__t")))
      .select(col("grp"), explode(TextFns.tokens(col("__t"))).as("tok"))
      .groupBy("grp", "tok").agg(count(lit(1)).as("c"))
    val ranked = freq.groupBy("grp")
      .agg(minK(-col("c"), col("tok")).as("__top"))
      .select(col("grp"), posexplode(col("__top")).as(Seq("__i", "__kv")))
      .select(col("grp"), (col("__i") + 1).cast("long").as("rnk"),
        (-col("__kv._1")).as("c"))
    val m = ranked.select(col("grp"),
      round(log(col("rnk")) * 1e6).cast("long").as("x"),
      round(log(col("c")) * 1e6).cast("long").as("y"))
    m.groupBy("grp").agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("grp"), col("n").as("n_ranks"),
        // a single-rank group has x=ln(1)=0 for its only row, so the OLS
        // denominator n*sxx - sx*sx is 0 and the ratio is 0/0 — emit an
        // explicit NULL (mirrored by the oracle's CASE) instead of letting
        // the engines serialize NaN differently (ADVICE r6)
        when(col("n") >= 2,
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"))
  }

  /** BM25-ranked keyword search (Okapi BM25, k1 = 1.2, b = 0.75): score
    * every document against a LITERAL term set and return the top `k` —
    * the retrieval face of the corpus (q58's TF-IDF builds doc vectors;
    * this ranks docs for a query, which is what decontamination triage
    * and eval-set curation actually run).
    *
    * Exactness: every input to the score is an exact integer (tf, df,
    * dl, N, S = Σdl), idf rides the micro-log grid
    * (`round(ln(·)·1e6)` — the q89/q105 pattern), and the tf
    * saturation is ONE pinned IEEE op sequence on those exact inputs
    * (the b/k1 rationals are cleared to integer coefficients:
    * tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) ≡ 22·tf·S / (10·S·tf + 3·S +
    * 9·N·dl)) — identical in any engine evaluating the same tree. The
    * per-term contribution is rounded to an integer ONCE, so the per-doc
    * sum over matched terms is an order-independent BIGINT sum.
    *
    * Scale shape: one token explode filtered to the query terms (the
    * inverted-index probe — rows ∝ postings of the queried terms, not
    * the corpus), one (doc, term) count, a broadcast |terms|-row df
    * join, and a TakeOrderedAndProject top-k. N and S are two driver
    * scalars from one aggregate.
    */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && k >= 1)
    val base = graft.CacheScope.register(
      docs.select(col(idCol).as("id"),
        TextFns.tokens(col(textCol)).as("__toks"))
        .withColumn("dl", size(col("__toks")).cast("long")))
    val tot = base.agg(count(lit(1)), sum(col("dl"))).first()
    val nDocs = tot.getLong(0)
    val sTokens = if (tot.isNullAt(1)) 0L else tot.getLong(1)
    require(nDocs > 0 && sTokens > 0, "bm25Search: empty corpus")
    val hits = base
      .select(col("id"), col("dl"), explode(col("__toks")).as("term"))
      .filter(col("term").isin(terms: _*))
    val tf = hits.groupBy("id", "dl", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val Nd = lit(nDocs.toDouble)
    val Sd = lit(sTokens.toDouble)
    val dfd = col("df").cast("double")
    val tfd = col("tf").cast("double")
    val dld = col("dl").cast("double")
    val idfMicro =
      round(log((Nd - dfd + lit(0.5)) / (dfd + lit(0.5)) + lit(1.0)) * 1e6)
        .cast("long")
    tf.join(broadcast(df.select(col("term"), idfMicro.as("__idf"))), "term")
      .withColumn("__c", round(
        col("__idf").cast("double") * (lit(22.0) * tfd * Sd) /
          (lit(10.0) * Sd * tfd + lit(3.0) * Sd + lit(9.0) * Nd * dld))
        .cast("long"))
      .groupBy("id")
      .agg(sum(col("__c")).as("score_micro"), count(lit(1)).as("n_terms"))
      .orderBy(desc("score_micro"), col("id"))
      .limit(k)
  }

  /** Collocation mining: top-k adjacent bigrams by pointwise mutual
    * information — "which word pairs are a unit" (of the bigram family:
    * q105's LM wants P(w2|w1) for scoring; PMI wants the association
    * strength itself, normalized by BOTH unigram frequencies, so
    * stopword-stopword pairs rank low however common).
    *
    * PMI = ln(P(ab)/(P(a)P(b))) over the exact counts: pmi_micro =
    * lnµ(n_ab) + 2·lnµ(N) − lnµ(B) − lnµ(n_a) − lnµ(n_b) (N tokens, B
    * bigram slots, both from docs with ≥2 tokens) — the micro-log
    * integer identity (q110/q163 scheme), engine-exact.
    *
    * Scale shape: one cached token relation feeds both count families
    * (corpus tokenized once); the min-count filter lands BEFORE the
    * unigram joins, so the join fan-in is the candidate set, not the
    * bigram vocabulary; top-k is a TakeOrderedAndProject, never a global
    * sort of the vocabulary.
    */
  def bigramPmi(docs: DataFrame, textCol: String, minCount: Long,
      k: Int): DataFrame = {
    require(minCount >= 1 && k >= 1)
    def lnM(c: Column): Column = round(log(c.cast("double")) * 1e6).cast("long")
    val toks = graft.CacheScope.register(
      graft.Parallelism.fanOut(docs.filter(col(textCol).isNotNull)
          .select(col(textCol)))
        .select(TextFns.tokens(col(textCol)).as("__t"))
        .filter(size(col("__t")) >= 2))
    val totals = broadcast(toks.agg(
      sum(size(col("__t")).cast("long")).as("n_tok"),
      sum((size(col("__t")) - 1).cast("long")).as("n_big")))
    val uni = toks.select(explode(col("__t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("nw"))
    val big = toks
      .select(explode(TextFns.shinglesOfTokens(col("__t"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("nab"))
      .filter(col("nab") >= minCount)
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"), col("nab"))
    big
      .join(uni.select(col("w").as("w1"), col("nw").as("na")), "w1")
      .join(uni.select(col("w").as("w2"), col("nw").as("nb")), "w2")
      .crossJoin(totals)
      .select(col("w1"), col("w2"), col("nab"), col("na"), col("nb"),
        (lnM(col("nab")) + lnM(col("n_tok")) * 2 - lnM(col("n_big"))
          - lnM(col("na")) - lnM(col("nb"))).as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Per-source Flesch-style readability from deterministic surface
    * counts — the classic reading-ease face of the quality family
    * (Gopher/entropy measure noise; this measures *difficulty*).
    *
    * Syllables are approximated by maximal vowel-group runs
    * `[aeiouyAEIOUY]+` (the standard regex proxy; no dictionary, so the
    * count is reproducible in ANY engine), words by `[A-Za-z]+` runs,
    * sentences by terminal-punctuation runs `[.!?]+` clamped to ≥ 1 per
    * document. Emitted ×1000 (flesch_milli = 206835 − 1015·(W/S) −
    * 84600·(V/W)) so every constant is an integer-valued double —
    * decimal literals round differently across engines; integers don't.
    * Computed left-to-right over the exact BIGINT totals — a pinned IEEE
    * op sequence, engine-identical.
    *
    * Scale shape: three codegen'd regexp counts per document (one scan,
    * map-side), one aggregation to the |sources| grid. No token
    * explosion — counts never materialize match arrays in the Spark
    * plan.
    */
  def readability(docs: DataFrame, sourceCol: String,
      textCol: String): DataFrame = {
    val txt = col(textCol)
    val perDoc = docs.filter(txt.isNotNull)
      .select(col(sourceCol).as("source"),
        greatest(regexp_count(txt, lit("[.!?]+")), lit(1)).cast("long")
          .as("__s"),
        regexp_count(txt, lit("[A-Za-z]+")).cast("long").as("__w"),
        regexp_count(txt, lit("[aeiouyAEIOUY]+")).cast("long").as("__v"))
    val agg = perDoc.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("__s").as("n_sentences"),
      sum("__w").as("n_words"),
      sum("__v").as("n_vowel_groups"))
    val sd = col("n_sentences").cast("double")
    val wd = col("n_words").cast("double")
    val vd = col("n_vowel_groups").cast("double")
    agg.select(col("source"), col("n_docs"), col("n_sentences"),
      col("n_words"), col("n_vowel_groups"),
      when(col("n_words") > 0,
        lit(206835.0) - lit(1015.0) * (wd / sd) - lit(84600.0) * (vd / wd))
        .as("flesch_milli"))
  }

  /** Pairwise JENSEN-SHANNON divergence between every two groups'
    * unigram distributions — the symmetric, always-finite member of the
    * distribution-distance family ([[unigramKl]] is per-doc-vs-corpus
    * and blows up on unshared support; q139's PSI needs a bucket grid;
    * JS is THE mixture-design distance: "how far apart are these two
    * sources' vocabularies, in nats?").
    *
    * With per-group counts a_w (total A) and b_w (total B),
    *   JS = ½·Σ (a_w/A)·ln(2·a_w·B / (a_w·B + b_w·A))
    *      + ½·Σ (b_w/B)·ln(2·b_w·A / (b_w·A + a_w·B))
    * — every log ARGUMENT is a product of exact counts (< 2^53, exact in
    * a double), so both engines round the same micro-log grid
    * (L(x) = round(ln(x)·1e6), the [[unigramKl]] convention) and weight
    * it by exact integer counts; tokens absent from the other group
    * contribute their L(2·c·N) − L(c·N) ≈ ln 2 term with NO infinities
    * (JS ≤ ln 2 always). The directional sums are exact BIGINTs; the
    * only floats are the two pinned final divisions.
    *
    * Scale shape: one shuffle to the (group, token) count grid; the
    * direction relation is vocab × (k−1) groups rows (k = |groups|,
    * bounded), anchored by a broadcast of the k-row totals; never a
    * token-level pair join across raw rows.
    *
    * Returns per unordered pair: (group_a, group_b, n_tokens_a,
    * n_tokens_b, js_sum_a_micro, js_sum_b_micro, js_nats) with
    * js_nats = (S_a/A + S_b/B) / 2 / 1e6.
    */
  def jsDivergencePairwise(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val toks = graft.Parallelism.fanOut(df.select(col(groupCol), col(textCol)))
      .filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("g"), explode(TextFns.tokens(col(textCol))).as("__w"))
    val counts = graft.CacheScope.register(
      toks.groupBy("g", "__w").agg(count(lit(1)).as("c")))
    val totals = counts.groupBy("g").agg(sum("c").cast("long").as("n"))
    def lnMicro(c: Column): Column =
      round(log(c.cast("double")) * 1e6).cast("long")
    // directional rows: every token of group ga against every OTHER
    // group gb (vocab × (k−1) rows; missing other-side count → 0)
    val dir = counts
      .join(broadcast(totals.select(col("g").as("ga"), col("n").as("na"))),
        col("g") === col("ga"))
      .join(broadcast(totals.select(col("g").as("gb"), col("n").as("nb"))),
        col("ga") =!= col("gb"))
      .join(counts.select(col("g").as("gb"), col("__w"), col("c").as("cb")),
        Seq("gb", "__w"), "left")
      .select(col("ga"), col("gb"), col("na"), col("nb"), col("c"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    // log args multiply IN DOUBLE: a LongType product (c·nb) silently
    // wraps negative past 2^63 and log() of it returns null, dropping
    // terms — in double the product is exact below 2^53 (same micro-log
    // grid as the BIGINT route) and merely rounds above, never wraps
    def d(c: Column): Column = c.cast("double")
    val sums = dir.groupBy("ga", "gb", "na", "nb")
      .agg(sum(col("c") * (lnMicro(d(col("c")) * 2 * d(col("nb")))
          - lnMicro(d(col("c")) * d(col("nb")) + d(col("cb")) * d(col("na")))))
        .cast("long").as("s"))
    sums.filter(col("ga") < col("gb")).as("f")
      .join(sums.filter(col("ga") > col("gb")).as("r"),
        col("f.ga") === col("r.gb") && col("f.gb") === col("r.ga"))
      .select(col("f.ga").as("group_a"), col("f.gb").as("group_b"),
        col("f.na").as("n_tokens_a"), col("f.nb").as("n_tokens_b"),
        col("f.s").as("js_sum_a_micro"), col("r.s").as("js_sum_b_micro"),
        ((col("f.s").cast("double") / col("f.na").cast("double")
          + col("r.s").cast("double") / col("f.nb").cast("double"))
          / lit(2.0) / lit(1e6)).as("js_nats"))
      .orderBy("group_a", "group_b")
  }

  /** TEXTRANK keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the word CO-OCCURRENCE graph — adjacent-token bigrams become edges
    * (kept at co-count ≥ `minCo` so hapax noise never enters the graph),
    * and [[Graphs.pageRank]]'s exact integer fixed point ranks the
    * words. The corpus-keyword signal raw frequency misses: a word
    * co-occurring with many DIFFERENT central words outranks one
    * repeated inside a single template.
    *
    * Engine parity: bigrams are the 2-shingle relation (identical to
    * the oracle's `l[i] || ' ' || l[i+1]` expansion), word node ids are
    * [[graft.functions.Hashing.h60]] (md5-replayable), and the rank is
    * pageRank's BIGINT micro grid — so the whole extraction, graph and
    * ranks included, is value-pinned. Ordering (rank DESC, word) makes
    * the top-k cut deterministic in both engines.
    *
    * Scale shape: one token-bigram scan (the grams projection) to a
    * vocabulary² -bounded co-occurrence grid, then pageRank on a graph
    * whose size is VOCABULARY-bounded, not corpus-bounded — the whole
    * point of graph-of-words methods at 100 TB.
    *
    * Returns the top `topK` rows (word, rank_micro).
    */
  def textRankKeywords(docs: DataFrame, textCol: String, minCo: Long,
      iters: Int, topK: Int): DataFrame = {
    require(minCo >= 1 && topK >= 1)
    val bi = graft.CacheScope.register(
      graft.Parallelism.fanOut(docs.select(col(textCol).as("__t")))
        .select(explode(TextFns.shingles(col("__t"), 2)).as("g"))
        .select(split(col("g"), " ").getItem(0).as("wa"),
          split(col("g"), " ").getItem(1).as("wb"))
        .filter(col("wa") =!= col("wb"))
        .groupBy("wa", "wb").agg(count(lit(1)).as("co"))
        .filter(col("co") >= minCo))
    val words = graft.CacheScope.register(
      bi.select(col("wa").as("w")).union(bi.select(col("wb"))).distinct()
        .select(Hashing.h60(col("w")).as("id"), col("w")))
    val edges = bi.select(Hashing.h60(col("wa")).as("id_a"),
      Hashing.h60(col("wb")).as("id_b"))
    Graphs.pageRank(words.select("id"), "id", edges, "id_a", "id_b", iters)
      .join(words, "id")
      .orderBy(desc("rank_micro"), col("w"))
      .limit(topK)
      .select(col("w").as("word"), col("rank_micro"))
  }

  /** COUNT-MIN SKETCH of the token frequency distribution, probed at the
    * top-k true-frequency tokens — the fixed-memory (depth × width
    * counters) frequency summary whose one-sided error contract
    * (estimate ≥ truth, always; overshoot bounded by colliding mass) is
    * what a 100 TB pipeline keeps when the exact vocabulary grid no
    * longer fits. Hash rows use the seeded cross-engine [[Hashing.h60]]
    * family, so the ORACLE REPLAYS THE SKETCH EXACTLY — estimates are
    * value-checked, not just bound-checked.
    *
    * Scale shape: one map-side-combined shuffle to the vocabulary grid
    * (the sketch is a LINEAR function of token counts, so building it
    * from the grid is identical to streaming raw increments — and
    * cheaper); the sketch itself is depth·width rows, mergeable by
    * construction; probes are a broadcast top-k join against it. Raw
    * rows are scanned once.
    *
    * Returns top-k rows ordered by (true_count desc, token):
    * (token, true_count, est_count, never_under) — never_under is the
    * CMS one-sided guarantee and must be uniformly true.
    */
  def countMinSketch(df: DataFrame, textCol: String, depth: Int,
      width: Int, topK: Int): DataFrame = {
    require(depth >= 1 && width >= 2 && topK >= 1,
      s"bad CMS shape: depth=$depth width=$width topK=$topK")
    val vocab = graft.CacheScope.register(
      graft.Parallelism.fanOut(df.select(col(textCol)))
        .select(explode(TextFns.tokens(col(textCol))).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok").agg(count(lit(1)).as("c")))
    // sketch(r, b) = Σ counts of tokens hashing to bucket b in row r —
    // a linear sketch, so the vocabulary grid builds it exactly
    val rows = (0 until depth).map { r =>
      vocab.select(lit(r).as("r"),
        pmod(Hashing.h60(col("tok"), r), lit(width.toLong)).as("b"),
        col("c"))
    }
    val sketch = rows.reduce(_ unionAll _)
      .groupBy("r", "b").agg(sum("c").cast("long").as("cell"))
    val probes = vocab.orderBy(desc("c"), col("tok")).limit(topK)
    val probeCells = (0 until depth).map { r =>
      probes.select(col("tok"), col("c"), lit(r).as("r"),
        pmod(Hashing.h60(col("tok"), r), lit(width.toLong)).as("b"))
    }.reduce(_ unionAll _)
    probeCells.join(sketch, Seq("r", "b"))
      .groupBy("tok", "c").agg(min("cell").as("est_count"))
      .select(col("tok").as("token"), col("c").as("true_count"),
        col("est_count"),
        (col("est_count") >= col("c")).as("never_under"))
      .orderBy(desc("true_count"), col("token"))
  }

  /** COUNT-MIN SKETCH MERGE LAW, audited end-to-end: builds the sketch
    * independently on the even-id and odd-id document halves, merges by
    * cell-wise sum, and compares against the whole-corpus sketch —
    * EXACT equality is the linearity property that makes CMS the
    * incremental/distributed counter (per-partition sketches merge into
    * the global one with no error introduced by the merge itself). The
    * audit that must be green before anyone ships per-batch sketches
    * into a 100 TB incremental pipeline.
    *
    * Scale shape: three vocabulary-grid aggregates (whole + two halves
    * — the audit deliberately recomputes; production reuses the halves)
    * and a full-outer join of two depth·width-bounded cell relations.
    *
    * Returns one row: (n_cells, total_mass, n_mismatch, merge_exact) —
    * merge_exact must be true.
    */
  def cmsMergeCheck(df: DataFrame, idCol: String, textCol: String,
      depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad CMS shape: $depth x $width")
    def cells(d: DataFrame): DataFrame = {
      val vocab = graft.Parallelism.fanOut(d.select(col(textCol)))
        .select(explode(TextFns.tokens(col(textCol))).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok").agg(count(lit(1)).as("c"))
      (0 until depth).map { r =>
        vocab.select(lit(r).as("r"),
          pmod(Hashing.h60(col("tok"), r), lit(width.toLong)).as("b"),
          col("c"))
      }.reduce(_ union _)
        .groupBy("r", "b").agg(sum("c").cast("long").as("cell"))
    }
    val base = df.filter(col(idCol).isNotNull)
    val whole = cells(base)
    val merged = cells(base.filter(pmod(col(idCol), lit(2L)) === 0))
      .union(cells(base.filter(pmod(col(idCol), lit(2L)) === 1)))
      .groupBy("r", "b").agg(sum("cell").cast("long").as("cell"))
    whole.as("w").join(merged.as("m"), Seq("r", "b"), "full_outer")
      .agg(
        count(lit(1)).as("n_cells"),
        coalesce(sum(col("w.cell")), lit(0L)).cast("long").as("total_mass"),
        sum(when(coalesce(col("w.cell"), lit(-1L)) =!=
          coalesce(col("m.cell"), lit(-2L)), 1L).otherwise(0L))
          .cast("long").as("n_mismatch"))
      .withColumn("merge_exact", col("n_mismatch") === 0L)
  }

  /** FEATURE HASHING (the hashing trick) of the token space into a
    * fixed bucket count, reported as the per-bucket collision audit —
    * the dimensionality cap every large-scale text featurizer applies
    * when the vocabulary is unbounded. Bucket and sign both come from
    * the cross-engine [[Hashing.h60]] family (sign = ±1 from the low
    * bit of an independent seed), so the oracle replays the projection
    * exactly; the signed sum is the unbiased-inner-product form of
    * Weinberger et al.'s hashing kernel.
    *
    * Scale shape: one map-side-combined shuffle to the vocabulary grid,
    * then a |buckets|-row aggregate — the per-document vector
    * materialization (docs × buckets) is deliberately NOT produced
    * here; downstream consumers derive it by the same two hashes.
    *
    * Returns per bucket, ordered: (bucket, n_tokens, total_count,
    * signed_sum) where n_tokens counts distinct vocabulary words
    * colliding into the bucket.
    */
  def featureHash(df: DataFrame, textCol: String, buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    val vocab = graft.Parallelism.fanOut(df.select(col(textCol)))
      .select(explode(TextFns.tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("c"))
    vocab
      .select(pmod(Hashing.h60(col("tok"), 101), lit(buckets.toLong))
          .as("bucket"),
        (pmod(Hashing.h60(col("tok"), 102), lit(2L)) * 2 - 1).as("sign"),
        col("c"))
      .groupBy("bucket").agg(
        count(lit(1)).as("n_tokens"),
        sum("c").cast("long").as("total_count"),
        sum(col("sign") * col("c")).cast("long").as("signed_sum"))
      .orderBy("bucket")
  }

  /** RAKE KEYWORD EXTRACTION (Rose et al. 2010) — the phrase-level
    * complement to [[textRankKeywords]] (q258 ranks single words by
    * graph centrality; RAKE surfaces MULTI-WORD terms): candidate
    * phrases are maximal content-word runs between stopwords, each word
    * scores degree/frequency (degree = Σ phrase lengths over its
    * occurrences — co-occurrence mass including itself), and a phrase
    * scores the sum of its words' scores. All-integer: word score =
    * (degree·10⁶) div freq, phrase score = Σ word-score micros — exact
    * in any engine and any summation order.
    *
    * Scale shape: one token explode, per-DOC windows only (phrase ids
    * and lengths — never a global window), one vocabulary-grid
    * aggregate, one phrase-grid aggregate, top-k. Shuffles carry token
    * and phrase grids, not documents.
    *
    * Returns top-k (phrase, n_occurrences, score_micro) by
    * (score desc, phrase).
    */
  def rakeKeywords(docs: DataFrame, idCol: String, textCol: String,
      topK: Int): DataFrame = {
    require(topK >= 1)
    import org.apache.spark.sql.expressions.Window
    val toks = graft.Parallelism.fanOut(
        docs.filter(col(textCol).isNotNull)
          .select(col(idCol).as("doc"), col(textCol).as("__t")))
      .select(col("doc"), posexplode(TextFns.tokens(col("__t")))
        .as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
    val wDoc = Window.partitionBy("doc").orderBy("pos")
    val content = graft.CacheScope.register(
      toks
        .withColumn("__stop",
          col("tok").isInCollection(graft.functions.TextFns.stopwords))
        .withColumn("pid",
          sum(when(col("__stop"), 1L).otherwise(0L)).over(wDoc))
        .filter(!col("__stop"))
        .withColumn("plen",
          count(lit(1)).over(Window.partitionBy("doc", "pid"))))
    val wordScores = content.groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum("plen").cast("long").as("degree"))
      .select(col("tok"),
        expr("(degree * 1000000L) div freq").as("w_score"))
    val phrases = content.join(wordScores, "tok")
      .groupBy("doc", "pid")
      .agg(
        array_join(transform(array_sort(
            collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("phrase"),
        sum("w_score").cast("long").as("score_micro"))
    phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"),
        max("score_micro").as("score_micro"))
      .orderBy(desc("score_micro"), col("phrase"))
      .limit(topK)
  }

  /** GRIES' DP TOKEN DISPERSION — "is this token spread across the
    * corpus or bunched in one source": DP = ½·Σ_parts |v_p − s_p| with
    * v_p the token's occurrence share in part p and s_p the part's
    * share of all tokens (Gries 2008). DP ≈ 0 = evenly dispersed
    * (function words), DP → 1 = clumped (topical/boilerplate) — the
    * corpus-linguistics complement to raw frequency that a mixture
    * audit reads before upweighting a source. Frequency alone cannot
    * see it: two tokens with equal counts can sit at opposite ends.
    *
    * All-integer: both shares are truncating micro divisions off exact
    * counts; each |diff| is BIGINT; DP sums per token then halves on
    * the micro grid. The (token, part) grid is Σ_p vocab_p-bounded;
    * output restricted to the `topK` most frequent tokens (ordered
    * limit on the bounded vocabulary grid).
    *
    * Output: (token, n_total, n_parts, dp_micro), frequency-descending.
    */
  def tokenDispersion(docs: DataFrame, partCol: String, textCol: String,
      topK: Int): DataFrame = {
    require(topK >= 1)
    val toks = graft.Parallelism.fanOut(
        docs.select(col(partCol).as("part"), col(textCol)))
      .filter(col("part").isNotNull)
      .select(col("part"), explode(TextFns.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val cells = graft.CacheScope.register(
      toks.groupBy("part", "tok").agg(count(lit(1)).as("c")))
    val partTotals = graft.CacheScope.register(
      cells.groupBy("part").agg(sum("c").cast("long").as("pc")))
    val corpus = partTotals.agg(sum("pc").cast("long").as("n"),
      count(lit(1)).cast("long").as("n_parts"))
    val tokTotals = cells.groupBy("tok")
      .agg(sum("c").cast("long").as("tc"))
    val top = graft.CacheScope.register(
      tokTotals.orderBy(desc("tc"), col("tok")).limit(topK))
    // dense (top-token × part) grid: absent cells are v_p = 0 and still
    // contribute |0 − s_p| — a sparse join would understate DP
    val grid = top.crossJoin(partTotals)
      .join(cells.withColumnRenamed("c", "ctp"), Seq("tok", "part"), "left")
      .crossJoin(broadcast(corpus))
      .select(col("tok"), col("tc"), col("n_parts"),
        (abs(expr("(coalesce(ctp, 0L) * 1000000L) div tc") -
          expr("(pc * 1000000L) div n"))).as("absdiff"))
    grid.groupBy("tok")
      .agg(max("tc").cast("long").as("n_total"),
        max("n_parts").cast("long").as("n_parts"),
        sum("absdiff").cast("long").as("__sum"))
      .select(col("tok").as("token"), col("n_total"), col("n_parts"),
        expr("__sum div 2").as("dp_micro"))
      .orderBy(desc("n_total"), col("token"))
  }

  /** GOOD-TURING frequency-of-frequencies table — the classical unseen-
    * mass estimate every smoothed LM (and every "how much vocabulary is
    * the crawl still missing" audit) starts from: N_r = #types seen
    * exactly r times; the Turing-adjusted count r* = (r+1)·N_{r+1}/N_r,
    * and the r = 1 row's mass share N_1/N IS the estimated probability
    * of the next token being a brand-new type (Good 1953).
    *
    * All-integer: token counts → count-of-counts grid (two map-side-
    * combined aggregates; the N_r grid is bounded by the max token
    * frequency, never the vocabulary); r* and the mass share are
    * truncating BIGINT micro divisions. A missing N_{r+1} nulls r*
    * (the standard smoothing-handoff point).
    *
    * Output per r ∈ [1, maxR]: (r, n_r, n_r_next, r_star_micro,
    * mass_share_micro), ordered by r.
    */
  def goodTuring(docs: DataFrame, idCol: String, textCol: String,
      maxR: Int): DataFrame = {
    require(maxR >= 1)
    val toks = graft.Parallelism.fanOut(docs.select(col(textCol)))
      .select(explode(TextFns.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("r"))
    val nr = graft.CacheScope.register(
      counts.groupBy("r").agg(count(lit(1)).as("n_r")))
    val tot = nr.agg(sum(col("r") * col("n_r")).cast("long").as("n_tokens"))
    val spine = docs.sparkSession.range(1, maxR + 1).select(col("id").as("r"))
    spine.join(nr, Seq("r"), "left")
      .join(nr.select((col("r") - 1).as("r"), col("n_r").as("n_r_next")),
        Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"),
        coalesce(col("n_r"), lit(0L)).as("n_r"),
        coalesce(col("n_r_next"), lit(0L)).as("n_r_next"),
        when(col("n_r") > 0 && col("n_r_next") > 0,
          expr("((r + 1) * n_r_next * 1000000L) div n_r"))
          .as("r_star_micro"),
        when(col("n_r") > 0 && col("n_tokens") > 0,
          expr("(r * n_r * 1000000L) div n_tokens"))
          .as("mass_share_micro"))
      .orderBy("r")
  }
}
