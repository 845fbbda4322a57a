package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, TextFns}

/** Document deduplication for training-data pipelines, from exact to fuzzy:
  *
  *   - exact:   normalize → md5 fingerprint → keep-one-per-fingerprint
  *   - n-gram:  exact Jaccard over word shingles via an inverted-index
  *              self-join (the standard distributed set-similarity join —
  *              no O(n²) pair enumeration; cost scales with shingle
  *              collision counts, not document pairs)
  *   - MinHash: k-permutation signatures + banded LSH bucket-join for
  *              candidate generation, exact-Jaccard confirmation after
  *   - SimHash: 60-bit token-weight signatures; near pairs (hamming ≤ d)
  *              found with a pigeonhole band join (exact for d < bands)
  *
  * Scale notes (100 TB): every path here is shuffle-on-key only — shingle
  * explosion shuffles on the shingle, LSH shuffles on (band, bucket), and no
  * stage ever materializes the document cross product. Ultra-frequent
  * shingles (boilerplate) are the one skew risk of the exact n-gram join:
  * its `maxShingleDf` drops shingles appearing in more than that many
  * documents before the self-join ([[capDf]]; leave at Int.MaxValue for
  * oracle-exact semantics).
  */
object Dedup {

  /** Exact dedup: one survivor (lowest id) per normalized-text fingerprint.
    * Single shuffle on the 128-bit fingerprint; survivor choice is
    * deterministic (min id), unlike `dropDuplicates`.
    */
  def exactByFingerprint(docs: DataFrame, idCol: String,
      fingerprint: Column): DataFrame = {
    // full-width fan-out is deliberate here: the output contract keeps
    // every input column, and the text payload (which dominates row
    // width) is what the fingerprint expression reads — there is no
    // narrow projection to prefer
    val fp = graft.Parallelism.fanOut(docs).withColumn("fingerprint", fingerprint)
    val w = Window.partitionBy(col("fingerprint")).orderBy(col(idCol))
    fp.withColumn("__rn", row_number().over(w))
      .withColumn("group_size", count(lit(1)).over(Window.partitionBy(col("fingerprint"))))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Incremental ingestion dedup — the "new crawl batch vs published
    * corpus" op: drop incoming rows whose fingerprint already exists in
    * the corpus (anti-join on the 128-bit fingerprint), then keep one
    * survivor per fingerprint WITHIN the batch (min id, same
    * deterministic rule as [[exactByFingerprint]]).
    *
    * Scale shape: `corpusFps` is a fingerprint-only table (at 100 TB, a
    * warehouse column, not the corpus itself); the anti-join shuffles on
    * the fingerprint — or broadcasts when a day's corpus delta is small —
    * and the within-batch pass shuffles only the incoming batch. The
    * corpus is never re-scanned per batch beyond its fingerprint column.
    * When even the fingerprint column is too large to shuffle per batch,
    * use [[incrementalDedupBloom]]: a Bloom filter over corpus
    * fingerprints proves most incoming rows fresh without any join.
    */
  def incrementalDedup(incoming: DataFrame, corpusFps: DataFrame,
      idCol: String, fingerprint: Column): DataFrame = {
    val fp = graft.Parallelism.fanOut(incoming)
      .withColumn("fingerprint", fingerprint)
    val fresh = fp.join(corpusFps.select(col("fingerprint")).distinct(),
      Seq("fingerprint"), "left_anti")
    keepFirstPerFingerprint(fresh, idCol)
  }

  /** Bloom-accelerated [[incrementalDedup]] — identical output, different
    * 100 TB cost shape. A Bloom filter is built over the corpus
    * fingerprints (`stat.bloomFilter`: distributed partial build, driver
    * merge — one pass over the corpus fingerprint column) and probed on
    * every incoming row by the native codegen'd `bloom_might_contain`
    * expression (graft.functions.BloomMightContain — no UDF, no codegen
    * break):
    *
    *   - probe-negative rows are PROVABLY fresh (Bloom has no false
    *     negatives) → they skip the anti-join entirely;
    *   - probe-positive rows (true dups + fpp false positives) pay the
    *     exact anti-join against the corpus, so false positives cost time,
    *     never correctness.
    *
    * At a steady-state crawl, almost all incoming rows are fresh, so the
    * expensive exact join shrinks from |batch| to ~(dups + fpp·|batch|)
    * rows — usually small enough that Spark broadcasts... nothing: the
    * tiny might-contain side shuffles against the corpus fingerprints, or
    * the corpus delta broadcasts. `expectedItems`/`fpp` size the filter
    * (Spark's sketch: ~1.2 GB per 1e9 items at 1%; beyond that, shard the
    * corpus and probe per shard).
    */
  def incrementalDedupBloom(incoming: DataFrame, corpusFps: DataFrame,
      idCol: String, fingerprint: Column,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val corpus = corpusFps.select(col("fingerprint")).distinct()
    // Spark's sketch aggregate returns a null buffer over zero rows
    // (NPE in readFrom) — an empty corpus means an always-false filter
    val bf =
      if (corpus.isEmpty) org.apache.spark.util.sketch.BloomFilter.create(expectedItems, fpp)
      else corpus.stat.bloomFilter("fingerprint", expectedItems, fpp)
    val bytes = {
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      out.toByteArray
    }
    // cached: both the provably-fresh and the might-contain branch read
    // this relation — without the cache the batch would be scanned (and
    // every row bloom-probed) twice
    val fp = graft.CacheScope.register(graft.Parallelism.fanOut(incoming)
      .withColumn("fingerprint", fingerprint)
      .withColumn("__maybe",
        call_function("bloom_might_contain", col("fingerprint"), lit(bytes))))
    val provablyFresh = fp.filter(!col("__maybe")).drop("__maybe")
    val checked = fp.filter(col("__maybe")).drop("__maybe")
      .join(corpus, Seq("fingerprint"), "left_anti")
    keepFirstPerFingerprint(provablyFresh.unionByName(checked), idCol)
  }

  /** Within-batch survivor rule shared by the incremental-dedup variants:
    * one row (min id) per fingerprint. */
  private def keepFirstPerFingerprint(fresh: DataFrame, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("fingerprint")).orderBy(col(idCol))
    fresh.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Distinct (id, shingle-hash) postings — the inverted-index relation
    * every fuzzy path builds on. Each shingle string is hashed ONCE to a
    * 60-bit key (md5-prefix, oracle-replayable: the DuckDB side builds the
    * identical value). Long keys shuffle/join far cheaper than shingle
    * strings; 60-bit collisions are ~1e-10 at 1e4 distinct shingles, and
    * the oracle replays the same construction, so results agree exactly.
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    graft.Parallelism.fanOut(
        docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), explode(shingleHashes(col("__t"), n)).as("sh"))

  /** Per-document distinct shingle-hash ARRAYS — the shuffle-free sibling
    * of [[shingleSets]]: (id, shs array<long>, sz), one row per input row
    * (ids are expected unique). Same 60-bit oracle-replayable hash per
    * shingle, but kept as one array row per document instead of exploded
    * postings, so set size is `size(shs)` and MinHash signatures become a
    * pure projection too ([[minhashSignaturesArr]]). The whole relation is
    * a projection: no aggregate, no exchange. Documents with no shingles
    * (fewer than `n` tokens, or null text) are absent, matching the
    * exploded form where they contribute zero posting rows.
    *
    * Scale trade-off vs postings: arrays keep each document's set on one
    * row — ideal while per-doc set sizes are bounded (web documents:
    * 10²-10⁵ shingles); the exploded [[shingleSets]] relation remains the
    * right base when a frequency cap (`maxShingleDf`) must be computed,
    * since document frequency is inherently a shuffle on the shingle.
    */
  def shingleArrays(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    graft.Parallelism.fanOut(
        docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), shingleHashes(col("__t"), n).as("shs"))
      .select(col("id"), col("shs"), size(col("shs")).cast("long").as("sz"))
      .filter(col("sz") > 0)

  /** The distinct shingle hashes of a text column, in first-occurrence
    * order: the native `shingle_h60` kernel over [[TextFns.tokens]]. */
  private def shingleHashes(text: Column, n: Int): Column =
    call_function("shingle_h60", TextFns.tokens(text), lit(n))

  /** Exact n-gram Jaccard similarity join: all document pairs with
    * `|A∩B| / |A∪B| >= minJac`, computed by counting intersections
    * directly on the inverted-index self-join (shuffle key = shingle hash,
    * never the doc cross product; cost = Σ_sh df² collision pairs).
    * `maxShingleDf` drops boilerplate shingles first ([[capDf]]).
    *
    * Returns (id_a, id_b, inter, size_a, size_b, jaccard), id_a < id_b.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minJac: Double, maxShingleDf: Int = Int.MaxValue): DataFrame = {
    val sh0 = graft.CacheScope.register(shingleSets(docs, idCol, textCol, n))
    val sh = capDf(sh0, maxShingleDf)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    // note: a lossless size-ratio prune (min >= t*max inside the join
    // condition) was measured SLOWER here — joining sizes into the
    // postings costs more than the prune saves when doc sizes cluster;
    // revisit only for heavy-tailed size distributions
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "size_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "size_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= minJac)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
  }

  /** Shingle-set CONTAINMENT pairs — the asymmetric near-dup relation
    * Jaccard cannot see: C(A→B) = |A∩B| / |A| finds documents mostly
    * CONTAINED in a larger one (a quoted article inside a commentary
    * page, boilerplate wrapping syndicated content) even when the size
    * imbalance keeps Jaccard tiny (|A∩B|/|A∪B| → 0 as |B| grows). The
    * standard curation rule drops the contained copy and keeps the
    * superset document.
    *
    * Emits (id_a, id_b, inter, size_a, size_b, cont_a, cont_b) for every
    * ordered pair where EITHER direction clears `minCont` — containments
    * are exact IEEE divisions of exact integer counts. Scale shape:
    * identical to [[ngramJaccardPairs]]' uncapped inverted-index form
    * (the one shuffle is the postings self-join keyed on the shingle).
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minCont: Double): DataFrame = {
    val sh = graft.CacheScope.register(shingleSets(docs, idCol, textCol, n))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "size_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "size_b"), "id_b")
      .withColumn("cont_a", col("inter").cast("double") / col("size_a"))
      .withColumn("cont_b", col("inter").cast("double") / col("size_b"))
      .filter(col("cont_a") >= minCont || col("cont_b") >= minCont)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "cont_a", "cont_b")
  }

  /** Corpus-curation audit: exact shingle-set overlap between GROUPS of
    * documents (sources, crawls, snapshots) — "is src7 mostly a re-crawl
    * of src3?" answered with exact Jaccard and directional containment
    * per group pair, the aggregate face of [[containmentPairs]].
    *
    * Scale shape: the per-group distinct shingle relation is ONE shuffle
    * on (group, h60); the pair join is an inverted index on the shingle
    * hash whose per-key fan-out is bounded by the NUMBER OF GROUPS (a
    * shingle contributes at most G(G−1)/2 pairs however many documents
    * contain it) — so unlike document-pair joins, no df cap is needed:
    * worst case is Σ_shingle G², linear in distinct shingles for fixed G.
    * Group sizes (a handful of rows) broadcast back onto the pair counts.
    * Zero-overlap pairs are absent by construction (inner join).
    *
    * Returns (src_a, src_b, size_a, size_b, n_common, jaccard,
    * cont_a_in_b, cont_b_in_a); divisions are single IEEE ops on exact
    * integer counts.
    */
  def sourceOverlap(docs: DataFrame, groupCol: String, textCol: String,
      n: Int): DataFrame = {
    val sh = graft.CacheScope.register(
      graft.Parallelism.fanOut(docs.select(col(groupCol), col(textCol)))
        .select(col(groupCol).as("grp"),
          explode(shingleHashes(col(textCol), n)).as("h"))
        .distinct())
    val sizes = sh.groupBy("grp").agg(count(lit(1)).as("sz"))
    sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("src_a"), col("b.grp").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("grp").as("src_a"), col("sz").as("size_a"))), "src_a")
      .join(broadcast(sizes.select(col("grp").as("src_b"), col("sz").as("size_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("size_a"), col("size_b"),
        col("n_common"),
        (col("n_common").cast("double") /
          (col("size_a") + col("size_b") - col("n_common"))).as("jaccard"),
        (col("n_common").cast("double") / col("size_a")).as("cont_a_in_b"),
        (col("n_common").cast("double") / col("size_b")).as("cont_b_in_a"))
  }

  /** Drop shingles appearing in more than `maxShingleDf` documents — the
    * boilerplate-skew relaxation (a shingle in d docs costs d² join pairs
    * in [[ngramJaccardPairs]]' postings self-join). Int.MaxValue = keep
    * everything (exact semantics).
    *
    * Choosing the cap: a shingle shared by d docs contributes d(d-1)/2
    * candidate pairs, so worst-case candidates ≈ Σ capped-df² — pick the
    * cap so (#docs/cap) · cap² = #docs · cap stays within your pair
    * budget; cap ≈ 100-1000 works for web-scale corpora where genuine
    * near-dup clusters are far smaller than boilerplate cliques
    * (headers/disclaimers/templates span 10-50% of a crawl). Semantics
    * shift with the cap — jaccard is computed over the SURVIVING
    * shingles — so the oracle must apply the same cap (q20 does), and a
    * true near-dup pair loses nothing unless its entire overlap is
    * boilerplate. ScaleSpec's planted-skew test pins both properties.
    */
  private[operators] def capDf(sh0: DataFrame, maxShingleDf: Int): DataFrame =
    if (maxShingleDf == Int.MaxValue) sh0
    else sh0
      // window count instead of groupBy+join-back: ONE shuffle on sh whose
      // hash partitioning the downstream self-join (also keyed on sh) then
      // reuses, instead of an aggregate exchange plus a join exchange
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("sh")))
      .filter(col("__df") <= maxShingleDf) // drops boilerplate shingles
      .drop("__df")

  /** Exact-Jaccard confirmation over the ARRAY relation: each candidate
    * pair fetches both documents' shingle arrays (two id-keyed joins —
    * the candidate set is the small side) and counts the intersection
    * with `array_intersect` in the projection: no aggregate shuffle.
    */
  private def confirmJaccardArr(cands: DataFrame, arr: DataFrame,
      minJac: Double): DataFrame = {
    val a = arr.select(col("id").as("id_a"), col("shs").as("__sa"),
      col("sz").as("size_a"))
    val b = arr.select(col("id").as("id_b"), col("shs").as("__sb"),
      col("sz").as("size_b"))
    cands.join(a, "id_a").join(b, "id_b")
      .withColumn("inter", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= minJac)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
  }

  /** MinHash signatures over the array relation of [[shingleArrays]]:
    * k INDEPENDENT hash families — the minimum of seeded xxHash64
    * (`xxhash64(seed, x)`, bit-identical to [[Hashing.hFast]]) over each
    * document's 60-bit shingle keys — as the native `minhash_sig` kernel
    * in a single PROJECTION, returning (id, sig) with the k minima in one
    * `array<bigint>`. The signature stage costs no shuffle at all; at
    * 100 TB that removes a full-corpus exchange from the dedup critical
    * path.
    *
    * Why not double-hashing (h1 + i*h2): without a modular wrap the i*h2
    * term dominates the argmin for larger i, collapsing the families onto
    * the min-h2 shingle and destroying recall (measured: pairs at Jaccard
    * 0.95 missed). Affine tricks that are safe for Bloom-filter membership
    * are NOT safe for argmin sketches. xxHash64 families are deterministic
    * across runs, which is all the exact-confirm output needs — the oracle
    * checks the confirmed Jaccard, never the signatures.
    */
  def minhashSignaturesArr(docShingles: DataFrame, k: Int): DataFrame =
    withSignature(docShingles, k).select("id", "sig")

  /** `arr` plus its MinHash `sig` column, keeping every input column. */
  private def withSignature(arr: DataFrame, k: Int): DataFrame =
    arr.withColumn("sig", call_function("minhash_sig", col("shs"), lit(k)))

  /** LSH banding: signature → `bands` rows of (id, band, bucket) where the
    * bucket is a hash of `rowsPerBand` consecutive signature slots. Pairs
    * sharing any (band, bucket) are candidates. Shuffle key = (band,
    * bucket); a bucket with B docs emits B(B-1)/2 candidates, so bucket
    * skew — not data size — bounds the cost.
    */
  def lshCandidatePairs(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val exploded = lshBands(sigs, k, bands)
    exploded.as("a").join(exploded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Signature rows (id, sig) → (id, band, bucket) banding relation
    * (`bands` rows per doc, from the native `lsh_buckets` kernel). Shared
    * by the self-join candidate path, the persisted LSH index and the
    * cross-corpus decontamination path. */
  private[graft] def lshBands(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    sigs.select(col("id"), inline(call_function("lsh_buckets", col("sig"), lit(bands))))
  }

  /** Full MinHash near-dup pipeline: shingle → sign → band → candidate →
    * exact-Jaccard confirm (so the output is a deterministic subset of
    * [[ngramJaccardPairs]]; LSH only prunes the search space).
    */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, minJac: Double): DataFrame = {
    // Per-doc arrays make shingle sets, signatures and set sizes pure
    // projections, and the confirm an array_intersect — the only shuffle
    // left is the (band, bucket) candidate join itself. ONE relation
    // (id, shs, sz, sig) is cached: the LSH self-join reads its signatures
    // on BOTH sides and the confirm its arrays; uncached, shingling and
    // the k-family hashing would run once per reference.
    val arr = graft.CacheScope.register(
      withSignature(shingleArrays(docs, idCol, textCol, n), k))
    val cands = lshCandidatePairs(arr, k, bands)
    confirmJaccardArr(cands, arr, minJac)
      .select("id_a", "id_b", "jaccard")
  }

  /** Persistable LSH INDEX for a document corpus, as the two relations a
    * warehouse stores once and every later batch probes: the BAND
    * relation (id, band, bucket — `bands` rows per doc) and the DOC
    * relation (id, shs, sz — the distinct-shingle array + size the exact
    * confirm needs). Both derive from ONE cached [[shingleArrays]] pass;
    * signatures and banding are pure projections on top of it.
    *
    * The 100 TB daily-ingest dedup shape is NOT "re-derive the whole
    * corpus' signatures per run" (what [[minhashNearDups]] does for a
    * one-shot batch): it is write-once / probe-daily. Publish the band
    * relation BUCKETED BY `bucket` and the doc relation BUCKETED BY `id`
    * ([[Warehouse.writeBucketed]]): the storage layout then already
    * satisfies both probe-join distributions, so probing N new documents
    * against a B-row historical index shuffles ONLY the new batch
    * (index side: zero exchanges — q250 pins the plan), and maintenance
    * is an incremental bucketed APPEND of the new batch's rows — the
    * historical corpus is never re-shingled, re-hashed, or re-shuffled.
    */
  def lshIndexRelations(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int): (DataFrame, DataFrame) = {
    val arr = graft.CacheScope.register(shingleArrays(docs, idCol, textCol, n))
    (lshBands(minhashSignaturesArr(arr, k), k, bands), arr)
  }

  /** Probe a NEW batch against a persisted [[lshIndexRelations]] index —
    * a stream-static near-dup join in its batch form. The new docs run
    * the same shingle/sign/band projections; candidates are (band, bucket) equi-join hits against
    * the STORED band relation; the exact-Jaccard confirm fetches shingle
    * arrays from the stored doc relation (id_a side) and the new batch
    * (id_b side). LSH only prunes — the confirm decides — so the result
    * is exactly the cross-batch near-dup pairs [[minhashNearDups]] over
    * the union corpus would report (at the same banded recall).
    *
    * Returns (id_a = indexed doc, id_b = new doc, inter, size_a, size_b,
    * jaccard) with jaccard ≥ minJac.
    */
  def lshIndexProbe(indexBands: DataFrame, indexDocs: DataFrame,
      docs: DataFrame, idCol: String, textCol: String, n: Int, k: Int,
      bands: Int, minJac: Double): DataFrame = {
    val (pb, pd) = lshIndexRelations(docs, idCol, textCol, n, k, bands)
    // distinct ids BEFORE touching the arrays: a pair hitting multiple
    // bands must confirm exactly once, and the distinct shuffles two
    // longs per candidate, never shingle arrays
    val cands = indexBands
      .select(col("id").as("id_a"), col("band"), col("bucket"))
      .join(pb.select(col("id").as("id_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select("id_a", "id_b").distinct()
    cands
      .join(indexDocs.select(col("id").as("id_a"), col("shs").as("__sa"),
        col("sz").as("size_a")), "id_a")
      .join(pd.select(col("id").as("id_b"), col("shs").as("__sb"),
        col("sz").as("size_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= minJac)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
  }

  /** EMPIRICAL LSH band planner: for every (bands, rows) factorization
    * of a k-slot MinHash signature, measure the ACTUAL banded candidate
    * volume and the actual recall/precision against the exact-Jaccard
    * pairs at `minJacTruth` — the deployment table the analytic S-curve
    * 1−(1−s^r)^b only approximates (it assumes independent uniform
    * permutations; real corpora have correlated shingles and skewed
    * similarity mass). "Which (b, r) do I run at threshold t" is THE
    * pre-launch question for a 100 TB dedup pass — answered here on a
    * sample corpus for the cost of one signature pass plus |divisors|
    * bucket self-joins.
    *
    * Signatures use the md5-based seeded [[graft.functions.Hashing.h60]]
    * families (NOT the xxHash64 ones of [[minhashSignaturesArr]]) so the
    * whole sweep — including each candidate set itself — replays in the
    * oracle engine. s_star = (1/b)^(1/r) (the S-curve inflection) is
    * computed once driver-side and emitted as a literal to both plans.
    *
    * Returns one row per factorization: (bands, rows_per_band,
    * s_star_micro, n_cand, n_truth, tp, recall_micro, precision_micro).
    */
  def bandPlannerEmpirical(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, minJacTruth: Double): DataFrame = {
    require(k >= 2)
    val sh = graft.CacheScope.register(shingleSets(docs, idCol, textCol, n))
    val aggs = (0 until k).map(i => min(Hashing.h60(col("sh"), i)).as(s"s$i"))
    val sigs = graft.CacheScope.register(
      sh.groupBy("id").agg(aggs.head, aggs.tail: _*))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val truth = graft.CacheScope.register(
      sh.as("a").join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("id").as("id_a"), col("sz").as("sza")), "id_a")
        .join(sizes.select(col("id").as("id_b"), col("sz").as("szb")), "id_b")
        .filter(col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")) >= minJacTruth)
        .select("id_a", "id_b"))
    val perSplit = (1 to k).filter(k % _ == 0).map { b =>
      val r = k / b
      val bandCols = (0 until b).map { j =>
        val slots = (j * r until (j + 1) * r).map(i => col(s"s$i"))
        struct(lit(j).as("band"),
          Hashing.h60(concat_ws(",", slots: _*), j).as("bucket"))
      }
      val bandRel = sigs
        .select(col("id"), explode(array(bandCols: _*)).as("bb"))
        .select(col("id"), col("bb.band").as("band"),
          col("bb.bucket").as("bucket"))
      val cand = bandRel.as("a").join(bandRel.as("b"),
          col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
      val sStarMicro = math.round(math.pow(1.0 / b, 1.0 / r) * 1e6)
      cand.withColumn("c", lit(1))
        .join(truth.withColumn("t", lit(1)), Seq("id_a", "id_b"), "full_outer")
        .agg(sum(coalesce(col("c"), lit(0))).cast("long").as("n_cand"),
          sum(coalesce(col("t"), lit(0))).cast("long").as("n_truth"),
          count(when(col("c").isNotNull && col("t").isNotNull, lit(1)))
            .as("tp"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          lit(sStarMicro).as("s_star_micro"),
          col("n_cand"), col("n_truth"), col("tp"),
          expr("if(n_truth > 0, (tp * 1000000) div n_truth, null)")
            .as("recall_micro"),
          expr("if(n_cand > 0, (tp * 1000000) div n_cand, null)")
            .as("precision_micro"))
    }
    perSplit.reduce(_.unionByName(_)).orderBy("bands")
  }

  /** Edit-distance near-duplicate pairs: [[minhashNearDups]] candidates
    * re-confirmed by LEVENSHTEIN distance over the normalized text — the
    * dedup rule for "same document, light edits" where token-set Jaccard
    * is blind to ordering (a shuffled paragraph keeps its shingle-set
    * Jaccard low-ish but scrambles meaning; edit distance catches it, and
    * vice versa a heavy in-place synonym pass can hold Jaccard while
    * blowing past an edit budget). A pair survives when
    * `lev · maxDistDen ≤ max(len_a, len_b) · maxDistNum` — the relative
    * edit budget as a cross-multiplied INTEGER comparison (never a double
    * ratio), both engines replaying the identical classic Levenshtein.
    *
    * Scale shape: levenshtein is O(len²) per pair — the one operation you
    * must never run on a cross product. It runs here ONLY on
    * LSH-confirmed candidate pairs (bucket-bounded, ≪ quadratic), and the
    * normalized text is joined back by id for exactly those pairs — two
    * id-keyed joins of a pair relation against the corpus, each shuffling
    * only pair-side rows at corpus-partition cost.
    *
    * Returns (id_a, id_b, jaccard, lev, max_len) ordered-pair rows.
    */
  def editDistanceNearDups(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, minJac: Double,
      maxDistNum: Int, maxDistDen: Int): DataFrame = {
    require(maxDistNum >= 0 && maxDistDen > 0,
      s"edit budget must be a non-negative ratio: $maxDistNum/$maxDistDen")
    val pairs = minhashNearDups(docs, idCol, textCol, n, k, bands, minJac)
    // Two pruned (id, text) corpus scans feed the pair-side joins.
    // Measured alternatives at sf0.1: caching the whole normalized text
    // relation (+18%) and semi-join-pruning it to candidate ids with a
    // cached pair relation (+67%) — both LOSE here because the extra
    // materialization sync points cost more than a cheap columnar re-scan
    // saves. Revisit the semi-join form only when profiles show the text
    // scan itself (not the LSH pipeline) dominating.
    val txt = docs.select(col(idCol).as("__tid"),
      TextFns.normalized(col(textCol)).as("__t"))
    pairs
      .join(txt.select(col("__tid").as("id_a"), col("__t").as("__ta")), "id_a")
      .join(txt.select(col("__tid").as("id_b"), col("__t").as("__tb")), "id_b")
      .withColumn("lev", levenshtein(col("__ta"), col("__tb")))
      .withColumn("max_len", greatest(length(col("__ta")), length(col("__tb"))))
      .filter(col("lev") * maxDistDen <= col("max_len") * maxDistNum)
      .select("id_a", "id_b", "jaccard", "lev", "max_len")
  }

  /** Fuzzy record linkage: loose EXACT-Jaccard blocking (the recall net —
    * [[ngramJaccardPairs]]' direct intersection count, so blocking recall
    * is 1.0 by construction, unlike a banded-LSH block
    * whose per-pair recall at a LOW threshold decays to coin-flip levels)
    * re-scored by JARO-WINKLER similarity over the normalized text and
    * kept at `minJw`. The edit-distance confirm (q103) charges every edit
    * equally; Jaro-Winkler is the record-linkage weighting
    * (transposition-tolerant, shared-prefix boosted) that matches "same
    * entity, reformatted fields" — the classic dedup rule for
    * titles/names/citations inside a web corpus.
    *
    * `jaro_winkler` is graft's native codegen'd expression
    * ([[graft.functions.JaroWinkler]]), validated BIT-EXACT against the
    * DuckDB oracle's implementation on a 10k-pair fixture
    * (JaroWinklerSpec), so the output similarity is replayable.
    *
    * Scale shape: the O(len_a · len_b) scorer runs only on blocked
    * candidate pairs (the postings self-join, ≪ quadratic); two
    * id-keyed joins fetch exactly the candidate texts.
    *
    * Returns (id_a, id_b, jaccard, jw) ordered-pair rows.
    */
  def jaroWinklerLinkage(docs: DataFrame, idCol: String, textCol: String,
      n: Int, blockJac: Double, minJw: Double): DataFrame = {
    val pairs = ngramJaccardPairs(docs, idCol, textCol, n, blockJac)
    val txt = docs.select(col(idCol).as("__tid"),
      TextFns.normalized(col(textCol)).as("__t"))
    pairs
      .join(txt.select(col("__tid").as("id_a"), col("__t").as("__ta")), "id_a")
      .join(txt.select(col("__tid").as("id_b"), col("__t").as("__tb")), "id_b")
      .withColumn("jw", call_function("jaro_winkler", col("__ta"), col("__tb")))
      .filter(col("jw") >= minJw)
      .select("id_a", "id_b", "jaccard", "jw")
  }

  /** Benchmark decontamination: flag every training document that shares
    * at least one word `n`-gram with any document of `benchmark` (the
    * standard eval-leakage check — an n of 8-13 words approximates the
    * "verbatim overlap" rule used for LLM training corpora). Returns
    * (id, n_hits) per CONTAMINATED doc; anti-join the result to clean.
    *
    * Scale shape: both sides reduce to (id, gram-hash) postings; the
    * benchmark side is tiny (eval suites are ≪ the corpus), so the join
    * broadcasts it and the corpus is never shuffled at all — a map-side
    * containment probe over the full 100 TB scan.
    */
  def contaminatedBy(docs: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val corpusGrams = shingleSets(docs, idCol, textCol, n)
    val benchGrams = shingleSets(benchmark, idCol, textCol, n)
      .select("sh").distinct()
    corpusGrams.join(broadcast(benchGrams), "sh")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
  }

  /** FUZZY benchmark decontamination — [[contaminatedBy]]'s verbatim
    * n-gram rule misses paraphrased/lightly-edited leakage, so this flags
    * training documents whose n-gram Jaccard against ANY benchmark doc
    * clears `minJac`, using MinHash-LSH to avoid scoring the cross
    * product. Returns (corpus_id, bench_id, jaccard) for every confirmed
    * cross pair (exact Jaccard confirm — LSH only prunes candidates, same
    * contract as [[minhashNearDups]]).
    *
    * Scale shape: the corpus NEVER self-joins. Both sides shingle and
    * sign in one pass over their union (projections with no shuffle); the
    * corpus banding relation (bands rows/doc) then joins the BENCHMARK
    * banding relation, which is tiny (eval suites ≪ corpus) and
    * broadcast — so candidate generation
    * is a map-side probe over the corpus scan, and only candidate pairs
    * (a ≪ |corpus| set) reach the exact confirm. Ids must be disjoint
    * across the two inputs.
    */
  def fuzzyDecontaminate(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int, k: Int, bands: Int,
      minJac: Double): DataFrame = {
    val both = docs.select(col(idCol), col(textCol))
      .unionByName(benchmark.select(col(idCol), col(textCol)))
    val benchIds = benchmark.select(col(idCol).as("id")).distinct()
    // cached, as in [[minhashNearDups]]: the one (id, shs, sz, sig)
    // projection feeds BOTH the corpus and benchmark banding branches and
    // the array_intersect confirm — without the cache each reference
    // would recompute the most expensive stage
    val arr = graft.CacheScope.register(
      withSignature(shingleArrays(both, idCol, textCol, n), k))
    val corpusBands = lshBands(
      arr.join(broadcast(benchIds), Seq("id"), "left_anti"), k, bands)
    val benchBands = lshBands(
      arr.join(broadcast(benchIds), Seq("id"), "left_semi"), k, bands)
    val cands = corpusBands.as("c")
      .join(broadcast(benchBands.as("b")),
        col("c.band") === col("b.band") && col("c.bucket") === col("b.bucket"))
      .select(col("c.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    confirmJaccardArr(cands, arr, minJac)
      .select(col("id_a").as("corpus_id"), col("id_b").as("bench_id"),
        col("jaccard"))
  }

  /** 60-bit SimHash per document: bit j of the signature is set iff the
    * token-frequency-weighted sum of (+1 / -1) over bit j of each token's
    * h60 is non-negative. One explode + one 60-expression aggregate —
    * single shuffle on the document id.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Packed-lane bit counting: instead of 60 separate sum(CASE) aggregates
    // (one per signature bit), pack 4 × 15-bit per-bit counters into each
    // of 15 longs — 16 aggregate expressions total, ~4x cheaper. Exact for
    // documents up to 2^15 tokens (far beyond any sane document; larger
    // inputs should chunk first). bit_j is set iff ones_j >= half the
    // tokens, identical to the ±1-sum >= 0 formulation.
    //
    // The md5-based h60 is the dominant cost, so it is evaluated once per
    // DISTINCT (doc, token) — occurrences are collapsed to a weight by a
    // map-side-combining groupBy first, and each lane counter adds
    // weight × bit instead of 1 × bit per occurrence. Natural-language
    // token frequency is Zipfian, so distinct tokens per doc ≪ occurrences
    // (measured: q23 13.6s → 4.7s at sf0.1).
    val laneBits = 15
    val lanesPerLong = 4
    val weighted = graft.Parallelism.fanOut(
        docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), explode(TextFns.tokens(col("__t"))).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("__w"))
    val h = Hashing.h60(col("tok"))
    val laneAggs = (0 until 15).map { k =>
      val perToken = (0 until lanesPerLong).map { m =>
        val j = lanesPerLong * k + m
        (shiftright(h, j) % 2) * lit(1L << (laneBits * m))
      }.reduce(_ + _)
      sum(perToken * col("__w")).as(s"lane$k")
    }
    val summed = weighted.groupBy("id")
      .agg(sum(col("__w")).as("__n"), laneAggs: _*)
    val sig = (0 until 60).map { j =>
      val ones = shiftright(col(s"lane${j / lanesPerLong}"),
        laneBits * (j % lanesPerLong)).bitwiseAND(lit((1L << laneBits) - 1))
      when(ones * 2 >= col("__n"), shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_ + _)
    summed.select(col("id"), sig.as("simhash"))
  }

  /** Near-dup pairs by SimHash hamming distance, via a pigeonhole band
    * join: the 60-bit signature splits into `bands` equal slices; two
    * signatures within hamming distance `maxDist < bands` must agree on at
    * least one slice, so joining on (slice index, slice value) finds ALL
    * such pairs — exact, not probabilistic — while shuffling on the band
    * value instead of enumerating pairs.
    */
  def simhashNearDups(sigs: DataFrame, maxDist: Int, bands: Int = 4): DataFrame = {
    require(maxDist < bands, "pigeonhole exactness needs maxDist < bands")
    val width = 60 / bands
    val mask = (1L << width) - 1
    // the self-join below references the signature subtree on BOTH sides;
    // without a cache Spark computes the (expensive, 60-aggregate) simhash
    // twice
    val cached = graft.CacheScope.register(sigs)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        (shiftright(col("simhash"), b * width).bitwiseAND(lit(mask))).as("bucket"))
    }
    val exploded = cached.select(col("id"), col("simhash"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    exploded.as("a").join(exploded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** DEDUP-AWARE SPLIT-LEAKAGE audit: assign every document to
    * train/eval by a salted hash split, then count near-duplicate pairs
    * that STRADDLE the boundary — the contamination a random split
    * silently bakes into evaluation (an eval doc whose near-twin sits in
    * train is a memorization freebie; Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" measures exactly this
    * leak). The production fix is splitting by near-dup CLUSTER; this
    * operator is the audit that tells you whether you must.
    *
    * The split is `h60(salt:id) % 100 < trainPct` — engine-replayable,
    * stable under re-runs and immune to input order. `pairs` is any
    * near-dup pair relation (canonically the shared banded-MinHash
    * pairs); the audit itself is two equi-joins of the pair relation
    * against the doc-sized assignment relation plus driver-width
    * aggregates — it adds nothing super-linear on top of the dedup.
    *
    * Returns one row: (n_train_docs, n_eval_docs, n_pairs,
    * n_train_train, n_leaked (train↔eval), n_eval_eval, leaked_micro =
    * leaked·1e6 div max(n_pairs, 1)).
    */
  def splitLeakage(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, trainPct: Int, salt: String): DataFrame = {
    require(trainPct > 0 && trainPct < 100, s"trainPct out of (0,100): $trainPct")
    def splitOf(c: Column): Column =
      when(pmod(Hashing.h60(concat(lit(s"$salt:"), c.cast("string"))),
        lit(100L)) < trainPct, lit("train")).otherwise(lit("eval"))
    val assigned = graft.CacheScope.register(
      docs.select(col(idCol).cast("long").as("id"),
        splitOf(col(idCol)).as("split")))
    val docTotals = assigned.agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train_docs"),
      sum(when(col("split") === "eval", 1L).otherwise(0L)).as("n_eval_docs"))
    val classed = pairs
      .join(assigned.select(col("id").as(aCol), col("split").as("__sa")), aCol)
      .join(assigned.select(col("id").as(bCol), col("split").as("__sb")), bCol)
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__sa") === "train" && col("__sb") === "train", 1L)
          .otherwise(0L)).as("n_train_train"),
        sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L)).as("n_leaked"),
        sum(when(col("__sa") === "eval" && col("__sb") === "eval", 1L)
          .otherwise(0L)).as("n_eval_eval"))
    docTotals.crossJoin(broadcast(classed))
      .select(col("n_train_docs"), col("n_eval_docs"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_train_train"), lit(0L)).as("n_train_train"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        coalesce(col("n_eval_eval"), lit(0L)).as("n_eval_eval"),
        expr("(coalesce(n_leaked, 0) * 1000000) div greatest(coalesce(n_pairs, 0), 1)")
          .as("leaked_micro"))
  }
}
