package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media payloads are opaque `binary` columns with typed metadata alongside
  * — the schema, partitioning and batch shape are real; the byte→pixel
  * codec is stubbed as position sampling over the payload bytes (no decode
  * library is linked), deterministic so every downstream stage is
  * testable end-to-end.
  *
  * Scale notes: payloads dominate row size, so (a) never shuffle the binary
  * column — extract features first, then join features back by id if
  * needed; (b) `spark.sql.files.maxPartitionBytes` governs scan
  * parallelism since rows are huge.
  */
object Multimodal {

  /** Manufacture a binary media column from the documents table (the test
    * stand-in for real image bytes: UTF-8 of the text). Pure projection.
    */
  def asMedia(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Parallelism.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"),
      concat(lit("application/x-graft-"),
        pmod(col(idCol), lit(3)).cast("string")).as("mime"),
      encode(col(textCol), "UTF-8").as("payload"))

  /** Relational feature extraction — everything derivable without a codec
    * (sizes, magic bytes, checksums) as pure expressions; stays in codegen
    * and is replayable in the oracle.
    */
  def binaryFeatures(media: DataFrame): DataFrame =
    media.select(col("doc_id"), col("mime"),
      octet_length(col("payload")).as("n_bytes"),
      hex(substring(col("payload"), 1, 4)).as("magic"),
      crc32(col("payload")).as("payload_crc32"))

  // === Perceptual hash (pHash-style) =======================================
  // A mean-hash over a deterministic 64-cell "downscale" of the payload —
  // the classic aHash/pHash recipe (downscale to an 8x8 luma grid, hash
  // bit = cell > mean), with the codec-dependent downscale stubbed as
  // position sampling: cell j = byte at offset floor(j*n/64). A real
  // deployment swaps the sampling for decoded-pixel block means; every
  // stage after the grid (mean threshold, banding, Hamming pairing) is
  // codec-agnostic and exactly what production image dedup runs.
  //
  // All arithmetic is INTEGER (bit j set iff cell*64 > sum of cells), so
  // the DuckDB oracle replays it bit-exactly. The 64-bit signature is kept
  // as 8 x 8-bit bands, which is simultaneously (a) the LSH banding for
  // sub-quadratic pairing and (b) a pigeonhole-EXACT index for Hamming
  // <= 7: two signatures differing in at most 7 bits must agree on at
  // least one of 8 disjoint bands, so the band join misses nothing.

  /** Per-payload perceptual signature: (doc_id, mime, bands: array<int>)
    * with 8 bands of 8 bits each. Pure codegen'd projection (hex +
    * substring + higher-order array functions) — map-only, never shuffles
    * the payload.
    */
  /** The shared deterministic 64-cell (8×8 row-major) "luma grid" of a
    * payload: cell j = payload byte at 1-based offset 1 + floor(j*n/64),
    * decoded from the hex string because neither engine indexes raw
    * binary. Magnitudes (j*n <= 63 * payload bytes) stay far under 2^53,
    * so the floor(double) round-trip is exact. A real deployment swaps
    * this position sampling for decoded-pixel block means; everything
    * downstream ([[perceptualHash]], [[grayscaleFeatures]]) is
    * codec-agnostic.
    */
  private def cellGrid64: org.apache.spark.sql.Column = {
    val n = octet_length(col("payload"))
    val h = hex(col("payload")) // uppercase hex, same as DuckDB's hex()
    transform(sequence(lit(0), lit(63)), j => {
      val pos = (floor(j * n / lit(64)) + 1).cast("int")
      conv(h.substr(lit(2) * pos - 1, lit(2)), 16, 10).cast("int")
    })
  }

  def perceptualHash(media: DataFrame): DataFrame = {
    media.select(col("doc_id"), col("mime"), cellGrid64.as("__cells"))
      .withColumn("__total", aggregate(col("__cells"), lit(0), (acc, x) => acc + x))
      .select(col("doc_id"), col("mime"),
        transform(sequence(lit(0), lit(7)), b =>
          (0 to 7).map(k =>
            when(element_at(col("__cells"), (b * 8 + k + 1).cast("int"))
                   * 64 > col("__total"), lit(1 << k)).otherwise(lit(0)))
            .reduce(_ + _)
        ).as("bands"))
  }

  /** EXACT-INTEGER GRAYSCALE FEATURES over the deterministic 8×8 luma
    * grid (r10 verdict #7 — a second real kernel on the multimodal
    * column while the byte→pixel codec stays env-bound): the two
    * classic cheap image-quality signals production media dedup runs
    * BEFORE any model —
    *   - an 8-bin intensity HISTOGRAM (bin = cell >> 5, cells are
    *     bytes 0..255; Σ bins = 64) — flags flat/washed-out payloads,
    *   - EDGE DENSITY: of the 112 4-neighbor cell pairs (56 horizontal
    *     + 56 vertical on the 8×8 grid), the fraction with
    *     |Δintensity| > 32, on the exact micro grid (·10⁶ div 112) —
    *     the "is there any structure here" score (blank images ~0).
    * All arithmetic is integer on both engines, so the oracle replays
    * every value bit-exactly. Pure codegen'd projection — map-only,
    * payloads never shuffle (the binaryFeatures contract).
    */
  def grayscaleFeatures(media: DataFrame): DataFrame = {
    def el(i: Int) = element_at(col("__cells"), i) // 1-based
    val hist = (0 until 8).map(b =>
      aggregate(col("__cells"), lit(0L),
        (acc, x) => acc + when(shiftright(x, 5) === b, 1L).otherwise(0L))
        .as(s"hist_$b"))
    // 4-neighbor pairs on the row-major 8x8 grid: horizontal (j, j+1)
    // when j % 8 != 7; vertical (j, j+8) when j < 56 — 0-based j,
    // element_at is 1-based
    val hEdges = (0 until 64).filter(_ % 8 != 7).map(j =>
      when(abs(el(j + 1) - el(j + 2)) > 32, 1L).otherwise(0L))
      .reduce(_ + _)
    val vEdges = (0 until 56).map(j =>
      when(abs(el(j + 1) - el(j + 9)) > 32, 1L).otherwise(0L))
      .reduce(_ + _)
    media
      .select(col("doc_id"), col("mime"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        cellGrid64.as("__cells"))
      .withColumn("__total",
        aggregate(col("__cells"), lit(0L), (acc, x) => acc + x))
      .select(Seq(col("doc_id"), col("mime"), col("n_bytes")) ++ hist ++
        Seq(expr("(__total * 1000000) div 64").as("mean_intensity_micro"),
          (hEdges + vEdges).as("n_edges")): _*)
      .withColumn("edge_density_micro",
        expr("(n_edges * 1000000) div 112"))
  }

  /** All pairs of payloads whose perceptual hashes differ in at most
    * `maxHamming` of 64 bits (must be <= 7 — the pigeonhole bound that
    * makes the band index exact). One shuffle on (band index, band value);
    * candidate volume is bounded by band-bucket sizes, never the corpus
    * pair count, and the 16-byte signatures — not payloads — are what
    * moves.
    */
  def phashNearDup(media: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 7,
      s"maxHamming=$maxHamming breaks pigeonhole exactness over 8 bands")
    val sig = graft.CacheScope.register(perceptualHash(media))
    val bands = sig.select(col("doc_id"), col("bands"),
      posexplode(col("bands")).as(Seq("band_idx", "band_val")))
    val a = bands.as("a")
    val b = bands.as("b")
    val cand = a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.bands").as("__ba"), col("b.bands").as("__bb"))
      .distinct()
    cand
      .withColumn("hamming",
        aggregate(zip_with(col("__ba"), col("__bb"),
            (x, y) => bit_count(x.bitwiseXOR(y)).cast("int")),
          lit(0), (acc, x) => acc + x))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }
}
