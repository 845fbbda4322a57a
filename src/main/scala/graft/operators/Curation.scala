package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** The composed training-data curation pipeline: quality filter →
  * language filter → exact dedup → near-dup removal, with a per-document
  * drop reason (first failing stage wins). This is the end-to-end shape a
  * corpus-cleaning job takes; every stage is one of the library's
  * operators, so the whole pipeline stays declarative and shuffles only
  * on fingerprints / shingle hashes.
  *
  * Near-dup removal keeps the LOWER doc id of every similar pair (the
  * deterministic greedy rule — it can keep two mutually-dissimilar docs
  * that share a dropped neighbor; for component-exact clustering compose
  * the pairs with [[Graphs.connectedComponents]] and keep each
  * component's min, as q55 does). Candidate generation is
  * [[Dedup.minhashNearDups]] — the
  * sub-quadratic 100 TB path: banded-LSH buckets (shuffle on (band,
  * bucket), never Σdf² shingle pairs) followed by exact-Jaccard
  * confirmation, so false candidates never survive and the only deviation
  * from the exact join is an LSH miss (~1.6e-7 per true pair at the
  * corpus's observed similarity floor, per q21's banding analysis —
  * deterministic given the fixed seeded hash families). The exact
  * reference is [[Dedup.ngramJaccardPairs]] — same output contract, no
  * LSH miss, but Σdf² postings pairs.
  */
object Curation {

  /** Returns (doc_id, status) for every input document, status ∈
    * {kept, quality, language, exact_dup, near_dup}.
    */
  def curate(docs: DataFrame, idCol: String, textCol: String, langCol: String,
      minTokens: Int, allowedLangs: Seq[String], fingerprintPrefix: Int,
      nearDupJac: Double): DataFrame = {
    val id = col(idCol)
    val staged = docs.select(id,
      (size(TextFns.tokens(col(textCol))) >= minTokens).as("__q_ok"),
      col(langCol).isin(allowedLangs: _*).as("__l_ok"),
      TextFns.prefixFingerprint(col(textCol), fingerprintPrefix).as("__fp"))
    val surv12 = staged.filter(col("__q_ok") && col("__l_ok"))
    val exactKept = surv12
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__fp")).orderBy(id)))
      .filter(col("__rn") === 1)
      .select(id)
    val nearDrops = Dedup.minhashNearDups(
        docs.join(exactKept, idCol), idCol, textCol, 3, k = 64, bands = 16,
        minJac = nearDupJac)
      .select(col("id_b").as(idCol)).distinct()
    staged
      .join(exactKept.withColumn("__exact_kept", lit(true)), Seq(idCol), "left")
      .join(nearDrops.withColumn("__near_drop", lit(true)), Seq(idCol), "left")
      .select(id, when(!col("__q_ok"), "quality")
        .when(!col("__l_ok"), "language")
        .when(col("__exact_kept").isNull, "exact_dup")
        .when(col("__near_drop").isNotNull, "near_dup")
        .otherwise("kept").as("status"))
  }

  /** The surviving documents (full rows) for a curate() run. */
  def kept(docs: DataFrame, statuses: DataFrame, idCol: String): DataFrame =
    docs.join(statuses.filter(col("status") === "kept").select(idCol), idCol)

  /** QUALITY-AWARE survivor election per duplicate cluster: instead of the
    * arbitrary keep-min-id rule, keep the member with the highest score
    * (ties to the smaller id — fully deterministic given an engine-exact
    * score column such as qualityFeatures' micro-unit integer
    * quality_score_micro). This is
    * the curation step after near-dup clustering: of N copies, retain the
    * cleanest one, not the first-crawled one.
    *
    * `clusters` is connectedComponents output (id, component); `scored`
    * carries (idCol, scoreCol). One id-keyed join plus one per-component
    * window — the window partitions on the cluster label, whose groups are
    * duplicate cliques (small by construction), so no skew risk at scale.
    * Returns (idCol, component, scoreCol, is_survivor) for every
    * CLUSTERED document; unclustered documents never enter the edge list
    * and survive by default (callers anti-join on the non-survivors).
    */
  def electSurvivors(clusters: DataFrame, scored: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    val w = Window.partitionBy(col("component"))
      .orderBy(col(scoreCol).desc, col(idCol))
    clusters.select(col("id").as(idCol), col("component"))
      .join(scored.select(col(idCol), col(scoreCol)), idCol)
      .withColumn("__rn", row_number().over(w))
      .select(col(idCol), col("component"), col(scoreCol),
        (col("__rn") === 1).as("is_survivor"))
  }

  /** CLUSTER-AWARE train/val/test split: the split is decided by the hash
    * of each document's near-dup CLUSTER id, not its own id, so
    * near-duplicates can never straddle a split boundary — the leakage
    * mode q141 AUDITS (a test doc near-duplicating a train doc inflates
    * eval), prevented at assignment time instead of patched afterwards.
    * Singleton documents are their own cluster (component = own id), so
    * they split exactly like [[Sampling.hashSplit]] would split them.
    *
    * Returns (idCol, component, split). Deterministic end to end: LSH
    * candidate generation uses the fixed seeded hash families, clustering
    * is min-label propagation, and the split is the md5 bucket of
    * `salt:component` — the same replayable bucket as hashSplit, so the
    * oracle can rebuild the whole assignment. Scale shape: q55's
    * sub-quadratic near-dup pipeline plus ONE id-keyed left join and a
    * projection; the split adds no shuffle of its own.
    */
  /** 2-D Pareto frontier (skyline): the rows not dominated on the
    * MAXIMIZE-(x, y) plane — `other` dominates `t` iff `other.x ≥ t.x ∧
    * other.y ≥ t.y` with at least one strict. The multi-criteria
    * curation primitive ("no doc on the frontier is beaten on BOTH
    * length and quality") that a single weighted score cannot express —
    * ties on BOTH coordinates are mutually non-dominating and all kept.
    *
    * Scale shape — NO global window over the input (the naive skyline
    * sorts the corpus into one task; the all-pairs oracle form is
    * O(n²)). x is bucketed at `bucketWidth`; any dominator has x' ≥ x,
    * hence lives in the same or a higher bucket, so domination splits
    * exactly into:
    *   - higher buckets: covered by the running max of per-bucket y
    *     maxima (a #buckets-row aggregate — the only global window,
    *     bounded by max(x)/bucketWidth — broadcast back);
    *   - same bucket: two PARTITIONED windows (x' > x via a desc range
    *     frame; x' = x via a (bucket, x) partition max).
    * Cost: one shuffle for the bucket aggregate + one window exchange on
    * the bucket. Anti-correlated (x, y) makes the TRUE frontier O(n) —
    * then the output, not the algorithm, is inherently large. Rows with
    * NULL x or y carry no dominance information and are dropped.
    *
    * `xCol` must be integral (the range frame and bucket floor are
    * integer-exact); returns the input rows (all columns) on the
    * frontier.
    */
  def paretoFrontier2D(df: DataFrame, xCol: String, yCol: String,
      bucketWidth: Long = 64L): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1: $bucketWidth")
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val pts = df.filter(x.isNotNull && y.isNotNull)
      .withColumn("__b", expr(s"CAST($xCol AS BIGINT) div $bucketWidth"))
    val bmax = pts.groupBy(col("__b")).agg(max(y).as("__bm"))
    // running max of y over STRICTLY higher buckets — #buckets rows
    val hmax = bmax.withColumn("__hmax",
      max(col("__bm")).over(Window.orderBy(col("__b").desc)
        .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__b"), col("__hmax"))
    val wGt = Window.partitionBy(col("__b")).orderBy(x.desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = Window.partitionBy(col("__b"), x)
    pts.join(broadcast(hmax), "__b")
      .withColumn("__gtmax", max(y).over(wGt))
      .withColumn("__eqmax", max(y).over(wEq))
      .filter((col("__hmax").isNull || y > col("__hmax")) &&
        (col("__gtmax").isNull || y > col("__gtmax")) &&
        y === col("__eqmax"))
      .drop("__b", "__hmax", "__gtmax", "__eqmax")
  }

  def clusterAwareSplit(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, minJac: Double, salt: String,
      splits: Seq[(String, Double)]): DataFrame = {
    val pairs = Dedup.minhashNearDups(docs, idCol, textCol, n, k, bands, minJac)
    val comps = Graphs.connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as(idCol), col("component"))
    val withComp = docs.select(col(idCol))
      .join(comps, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
    Sampling.hashSplit(withComp, "component", salt, splits)
  }
}
