package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  private def vecs = {
    import spark.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
      (2L, Array(2.0f, 0.0f, 0.0f)),   // parallel to 0
      (3L, Array(1.0f, 1.0f, 0.0f))    // 45° from 0
    ).toDF("vec_id", "embedding")
  }

  test("knnExact ranks by cosine desc with id tie-break and excludes self") {
    val out = Similarity.knnExact(vecs, vecs.filter(col("vec_id") === 0),
      "vec_id", "embedding", 3).collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(2L, 3L, 1L))
    assert(out.forall(_.getAs[Long]("query_id") == 0L))
  }

  test("pqTopK plans a bounded aggregation — no window anywhere (the " +
      "corpus x queries row_number shape must not regress)") {
    val emb = graft.GraftSession.table(spark, "/root/testdata/sf0.001",
      "embeddings")
    val df = Similarity.pqTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", 5, 8, 32, 64)
    try {
      def hasWindow(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            hasWindow(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            hasWindow(q.plan)
          case _: org.apache.spark.sql.execution.window.WindowExec => true
          case other => other.children.exists(hasWindow)
        }
      assert(!hasWindow(df.queryExecution.executedPlan),
        "ADC top-k planned a window — the bounded TopKAggregator shape regressed")
      assert(df.count() == 3 * 5)
    } finally graft.CacheScope.releaseAll()
  }

  test("hardNegatives: nearest OTHER-label vectors only; same-label and " +
      "null-label rows never appear") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), Some(1)),
      (1L, Array(0.99f, 0.1f, 0.0f), Some(1)),   // closest, but same label
      (2L, Array(0.9f, 0.3f, 0.0f), Some(2)),    // closest other-label
      (3L, Array(0.0f, 1.0f, 0.0f), Some(2)),    // orthogonal other-label
      (4L, Array(0.95f, 0.2f, 0.0f), None)       // null label → excluded
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(emb, emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", "label", 2)
      .orderBy(col("cos").desc).collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(2L, 3L))
  }

  test("array_dot native expression: SQL surface and value") {
    val r = spark.sql(
      "SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").collect()(0)
    assert(r.getDouble(0) == 11.0)
    // null array → null, standard binary-expression semantics
    val n = spark.sql(
      "SELECT array_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS d").collect()(0)
    assert(n.isNullAt(0))
  }

  test("semDedup prunes to the lowest-id member per semantic group, " +
      "within clusters only") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),      // seed cid 0
      (1L, Array(0.0f, 1.0f, 0.0f)),      // seed cid 1
      (2L, Array(0.999f, 0.01f, 0.0f)),   // cid 0, near-dup of 0
      (3L, Array(0.0f, 0.999f, 0.04f)),   // cid 1, near-dup of 1
      (4L, Array(0.7f, 0.7f, 0.0f)),      // equidistant → tie to cid 0; cos≈.707 < τ
      (5L, Array(0.999f, 0.012f, 0.0f))   // cid 0, near-dup of BOTH 0 and 2 → min id 0
    ).toDF("vec_id", "embedding")
    try {
      val out = Similarity.semDedup(emb, "vec_id", "embedding", k = 2, minCos = 0.9)
        .collect().map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Long]("cid"), r.getAs[Boolean]("is_kept"),
            Option(r.getAs[java.lang.Long]("pruned_by"))))).toMap
      assert(out(0L) == ((0L, true, None)))
      assert(out(1L) == ((1L, true, None)))
      assert(out(2L) == ((0L, false, Some(0L))))
      assert(out(3L) == ((1L, false, Some(1L))))
      assert(out(4L) == ((0L, true, None)))
      assert(out(5L) == ((0L, false, Some(0L))))
    } finally graft.CacheScope.releaseAll()
  }

  test("standardizeEmbeddings z-scores per dimension; constant dims go " +
      "null, not Inf") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(0.0f, 5.0f)),
      (1L, Array(2.0f, 5.0f)),
      (2L, Array(4.0f, 5.0f))).toDF("vec_id", "embedding")
    try {
      val out = Similarity.standardizeEmbeddings(emb, "vec_id", "embedding")
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("pos")) ->
          Option(r.getAs[java.lang.Double]("z"))).toMap
      // dim 0: m = 2e7 grid, ss = 8e14, std = sqrt(8e14/3)
      val std = math.sqrt(8e14 / 3.0)
      assert(math.abs(out((0L, 0)).get - (-2e7 / std)) < 1e-12)
      assert(out((1L, 0)).get == 0.0)
      assert(math.abs(out((2L, 0)).get - (2e7 / std)) < 1e-12)
      // dim 1 constant → null z on every row
      Seq(0L, 1L, 2L).foreach(i => assert(out((i, 1)).isEmpty))
    } finally graft.CacheScope.releaseAll()
  }

  test("robustScaleEmbeddings: outliers cannot inflate the MAD scale; " +
      "zero-MAD dims go null") {
    import spark.implicits._
    // dim 0 grid values: 1e6, 2e6, 2e6, 3e6, 1e8 → lower median 2e6,
    // |dev| = {1e6, 0, 0, 1e6, 9.8e7} → MAD 1e6 (std would be ~4e7)
    // dim 1 constant → MAD 0 → null
    val emb = Seq(
      (0L, Array(0.1f, 0.5f)), (1L, Array(0.2f, 0.5f)),
      (2L, Array(0.2f, 0.5f)), (3L, Array(0.3f, 0.5f)),
      (4L, Array(10f, 0.5f))).toDF("vec_id", "embedding")
    try {
      val out = Similarity.robustScaleEmbeddings(emb, "vec_id", "embedding")
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("pos")) ->
          Option(r.getAs[java.lang.Double]("rz"))).toMap
      assert(out((0L, 0)).get == -1.0)
      assert(out((1L, 0)).get == 0.0)
      assert(out((3L, 0)).get == 1.0)
      assert(out((4L, 0)).get == 98.0)
      Seq(0L, 1L, 2L, 3L, 4L).foreach(i => assert(out((i, 1)).isEmpty))
    } finally graft.CacheScope.releaseAll()
  }

  test("nearDupExact returns only pairs above the threshold") {
    val out = Similarity.nearDupExact(vecs, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(out == Set((0L, 2L)))
  }

  test("knnExactAgg (bounded top-k aggregator) equals the window-based knnExact") {
    import spark.implicits._
    val emb = graft.GraftSession.table(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val win = Similarity.knnExact(emb, queries, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val agg = Similarity.knnExactAgg(emb, queries, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(agg == win)
  }

  test("knnIvf with full probing equals knnExact; partial probing is a subset") {
    import spark.implicits._
    // 20 vectors in two well-separated clusters around (1,0,0) and (0,1,0)
    val vs = ((0 until 10).map(i => (i.toLong,
        Array(1.0f + i * 0.01f, i * 0.005f, 0.0f))) ++
      (10 until 20).map(i => (i.toLong,
        Array(i * 0.005f, 1.0f + i * 0.01f, 0.0f)))).toDF("vec_id", "embedding")
    val queries = vs.filter(col("vec_id").isin(0, 10))
    val exact = Similarity.knnExact(vs, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Similarity.knnIvf(vs, queries, "vec_id", "embedding", 3,
      nlist = 2, nProbe = 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact)
    val one = Similarity.knnIvf(vs, queries, "vec_id", "embedding", 3,
      nlist = 2, nProbe = 1).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one.subsetOf(exact))
    // cluster separation: probing 1 cell still finds all 3 same-cluster nns
    assert(one == exact)
  }

  test("nearDupLshBanded finds parallel pairs (sign pattern invariant to scaling)") {
    val out = Similarity.nearDupLshBanded(vecs, "vec_id", "embedding", 0.99,
        planesPerBand = 2, bands = 4, dim = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(out == Set((0L, 2L)))
  }

  test("nearDupLshBanded on testdata: subset of exact, identical cosines, full recall") {
    val emb = graft.GraftSession.table(spark, "/root/testdata/sf0.01", "embeddings")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("cos"))
      .toMap
    val exact = toMap(Similarity.nearDupExact(emb, "vec_id", "embedding", 0.45))
    val banded = toMap(Similarity.nearDupLshBanded(emb, "vec_id", "embedding",
      0.45, planesPerBand = 6, bands = 16, dim = 64))
    graft.CacheScope.releaseAll()
    // every banded pair is an exact pair with the SAME quantized cosine
    banded.foreach { case (pair, cos) => assert(exact(pair) == cos) }
    // recall floor the q25b parameters are chosen for: 1.0 on this data.
    // If a plane/quantizer change silently drops recall, this goes red.
    assert(banded.keySet == exact.keySet,
      s"recall ${banded.size}/${exact.size}: missing ${exact.keySet -- banded.keySet}")
  }

  test("embLshIndexProbe equals the cross-batch slice of nearDupLshBanded " +
      "on the union corpus (same banded recall, identical cosines)") {
    val emb = graft.GraftSession.table(spark, "/root/testdata/sf0.01", "embeddings")
    val idx = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val (ib, iv) = Similarity.embLshIndexRelations(idx, "vec_id", "embedding",
      planesPerBand = 6, bands = 16, dim = 64)
    val probe = Similarity.embLshIndexProbe(ib, iv, batch, "vec_id",
        "embedding", 0.45, planesPerBand = 6, bands = 16, dim = 64)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("cos")).toMap
    // the one-shot union run, restricted to cross-parity pairs (canonical
    // a<b order covers both orientations: even<odd and odd<even)
    val union = Similarity.nearDupLshBanded(emb, "vec_id", "embedding",
        0.45, planesPerBand = 6, bands = 16, dim = 64)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("cos"))
      .collect { case ((a, b), c) if a % 2 != b % 2 =>
        (if (a % 2 == 0) (a, b) else (b, a)) -> c }
      .toMap
    graft.CacheScope.releaseAll()
    assert(probe == union,
      s"probe ${probe.size} pairs vs union cross-slice ${union.size}")
    assert(probe.nonEmpty) // vacuous-equality guard
  }

  test("knnIvf recall@5 >= 0.9 vs exact kNN on testdata (q31's parameters)") {
    // Gates ANN QUALITY, not just machinery: a quantizer/assignment change
    // that silently tanks recall turns this red even though q31 itself is
    // rows-only (approximate results have no SQL oracle).
    val emb = graft.GraftSession.table(spark, "/root/testdata/sf0.01", "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    def top5(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = top5(Similarity.knnExact(emb, queries, "vec_id", "embedding", 5))
    val ivf = top5(Similarity.knnIvf(emb, queries, "vec_id", "embedding", 5,
      nlist = 16, nProbe = 4))
    val hits = exact.map { case (q, ids) => (ids & ivf.getOrElse(q, Set.empty)).size }.sum
    val total = exact.values.map(_.size).sum
    val recall = hits.toDouble / total
    assert(recall >= 0.9, s"recall@5 = $recall ($hits/$total)")
  }

  test("pqSearchRerank recall@5 vs exact kNN on testdata (q91's parameters)") {
    // PQ is approximate by construction (codes, not vectors, shortlist);
    // the q91 oracle pins the approximation bit-exact, and THIS pins its
    // quality: a codebook/encode change that tanks recall goes red here.
    // Final recall = the ADC shortlist's recall@50, which is what the
    // rerank pattern buys over raw ADC top-5.
    val emb = graft.GraftSession.table(spark, "/root/testdata/sf0.01", "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    def topIds(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = topIds(Similarity.knnExact(emb, queries, "vec_id", "embedding", 5))
    val pq = topIds(Similarity.pqSearchRerank(emb, queries, "vec_id", "embedding",
      k = 5, shortlist = 50, m = 8, ksub = 32, dim = 64))
    val hits = exact.map { case (q, ids) => (ids & pq.getOrElse(q, Set.empty)).size }.sum
    val total = exact.values.map(_.size).sum
    val recall = hits.toDouble / total
    assert(recall >= 0.8, s"recall@5 = $recall ($hits/$total)")
  }

  test("int8Quantize: codes bounded, max component saturates, dequant error <= scale/254") {
    val q = Similarity.int8Quantize(vecs, "vec_id", "embedding").collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      val scale = r.getAs[Long]("scale_micro")
      val codes = r.getSeq[Int](r.fieldIndex("codes"))
      assert(codes.forall(c => math.abs(c) <= 127))
      // the max-|component| entry must hit exactly +/-127
      assert(codes.exists(c => math.abs(c) == 127) || scale == 0)
      assert(r.getAs[Int]("n_saturated") == codes.count(c => math.abs(c) == 127))
    }
  }

  test("embeddingOutliers flags the far vector, assigns near ones to their seed") {
    import spark.implicits._
    // seeds are ids 0,1 (axis-aligned); id 2 hugs seed 0, id 3 is far
    // from both (distance² to either ≈ 2 + 100² in grid² units)
    val vs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.99f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 100.0f))).toDF("vec_id", "embedding")
    val out = Similarity.embeddingOutliers(vs, "vec_id", "embedding",
        k = 2, maxD2 = 1e14 /* (1 unit)² on the 1e7 grid = 1e14 */)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(3))).toMap
    assert(out(0L) == ((0L, false)) && out(1L) == ((1L, false)))
    assert(out(2L) == ((0L, false)))   // near seed 0, inside the fence
    assert(out(3L)._2)                 // far from every centroid
  }

  test("lloydStep: members join their nearest seed, means are exact, " +
      "and a step from planted clusters recovers the cluster means") {
    import spark.implicits._
    // two tight clusters around (1,0) and (0,1); seeds = ids 0 and 1,
    // one in each cluster
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (4L, Seq(0.8f, 0.0f)),
      (1L, Seq(0.0f, 1.0f)), (3L, Seq(0.1f, 0.9f)), (5L, Seq(0.0f, 0.8f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.lloydStep(vecs, "vec_id", "embedding", 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    // every (cid, pos) cell has the full cluster membership of 3
    assert(out.values.forall(_._2 == 3L))
    // exact means: cluster 0 dims = (1.0+0.9+0.8)/3, (0.0+0.1+0.0)/3
    assert(math.abs(out((0L, 0))._1 - 0.9) < 1e-9)
    assert(math.abs(out((0L, 1))._1 - (0.1 / 3)) < 1e-9)
    assert(math.abs(out((1L, 0))._1 - (0.1 / 3)) < 1e-9)
    assert(math.abs(out((1L, 1))._1 - 0.9) < 1e-9)
  }

  test("lloydIterate: a converged clustering is a fixed point — the " +
      "second round reproduces the first round's centroids") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (4L, Seq(0.8f, 0.0f)),
      (1L, Seq(0.0f, 1.0f)), (3L, Seq(0.1f, 0.9f)), (5L, Seq(0.0f, 0.8f))
    ).toDF("vec_id", "embedding")
    def run(iters: Int) =
      Similarity.lloydIterate(vecs, "vec_id", "embedding", 2, iters)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
        .toMap
    val one = run(1)
    val two = run(2)
    graft.CacheScope.releaseAll()
    assert(two == one) // clusters are well-separated → round 2 changes nothing
    assert(one.values.forall(_._2 == 3L))
  }

  test("randomProjection: deterministic ±1 signs, integer-exact coordinates") {
    import spark.implicits._
    val xs = Seq(0.5, -0.25, 0.125, 1.0)
    val v = Seq((1L, xs.map(_.toFloat))).toDF("vec_id", "embedding")
    val out = Similarity.randomProjection(v, "vec_id", "embedding", 2, 4)
      .orderBy("j").collect().map(r => r.getInt(1) -> r.getLong(2)).toSeq
    val expected = (0 until 2).map { j =>
      j -> (0 until 4).map { d =>
        val s = if (graft.functions.Hashing.h60Local(s"rp:$j:$d") % 2 == 0) 1L else -1L
        s * math.round(xs(d) * 1e7)
      }.sum
    }
    assert(out == expected)
    // linearity sanity: projecting 2x doubles every coordinate exactly
    val v2 = Seq((1L, xs.map(x => (x * 2).toFloat))).toDF("vec_id", "embedding")
    val out2 = Similarity.randomProjection(v2, "vec_id", "embedding", 2, 4)
      .orderBy("j").collect().map(_.getLong(2)).toSeq
    assert(out2 == expected.map(_._2 * 2))
  }

  test("embeddingCovariance: hand-computed 2x2 sample covariance") {
    import spark.implicits._
    // vectors (1,0), (0,1), (1,1): var(x)=var(y)=1/3, cov(x,y)=-1/6
    val v = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.embeddingCovariance(v, "vec_id", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getAs[Double]("cov"))).toMap
    assert(out.size == 3)
    assert(out((0, 0))._1 == 3L)
    assert(math.abs(out((0, 0))._2 - 1.0 / 3) < 1e-12)
    assert(math.abs(out((1, 1))._2 - 1.0 / 3) < 1e-12)
    assert(math.abs(out((0, 1))._2 - (-1.0 / 6)) < 1e-12)
  }

  test("groupCentroidDistances: hand-computed centroid L2") {
    import spark.implicits._
    // a: centroid (1,0); b: centroid (0,4) -> dist = sqrt(17)
    val df = Seq(("a", Seq(0f, 0f)), ("a", Seq(2f, 0f)),
      ("b", Seq(0f, 3f)), ("b", Seq(0f, 5f))).toDF("src", "embedding")
    val out = Similarity.groupCentroidDistances(df, "src", "embedding")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("dist")).toMap
    assert(out.size == 1)
    assert(math.abs(out(("a", "b")) - math.sqrt(17.0)) < 1e-9)
  }

  test("pcaModel cache keys on the vector column: same frame, different " +
      "vecCol trains a fresh model (ADVICE r6 regression)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // v1 spreads along dim0, v2 along dim1 — their top components differ
    val rows = (1L to 80L).map { i =>
      val a = rnd.nextGaussian()
      (i, Seq((a * 10).toFloat, a.toFloat), Seq(a.toFloat, (a * 10).toFloat))
    }
    val df = rows.toDF("vec_id", "v1", "v2")
    // the contract check projects vecCol onto the cached basis: a stale
    // v1-keyed hit on v2 would project v2 onto v1's top component, whose
    // variance (~4 var(a)) misses v1's eigenvalue (~101 var(a)), so
    // cov_ok would fail
    def contractHolds(vecCol: String): Boolean = {
      val out = Similarity.pcaContractCheck(df, "vec_id", vecCol, 1).collect()
      out.length == 1 &&
        out.forall(r => r.getAs[Boolean]("ortho_ok") && r.getAs[Boolean]("cov_ok"))
    }
    assert(contractHolds("v1"))
    assert(contractHolds("v2"))
  }

  test("sourceSilhouette: perfectly separated singletons score exactly 1; " +
      "a vector sitting on another group's centroid scores negative") {
    import spark.implicits._
    val sep = Seq(
      (1L, "a", Array(1.0f, 0.0f)),
      (2L, "b", Array(0.0f, 1.0f))
    ).toDF("id", "grp", "vec")
    val out = Similarity.sourceSilhouette(sep, "grp", "vec")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    // singleton at its own centroid: a = 0, b = |c_a - c_b| > 0 -> s = 1
    assert(out == Map("a" -> ((1L, 1000000L)), "b" -> ((1L, 1000000L))))

    // group a has an outlier ON b's centroid: its a > 0, b = 0 -> s = -1
    val mixed = Seq(
      (1L, "a", Array(1.0f, 0.0f)),
      (2L, "a", Array(1.0f, 0.0f)),
      (3L, "a", Array(-1.0f, 0.0f)), // pulls a's centroid to (1/3, 0)
      (4L, "b", Array(-1.0f, 0.0f)),
      (5L, "b", Array(-1.0f, 0.0f))
    ).toDF("id", "grp", "vec")
    val m = Similarity.sourceSilhouette(mixed, "grp", "vec")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(m("a")._1 == 3L && m("b")._1 == 2L)
    // vector 3 sits exactly on b's centroid: s_3 = -1; the two core a
    // vectors are closer to a's centroid than to b's: s > 0 -> the group
    // mean is pulled below the core vectors' score but stays > -1
    assert(m("a")._3 < m("b")._3)
    assert(m("b")._3 == 1.0) // both b vectors AT b's centroid, far from a's
    // determinism across partitionings
    val m2 = Similarity.sourceSilhouette(mixed.repartition(5), "grp", "vec")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(m2 == m.map { case (k, v) => k -> v._2 })
  }

  test("rrfFuse: hand-checked contributions, score ties broken by id, " +
      "ids in both lists sum both ranks, final order (rrf desc, id)") {
    import spark.implicits._
    // list 1 ranks: 3→1 (9.0), then the 5.0 tie breaks by id: 1→2, 2→3
    val l1 = Seq((3L, 9.0), (1L, 5.0), (2L, 5.0)).toDF("id", "score")
    // list 2 ranks: 2→1, 9→2
    val l2 = Seq((2L, 0.9), (9L, 0.8)).toDF("id", "score")
    val out = Similarity.rrfFuse(Seq(l1, l2), "id", "score",
        kConst = 60, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def c(r: Int): Long = 1000000L / (60 + r)
    val expected = Map(3L -> c(1), 1L -> c(2), 2L -> (c(3) + c(1)),
      9L -> c(2))
    out.foreach { case (id, rrf, _) => assert(rrf == expected(id),
      s"id $id: got $rrf want ${expected(id)}") }
    // 2 fused from BOTH lists (32266) leads; 1 and 9 tie at c(2) → id asc
    assert(out.map(_._1).toSeq == Seq(2L, 3L, 1L, 9L))
    assert(out.find(_._1 == 2L).get._3 == 2L) // n_lists
    assert(out.filter(_._1 != 2L).forall(_._3 == 1L))
  }

  test("matryoshkaRecall: full-length truncation recalls exactly 1.0; " +
      "shorter prefixes stay in [0, 1]; query count pinned") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.matryoshkaRecall(emb, "vec_id", "embedding",
        col("vec_id") < 5, 5, Seq(8, 64))
      .collect()
      .map(r => r.getAs[Int]("dims") ->
        (r.getAs[Long]("n_queries"), r.getAs[Long]("n_overlap"),
          r.getAs[Long]("recall_micro"))).toMap
    graft.CacheScope.releaseAll()
    // 64 = the full vector length: the "truncated" top-k IS the full
    // top-k, so overlap is perfect by construction
    assert(out(64) == ((5L, 25L, 1000000L)))
    val (nq8, ov8, rec8) = out(8)
    assert(nq8 == 5L && ov8 >= 0L && ov8 <= 25L)
    assert(rec8 == (ov8 * 1000000L) / 25L)
  }

  test("binaryQuantRecall: orthant-separated clusters recall 1.0; " +
      "recall bounded on real embeddings; one row per query") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Two sign-orthant clusters of 6 vectors each (dims 0-31 positive vs
    // dims 32-63 positive, small within-cluster jitter on magnitudes
    // only): every vector's binary signature equals its cluster mask, so
    // Hamming separates the clusters perfectly and cosine agrees —
    // binary top-5 must equal exact top-5 for every query.
    val dim = 64
    val vecs = (0 until 12).map { i =>
      val cluster = i % 2
      val v = Array.tabulate(dim) { d =>
        val active = if (cluster == 0) d < 32 else d >= 32
        if (active) 1.0f + 0.01f * ((i * 7 + d) % 5) else -1.0f - 0.01f * ((i * 3 + d) % 5)
      }
      (i.toLong, v)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val out = Similarity.binaryQuantRecall(emb, "vec_id", "embedding",
      col("vec_id") < 4, 5, dim).collect()
    graft.CacheScope.releaseAll()
    assert(out.length == 4)
    assert(out.map(_.getAs[Long]("query_id")).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(out.forall(_.getAs[Long]("n_overlap") == 5L))
    assert(out.forall(_.getAs[Long]("recall_micro") == 1000000L))
    // Real embeddings: recall in [0, 1e6], overlap consistent, rows = nq
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ro = Similarity.binaryQuantRecall(real, "vec_id", "embedding",
      col("vec_id") < 5, 5, dim).collect()
    graft.CacheScope.releaseAll()
    assert(ro.length == 5)
    assert(ro.forall { r =>
      val ov = r.getAs[Long]("n_overlap")
      ov >= 0L && ov <= 5L &&
        r.getAs[Long]("recall_micro") == (ov * 1000000L) / 5L
    })
  }

  test("ivfPqSearch: full probing + full shortlist recovers the exact " +
      "top-5; q304's partial probing passes its recall gate") {
    val emb = graft.GraftSession.table(spark, "/root/testdata/sf0.01",
      "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    // nProbe = nlist and a corpus-sized shortlist degenerate IVFADC to
    // the exact search — the composition must hit recall 1.0 exactly
    val full = Similarity.ivfPqSearch(emb, queries, "vec_id", "embedding",
      k = 5, shortlist = 400, m = 8, ksub = 32, dim = 64,
      nlist = 16, nProbe = 16, minRecallMicro = 1000000L).collect().head
    assert(full.getAs[Long]("n_queries") == 10L &&
      full.getAs[Boolean]("recall_ok"))
    graft.CacheScope.releaseAll()
    // the registry operating point: 6/16 cells probed, shortlist 50
    val part = Similarity.ivfPqSearch(emb, queries, "vec_id", "embedding",
      k = 5, shortlist = 50, m = 8, ksub = 32, dim = 64,
      nlist = 16, nProbe = 6).collect().head
    assert(part.getAs[Boolean]("recall_ok"))
  }

  test("ivfRecallCurve: recall climbs monotonically with probes and " +
      "full probing is exactly the exact search") {
    val emb = graft.GraftSession.table(spark, "/root/testdata/sf0.01",
      "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val out = Similarity.ivfRecallCurve(emb, queries, "vec_id",
      "embedding", k = 5, nlist = 16, probes = Seq(1, 4, 16)).collect()
    assert(out.map(_.getAs[Long]("nprobe")).toSeq == Seq(1L, 4L, 16L))
    assert(out.forall(_.getAs[Boolean]("monotone_ok")))
    assert(out.forall(_.getAs[Boolean]("full_exact_ok")))
    val rec = out.map(_.getAs[Long]("recall_micro"))
    assert(rec.sorted.toSeq == rec.toSeq) // truly non-decreasing
    assert(rec.last == 1000000L)
  }

  test("ndcgAtK: hand-computed DCG/IDCG on a tiny ranking; perfect " +
      "ranking scores 1") {
    import spark.implicits._
    // system ranks ids 1,2,3 (score desc); grades: id2=3, id1=1, id3=0
    val ranked = Seq((1L, 1L, 0.9), (1L, 2L, 0.8), (1L, 3L, 0.7))
      .toDF("query_id", "id", "score")
    val graded = Seq((1L, 1L, 1L), (1L, 2L, 3L), (1L, 3L, 0L))
      .toDF("query_id", "id", "rel")
    val out = Similarity.ndcgAtK(ranked, graded, 3).collect().head
    // DCG = (2^1-1)/log2(2) + (2^3-1)/log2(3) + 0 = 1 + 7/1.58496...
    val dcg = math.round((math.pow(2, 1) - 1) / (math.log(2) / math.log(2)) * 1e6) +
      math.round((math.pow(2, 3) - 1) / (math.log(3) / math.log(2)) * 1e6)
    assert(out.getAs[Long]("dcg_micro") == dcg)
    // IDCG ranks rel desc: 3 at pos1, 1 at pos2
    val idcg = math.round(7.0 * 1e6) +
      math.round(1.0 / (math.log(3) / math.log(2)) * 1e6)
    assert(out.getAs[Long]("idcg_micro") == idcg)
    assert(out.getAs[Double]("ndcg") == dcg.toDouble / idcg)
    // ideal ordering as the system ranking -> ndcg exactly 1
    val perfect = Seq((1L, 2L, 0.9), (1L, 1L, 0.8), (1L, 3L, 0.7))
      .toDF("query_id", "id", "score")
    val p = Similarity.ndcgAtK(perfect, graded, 3).collect().head
    assert(p.getAs[Double]("ndcg") == 1.0)
  }

  test("ivfIndexProbe: parquet-roundtripped index replays " +
      "knnIvfWithCentroids bit-for-bit at partial probing; full probing " +
      "is the exact search") {
    val emb = graft.GraftSession.table(spark, "/root/testdata/sf0.01",
      "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val (cellRel, centRel) = Similarity.ivfIndexRelations(emb, "vec_id",
      "embedding", nlist = 16, iters = 5)
    val dir = tempDir("graft-ivf-idx")
    cellRel.write.parquet(s"$dir/cells")
    centRel.write.parquet(s"$dir/cents")
    graft.CacheScope.releaseAll()
    val cellsBack = spark.read.parquet(s"$dir/cells")
    val centsBack = spark.read.parquet(s"$dir/cents")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
        r.getAs[Double]("cos"))).toSeq
    val probed = rows(Similarity.ivfIndexProbe(cellsBack, centsBack,
      queries, "vec_id", "embedding", k = 5, nProbe = 6))
    // the inline path with the SAME deterministic trainer
    val cents = Similarity.ivfTrainDistributed(emb, "vec_id", "embedding",
      16, 5)
    graft.CacheScope.releaseAll()
    val inline = rows(Similarity.knnIvfWithCentroids(emb, queries,
        "vec_id", "embedding", 5, 6, cents)
      .orderBy(col("query_id"), col("cos").desc, col("id")))
    assert(probed == inline,
      "persisted probe diverged from the inline IVF at nProbe=6")
    // full probing degenerates to the exact top-5
    val full = rows(Similarity.ivfIndexProbe(cellsBack, centsBack,
      queries, "vec_id", "embedding", k = 5, nProbe = 16))
    val exact = rows(Similarity.knnExact(emb, queries, "vec_id",
        "embedding", 5)
      .orderBy(col("query_id"), col("cos").desc, col("id")))
    assert(full == exact, "full-probe persisted IVF != exact kNN")
    graft.CacheScope.releaseAll()
  }

  test("rboAtK: identical rankings score ~1 (truncated tail mass); " +
      "disjoint rankings score 0") {
    import spark.implicits._
    val a = Seq((1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.7))
      .toDF("query_id", "id", "score")
    val same = Similarity.rboAtK(a, a, 3, 900000L).collect().head
    assert(same.getAs[Long]("n_overlap") == 3L)
    // sum_{d=1..3} 0.1*0.9^(d-1)*d/d = 0.1*(1+0.9+0.81) = 0.271
    val expect = (1 to 3).map(d => math.round(
      (1.0 - 0.9) * math.pow(0.9, d - 1.0) * 1e6)).sum
    assert(same.getAs[Long]("rbo_micro") == expect)
    val b = Seq((1L, 20L, 0.9), (1L, 21L, 0.8), (1L, 22L, 0.7))
      .toDF("query_id", "id", "score")
    val disj = Similarity.rboAtK(a, b, 3, 900000L).collect().head
    assert(disj.getAs[Long]("n_overlap") == 0L)
    assert(disj.getAs[Long]("rbo_micro") == 0L)
  }

  test("rboAtK: a query answered by only ONE system appears in the " +
      "spine with rbo 0, from either side (ADVICE r10 symmetry fix)") {
    import spark.implicits._
    val a = Seq((1L, 10L, 0.9), (2L, 20L, 0.8))
      .toDF("query_id", "id", "score")
    val b = Seq((1L, 10L, 0.9), (3L, 30L, 0.7))
      .toDF("query_id", "id", "score")
    val ab = Similarity.rboAtK(a, b, 3, 900000L).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("rbo_micro"))
      .toMap
    // spine = union: q2 (a-only) AND q3 (b-only) both report 0
    assert(ab.keySet == Set(1L, 2L, 3L))
    assert(ab(2L) == 0L && ab(3L) == 0L && ab(1L) > 0L)
    // and the operator is symmetric on the spine
    val ba = Similarity.rboAtK(b, a, 3, 900000L).collect()
      .map(_.getAs[Long]("query_id")).toSet
    assert(ba == Set(1L, 2L, 3L))
  }
}
