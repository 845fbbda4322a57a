package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFns, UnigramTokenizer, UrlFns}
import graft.operators.{Analytics, Clean, Curation, Dedup, Graphs, Joins, Multimodal, Quality, Sampling, Similarity, Sketches, Skew, Temporal, TextOps, Warehouse}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 is exposed as a named query over the
  * driver's testdata star schema, each with an equivalent ANSI SQL oracle the
  * driver runs in DuckDB over the same parquet files. Numeric conventions for
  * engine-independent results:
  *   - double measures are summed through DECIMAL and returned as double
  *     (bit-exact regardless of partitioning / engine);
  *   - `events.ts` is TIMESTAMP(MICROS) in the testdata and loads as is;
  *     `GraftSession.table` truncates a nanos-written `ts` to microseconds,
  *     matching DuckDB's reader; oracles `CAST(ts AS TIMESTAMP)` likewise;
  *   - every query ends in a total sort or is an aggregation.
  */
object SparkEntry {

  private case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.table(s, dir, name)

  /** Per-invocation scratch root under java.io.tmpdir for queries that
    * persist an index/table as part of their pipeline (q357, q363). The
    * per-PID suffix isolates concurrent bench lanes; each call sweeps
    * SIBLING trees whose embedded pid is dead (a finished process cannot
    * delete its own tree — the result reads it lazily at execution), so
    * tmp growth is bounded by live processes (ADVICE r11).
    */
  private def tmpWorkDir(family: String, dir: String): String = {
    val sfx = dir.replaceAll("[^A-Za-z0-9]", "_") +
      s"_p${ProcessHandle.current().pid()}"
    val base = s"${sys.props("java.io.tmpdir")}/$family"
    try {
      val root = java.nio.file.Paths.get(base)
      if (java.nio.file.Files.isDirectory(root)) {
        val pidRe = ".*_p(\\d+)$".r
        val ls = java.nio.file.Files.list(root)
        try ls.forEach { p =>
          p.getFileName.toString match {
            case pidRe(pid) if ProcessHandle.of(pid.toLong)
                .map[Boolean](_ => false).orElse(true) =>
              import scala.jdk.CollectionConverters._
              val walk = java.nio.file.Files.walk(p)
              try walk.sorted(java.util.Comparator.reverseOrder())
                .iterator().asScala
                .foreach(java.nio.file.Files.deleteIfExists(_))
              finally walk.close()
            case _ => ()
          }
        } finally ls.close()
      }
    } catch { case _: Exception => () }
    s"$base/$sfx"
  }

  /** THE shared banded-MinHash near-dup pair relation (3-gram shingles,
    * 64 hash families, 16 bands, jaccard ≥ 0.8) that the whole dedup /
    * graph / curation family consumes — q21/q55/q64/q95/q118/q141/q154/
    * q164/q171/q185/q199/q200/q211/q217 and friends all read the SAME
    * pairs, so they must derive them through ONE builder (round-7
    * verdict #8): the relation is CacheScope-registered here, so within
    * a query every consumer (CC fixpoint + pageRank, histogram + gini,
    * ...) shares one materialization instead of re-running the LSH
    * pipeline, and Spark's plan-matching cache lookup makes even
    * call sites that separately re-derive `documents` hit the same
    * blocks. Cross-QUERY the cache is dropped by the harness's
    * releaseAll — by design (bench isolation).
    */
  private def lshPairs(s: SparkSession, dir: String): DataFrame =
    graft.CacheScope.register(
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        3, 64, 16, 0.8))

  // Exact cosine top-5 for query vectors vec_id < 10 (quantized-exact dot
  // products) — shared by q24 (brute-force path) and q31b (IVF at full
  // probing, where the approximate index degenerates to the exact answer).
  private val knnTop5OracleSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS id, embedding AS cv FROM embeddings),
        scored AS (SELECT query_id, id,
          list_aggregate(list_transform(range(1, len(qv) + 1),
            i -> round(CAST(qv[i] AS DOUBLE) * 1e7) * round(CAST(cv[i] AS DOUBLE) * 1e7)), 'sum')
          / SQRT(
            list_aggregate(list_transform(range(1, len(qv) + 1),
              i -> round(CAST(qv[i] AS DOUBLE) * 1e7) * round(CAST(qv[i] AS DOUBLE) * 1e7)), 'sum')
            * list_aggregate(list_transform(range(1, len(cv) + 1),
              i -> round(CAST(cv[i] AS DOUBLE) * 1e7) * round(CAST(cv[i] AS DOUBLE) * 1e7)), 'sum')) AS cos
          FROM q JOIN c ON query_id <> id)
        SELECT query_id, id, cos FROM scored
        QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) <= 5
        ORDER BY query_id, cos DESC, id"""

  /** DuckDB replay of [[Similarity.nearDupLshBanded]] — the same
    * deterministic plane family (h60("plane:p:d") % 1e6 - 5e5 integer
    * coefficients), the same exact integer-grid sign dots, the same
    * (band, bucket) candidate join + distinct, the same quantized-exact
    * confirm. Every intermediate is integer-valued double < 2^53, so both
    * engines compute identical signs and cosines regardless of summation
    * order.
    */
  private def nearDupLshOracleSql(minCos: Double, planesPerBand: Int,
      bands: Int, dim: Int): String = {
    val nPlanes = bands * planesPerBand
    def qdotSql(a: String, b: String): String =
      s"list_aggregate(list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i]), 'sum')"
    s"""WITH v AS (SELECT vec_id AS id,
          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e7)) AS qv
        FROM embeddings),
      pd AS (SELECT CAST(p AS INTEGER) AS p,
          list(CAST(CAST('0x' || substr(md5('plane:' || p || ':' || d), 1, 15) AS BIGINT)
               % 1000000 - 500000 AS DOUBLE) ORDER BY d) AS plane
        FROM range($nPlanes) t1(p) CROSS JOIN range($dim) t2(d) GROUP BY p),
      dots AS (SELECT v.id, pd.p, ${qdotSql("v.qv", "pd.plane")} AS dot
        FROM v CROSS JOIN pd),
      keys AS (SELECT id, p // $planesPerBand AS band,
          SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << (p % $planesPerBand) ELSE 0 END) AS bkt
        FROM dots GROUP BY id, band),
      cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM keys a JOIN keys b
        ON a.band = b.band AND a.bkt = b.bkt AND a.id < b.id),
      scored AS (SELECT id_a, id_b,
          ${qdotSql("va.qv", "vb.qv")}
          / SQRT(${qdotSql("va.qv", "va.qv")} * ${qdotSql("vb.qv", "vb.qv")}) AS cos
        FROM cand JOIN v va ON va.id = cand.id_a JOIN v vb ON vb.id = cand.id_b)
      SELECT id_a, id_b, cos FROM scored WHERE cos >= $minCos
      ORDER BY id_a, id_b"""
  }

  /** DuckDB replay of [[q322]]'s persisted-index PROBE: the q25b banded
    * construction restricted to cross-batch candidates (indexed even ids
    * × probed odd ids) — band keys, candidate distinct, and the exact
    * cosine confirm all replay bit-for-bit, so the gate checks the
    * index/probe split itself, not just "some pairs came out".
    */
  private def embIndexProbeOracleSql(minCos: Double, planesPerBand: Int,
      bands: Int, dim: Int): String = {
    val nPlanes = bands * planesPerBand
    def qdotSql(a: String, b: String): String =
      s"list_aggregate(list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i]), 'sum')"
    s"""WITH v AS (SELECT vec_id AS id,
          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e7)) AS qv
        FROM embeddings),
      pd AS (SELECT CAST(p AS INTEGER) AS p,
          list(CAST(CAST('0x' || substr(md5('plane:' || p || ':' || d), 1, 15) AS BIGINT)
               % 1000000 - 500000 AS DOUBLE) ORDER BY d) AS plane
        FROM range($nPlanes) t1(p) CROSS JOIN range($dim) t2(d) GROUP BY p),
      dots AS (SELECT v.id, pd.p, ${qdotSql("v.qv", "pd.plane")} AS dot
        FROM v CROSS JOIN pd),
      keys AS (SELECT id, p // $planesPerBand AS band,
          SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << (p % $planesPerBand) ELSE 0 END) AS bkt
        FROM dots GROUP BY id, band),
      cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM keys a JOIN keys b
        ON a.band = b.band AND a.bkt = b.bkt
        WHERE a.id % 2 = 0 AND b.id % 2 = 1),
      scored AS (SELECT id_a, id_b,
          ${qdotSql("va.qv", "vb.qv")}
          / SQRT(${qdotSql("va.qv", "va.qv")} * ${qdotSql("vb.qv", "vb.qv")}) AS cos
        FROM cand JOIN v va ON va.id = cand.id_a JOIN v vb ON vb.id = cand.id_b)
      SELECT id_a, id_b, cos FROM scored WHERE cos >= $minCos
      ORDER BY id_a, id_b"""
  }

  /** DuckDB CTE producing the exact quantized-cosine top-`k` per query
    * (vec_id < 10) over the FIRST `dims` dimensions — `name` is the CTE
    * emitted; used by the retrieval-eval oracles (q329/q330) to replay
    * both the truncated "system" ranking and the full-dim "relevance"
    * ranking from plain SQL (the q25/q256 slice convention).
    */
  private def cosTopKCte(name: String, dims: Int, k: Int): String = {
    def qd(a: String, b: String): String =
      s"list_aggregate(list_transform(range(1, $dims + 1), " +
        s"i -> $a[i] * $b[i]), 'sum')"
    s"""${name}_q AS (SELECT vec_id AS query_id,
          list_transform(list_slice(embedding, 1, $dims),
            x -> round(CAST(x AS DOUBLE) * 1e7)) AS qv
        FROM embeddings WHERE vec_id < 10),
      ${name}_c AS (SELECT vec_id AS id,
          list_transform(list_slice(embedding, 1, $dims),
            x -> round(CAST(x AS DOUBLE) * 1e7)) AS cv
        FROM embeddings),
      $name AS (SELECT query_id, id, cos FROM (
          SELECT query_id, id,
            ${qd("qv", "cv")} / SQRT(${qd("qv", "qv")} * ${qd("cv", "cv")})
              AS cos
          FROM ${name}_q JOIN ${name}_c ON query_id <> id)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, id) <= $k)"""
  }

  /** DuckDB replay of the q64 multi-signal edge set: exact word-3-gram
    * Jaccard pairs at `minJac` (text signal — LSH-candidates + exact
    * confirm ≡ the exact join at full recall, as q55's oracle relies on)
    * UNIONed with the banded-LSH embedding pairs replayed bit-for-bit
    * (the q25b construction — correct at every recall), then min-label
    * components via a recursive CTE. Joins documents and embeddings on
    * doc_id = vec_id (the testdata's shared id domain).
    */
  private def multiSignalOracleSql(minJac: Double, minCos: Double,
      planesPerBand: Int, bands: Int, dim: Int): String = {
    val nPlanes = bands * planesPerBand
    def qdotSql(a: String, b: String): String =
      s"list_aggregate(list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i]), 'sum')"
    s"""WITH RECURSIVE
      toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
               FROM documents),
      grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 1)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
               FROM toks WHERE len(l) >= 3),
      sh AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      tpairs AS (SELECT id_a, id_b FROM inter
                JOIN sizes sa ON id_a = sa.doc_id
                JOIN sizes sb ON id_b = sb.doc_id
                WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= $minJac),
      v AS (SELECT vec_id AS id,
          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e7)) AS qv
        FROM embeddings),
      pd AS (SELECT CAST(p AS INTEGER) AS p,
          list(CAST(CAST('0x' || substr(md5('plane:' || p || ':' || d), 1, 15) AS BIGINT)
               % 1000000 - 500000 AS DOUBLE) ORDER BY d) AS plane
        FROM range($nPlanes) t1(p) CROSS JOIN range($dim) t2(d) GROUP BY p),
      dots AS (SELECT v.id, pd.p, ${qdotSql("v.qv", "pd.plane")} AS dot
        FROM v CROSS JOIN pd),
      keys AS (SELECT id, p // $planesPerBand AS band,
          SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << (p % $planesPerBand) ELSE 0 END) AS bkt
        FROM dots GROUP BY id, band),
      ecand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM keys a JOIN keys b
        ON a.band = b.band AND a.bkt = b.bkt AND a.id < b.id),
      epairs AS (SELECT id_a, id_b FROM (SELECT id_a, id_b,
          ${qdotSql("va.qv", "vb.qv")}
          / SQRT(${qdotSql("va.qv", "va.qv")} * ${qdotSql("vb.qv", "vb.qv")}) AS cos
        FROM ecand JOIN v va ON va.id = ecand.id_a JOIN v vb ON vb.id = ecand.id_b)
        WHERE cos >= $minCos),
      edges AS (SELECT id_a AS src, id_b AS dst FROM tpairs
                UNION SELECT id_b, id_a FROM tpairs
                UNION SELECT id_a, id_b FROM epairs
                UNION SELECT id_b, id_a FROM epairs),
      walk(id, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst),
      comp AS (SELECT id AS doc_id, MIN(lbl) AS component FROM walk GROUP BY id)
      SELECT doc_id, component,
             COUNT(*) OVER (PARTITION BY component) AS cluster_size
      FROM comp ORDER BY doc_id"""
  }

  private val registry: Map[String, Q] = Map(

    // ----- A-series aggregations / TPC-H-ish core ---------------------------

    // Pricing summary: grouped exact sums + averages over the fact table
    // (the warehouse-side rollup the reference delegates to BigQuery).
    "q01_pricing_summary" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.groupBy("l_returnflag", "l_linestatus")
          .agg(
            Analytics.exactSum(col("l_quantity")).as("sum_qty"),
            Analytics.exactSum(col("l_extendedprice")).as("sum_base"),
            sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast("decimal(24,6)")).cast("double").as("sum_disc_price"),
            (sum(col("l_extendedprice").cast("decimal(24,2)")).cast("double") /
              count(lit(1))).as("avg_price"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(24,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,2))) AS DOUBLE) AS sum_base,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // Q1/F4/O3 — the dashboard day-slice query (projection + ts range + sort;
    // /root/reference/visualization/app.py:40-51) on the orders fact.
    "q02_day_slice" -> Q(
      (s, dir) => Analytics.daySlice(t(s, dir, "orders"), "o_orderdate",
        "1996-03-01 00:00:00", "1996-03-31 23:59:59",
        Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"), "o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
          AND o_orderdate <= TIMESTAMP '1996-03-31 23:59:59'
        ORDER BY o_orderdate, o_orderkey""")),

    // Star-schema rollup through two broadcast dimension hops.
    "q03_region_revenue" -> Q(
      (s, dir) => Analytics.revenueByRegion(t(s, dir, "orders"),
        t(s, dir, "customer"), t(s, dir, "nation"), t(s, dir, "region")),
      Some("""SELECT r_name,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")),

    // Top-k by exact-summed measure (aggregate-then-limit, no global sort).
    "q04_top_customers" -> Q(
      (s, dir) => Analytics.topKByMeasure(t(s, dir, "orders"), "o_custkey",
        "o_totalprice", 10),
      Some("""SELECT o_custkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS revenue,
        COUNT(*) AS n
        FROM orders GROUP BY o_custkey
        ORDER BY revenue DESC, o_custkey LIMIT 10""")),

    // C3/W5 — hourly tumbling aggregate over the event stream table.
    "q05_hourly_agg" -> Q(
      (s, dir) => Analytics.hourlyAgg(t(s, dir, "events"), "ts", "value"),
      Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(24,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1 ORDER BY hour""")),

    // ----- D-series dedup (the reference's signature ops) --------------------

    // D2 — keep-LAST per (key, hour): latest original timestamp wins
    // (transformations.py:233-237 + the hour-floor spec, SURVEY.md §5).
    "q06_dedup_keep_last_hour" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("hour", Clean.floorToHour(col("ts")))
        Clean.dedupKeepLast(ev, Seq("user_id", "hour"), Seq(col("ts"), col("event_id")))
          .select("user_id", "hour", "event_id", "value")
          .orderBy("user_id", "hour")
      },
      Some("""SELECT user_id, hour, event_id, value FROM (
          SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
                 event_id, value,
                 row_number() OVER (
                   PARTITION BY user_id, date_trunc('hour', CAST(ts AS TIMESTAMP))
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1
        ORDER BY user_id, hour""")),

    // D1 — keep-FIRST per key, deterministic (transformations.py:76-84).
    "q07_dedup_keep_first" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        Clean.dedupKeepFirst(ev, Seq("user_id", "event_type"),
          Seq(col("ts"), col("event_id")))
          .select("user_id", "event_type", "event_id", "value")
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT user_id, event_type, event_id, value FROM (
          SELECT user_id, event_type, event_id, value,
                 row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
          FROM events) WHERE rn = 1
        ORDER BY user_id, event_type""")),

    // A5 — duplicate-count audit (README.md:162-168).
    "q08_dup_audit" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        Quality.duplicateAudit(ev,
          Seq(col("user_id"), col("event_type"), to_date(col("ts")).as("day")))
          .orderBy(col("n").desc, col("user_id"), col("event_type"), col("day"))
      },
      Some("""SELECT user_id, event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY user_id, event_type, day
        HAVING COUNT(*) > 1
        ORDER BY n DESC, user_id, event_type, day""")),

    // ----- Quality ops --------------------------------------------------------

    // A1 — missingness summary (transformations.py:87-93).
    "q09_missingness" -> Q(
      (s, dir) => Quality.missingness(t(s, dir, "events"),
        Seq("event_id", "ts", "user_id", "event_type", "value", "props")),
      Some(Seq("event_id", "ts", "user_id", "event_type", "value", "props")
        .map(c => s"SELECT '$c' AS column_name, COUNT(*) - COUNT($c) AS missing_count FROM events")
        .mkString("", " UNION ALL ", " ORDER BY column_name"))),

    // A2 — z-score outliers, population std-dev (transformations.py:96-104).
    "q10_outliers_zscore" -> Q(
      (s, dir) => Quality.zscoreOutliers(t(s, dir, "orders"),
        Seq("o_totalprice"), 1.5)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey"),
      Some("""WITH s AS (SELECT AVG(o_totalprice) AS mu, STDDEV_POP(o_totalprice) AS sd
          FROM orders)
        SELECT o_orderkey, o_totalprice FROM orders, s
        WHERE ABS((o_totalprice - mu) / sd) > 1.5
        ORDER BY o_orderkey""")),

    // F2 — whitelist semi-join (transformations.py:112).
    "q11_whitelist_filter" -> Q(
      (s, dir) => Clean.whitelist(t(s, dir, "customer"), "c_mktsegment",
        Seq("AUTOMOBILE", "BUILDING")).orderBy("c_custkey"),
      Some("""SELECT * FROM customer
        WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
        ORDER BY c_custkey""")),

    // A6/F5 — trailing-window count anchored at the table max timestamp.
    "q12_trailing_count" -> Q(
      (s, dir) => Quality.trailingCount(t(s, dir, "orders"), "o_orderdate", 365),
      Some("""SELECT COUNT(*) AS n FROM orders
        WHERE o_orderdate >= (SELECT MAX(o_orderdate) FROM orders) - INTERVAL 365 DAY""")),

    // A7 — distinct counts (visualization/app.py:86).
    "q13_distinct_counts" -> Q(
      (s, dir) => t(s, dir, "events").agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types")),
      Some("""SELECT COUNT(DISTINCT user_id) AS n_users,
        COUNT(DISTINCT event_type) AS n_types FROM events""")),

    // ----- C/F/S-series coercion & ingestion shapes ---------------------------

    // C1/S3 — payload field extraction + null-on-failure coercion
    // (fmi_client.py:51-94, pandas errors="coerce" ≈ try_cast).
    "q14_json_coerce" -> Q(
      (s, dir) => Parallelism.fanOut(
          t(s, dir, "events").select("event_id", "props"))
        .select(
          col("event_id"),
          regexp_extract(col("props"), "\"k\": *([0-9]+)", 1)
            .try_cast("bigint").as("k"),
          regexp_extract(col("props"), "\"missing\": *([0-9]+)", 1)
            .try_cast("bigint").as("absent_field"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
        TRY_CAST(regexp_extract(props, '"k": *([0-9]+)', 1) AS BIGINT) AS k,
        TRY_CAST(regexp_extract(props, '"missing": *([0-9]+)', 1) AS BIGINT) AS absent_field
        FROM events ORDER BY event_id""")),

    // F6/D3 batch form — per-key watermark freshness filter: records in the
    // second half of the stream pass only if strictly newer than their key's
    // high-water mark from the first half (kafka_stream.py:269-273).
    "q15_watermark_filter" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val cut = ev.agg(expr("max(event_id) div 2").as("__cut"))
        val withCut = ev.crossJoin(broadcast(cut))
        val state = withCut.filter(col("event_id") < col("__cut"))
          .groupBy("user_id").agg(max(col("ts")).as("ts"))
        Analytics.watermarkFilter(
          withCut.filter(col("event_id") >= col("__cut")), state, "user_id", "ts")
          .select("event_id", "user_id")
          .orderBy("event_id")
      },
      Some("""WITH m AS (SELECT MAX(event_id) // 2 AS cut FROM events),
        w AS (SELECT user_id, MAX(CAST(ts AS TIMESTAMP)) AS wm
              FROM events, m WHERE event_id < cut GROUP BY user_id)
        SELECT e.event_id, e.user_id FROM events e CROSS JOIN m
        LEFT JOIN w ON e.user_id = w.user_id
        WHERE e.event_id >= m.cut AND (w.wm IS NULL OR CAST(e.ts AS TIMESTAMP) > w.wm)
        ORDER BY e.event_id""")),

    // F3 — row-validity split (transformations.py:144-178): salvage
    // semantics, rows classified instead of aborting the load.
    "q16_validity_split" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val valid = regexp_extract(col("props"), "\"k\": *([0-9]+)", 1)
          .try_cast("bigint").isNotNull &&
          col("event_type").isin("click", "view", "purchase", "signup", "error") &&
          col("value").isNotNull && col("value") >= 0
        ev.groupBy(when(valid, "valid").otherwise("invalid").as("validity"))
          .agg(count(lit(1)).as("n"))
          .orderBy("validity")
      },
      Some("""SELECT CASE WHEN
          TRY_CAST(regexp_extract(props, '"k": *([0-9]+)', 1) AS BIGINT) IS NOT NULL
          AND event_type IN ('click', 'view', 'purchase', 'signup', 'error')
          AND value IS NOT NULL AND value >= 0
        THEN 'valid' ELSE 'invalid' END AS validity, COUNT(*) AS n
        FROM events GROUP BY 1 ORDER BY validity""")),

    // A3 — per-key partition summary (the queryable face of the per-station
    // partitioned tables; materialization = write.partitionBy(key)).
    "q17_partition_summary" -> Q(
      (s, dir) => Analytics.partitionSummary(t(s, dir, "events"), "user_id", "ts"),
      Some("""SELECT user_id, COUNT(*) AS n,
        MIN(CAST(ts AS TIMESTAMP)) AS min_ts, MAX(CAST(ts AS TIMESTAMP)) AS max_ts
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // Window-function surface: per-key running total (DECIMAL accumulator →
    // engine-independent result).
    "q18_running_total" -> Q(
      (s, dir) => Analytics.runningTotal(t(s, dir, "events"), "user_id", "ts",
        "value", "event_id").orderBy("event_id"),
      Some("""SELECT event_id, user_id,
        CAST(SUM(CAST(value AS DECIMAL(24,2))) OVER (
          PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        FROM events ORDER BY event_id""")),

    // ----- Training-data pipeline: dedup family over `documents` -------------

    // Exact dedup by normalized-prefix fingerprint: deterministic lowest-id
    // survivor per md5(first 80 normalized chars); ~23 dup groups at sf0.01.
    "q19_exact_dedup" -> Q(
      (s, dir) => Dedup.exactByFingerprint(t(s, dir, "documents"), "doc_id",
          TextFns.prefixFingerprint(col("text"), 80))
        .select("doc_id", "fingerprint", "group_size")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, fingerprint, group_size FROM (
          SELECT doc_id, fingerprint,
                 COUNT(*) OVER (PARTITION BY fingerprint) AS group_size,
                 row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
          FROM (SELECT doc_id,
                  md5(substr(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 80)) AS fingerprint
                FROM documents))
        WHERE rn = 1 ORDER BY doc_id""")),

    // Duplication profile (dataset-card staple): how many fingerprint
    // groups exist at each multiplicity — "how duplicated is this
    // corpus" in one small table, derived from the q19 grouping.
    "q78_dup_size_histogram" -> Q(
      (s, dir) => Dedup.exactByFingerprint(t(s, dir, "documents"), "doc_id",
          TextFns.prefixFingerprint(col("text"), 80))
        .groupBy("group_size").agg(count(lit(1)).as("n_groups"))
        .orderBy("group_size"),
      Some("""WITH g AS (SELECT
            md5(substr(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 80)) AS fp,
            COUNT(*) AS group_size
          FROM documents GROUP BY fp)
        SELECT group_size, CAST(COUNT(*) AS BIGINT) AS n_groups
        FROM g GROUP BY group_size ORDER BY group_size""")),

    // Time-series gap filling: hourly spine per user over their active
    // range, last observation carried forward across silent hours
    // (struct-carry, so a genuinely-NULL observed value is carried, not
    // skipped — same contract as the as-of join).
    "q65_gap_fill" -> Q(
      (s, dir) => Temporal.gapFillHourly(t(s, dir, "events"),
          "user_id", "ts", "value", "event_id")
        .orderBy("user_id", "hour"),
      Some("""WITH e AS (SELECT user_id, date_trunc('hour', ts) AS h, ts, event_id, value
               FROM events),
        ph AS (SELECT user_id, h, {'v': value} AS obs FROM (
                SELECT user_id, h, value,
                       row_number() OVER (PARTITION BY user_id, h
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM e) WHERE rn = 1),
        spine AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
                  FROM (SELECT user_id, MIN(h) AS lo, MAX(h) AS hi
                        FROM e GROUP BY user_id)),
        joined AS (SELECT s.user_id, s.h, ph.obs
                   FROM spine s LEFT JOIN ph ON ph.user_id = s.user_id AND ph.h = s.h),
        filled AS (SELECT user_id, h,
            last_value(obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f,
            obs IS NOT NULL AS was_observed
          FROM joined)
        SELECT user_id, h AS hour, f.v AS value, was_observed
        FROM filled ORDER BY user_id, hour""")),

    // Multi-signal dedup clusters: a pair is duplicate evidence if EITHER
    // the text signal (minhash LSH + exact-Jaccard confirm) OR the
    // embedding signal (banded hyperplane LSH + exact-cosine confirm)
    // fires; connected components fuse the union into clusters — the
    // production shape where template-rewritten docs are caught by
    // embeddings and verbatim copies by text. One id domain (doc_id =
    // vec_id in the testdata).
    "q64_multisignal_clusters" -> Q(
      (s, dir) => {
        val textPairs = lshPairs(s, dir)
          .select("id_a", "id_b")
        val embPairs = Similarity.nearDupLshBanded(t(s, dir, "embeddings"),
            "vec_id", "embedding", 0.45, planesPerBand = 6, bands = 16,
            dim = 64)
          .select("id_a", "id_b")
        Graphs.connectedComponents(textPairs.unionByName(embPairs),
            "id_a", "id_b")
          .select(col("id").as("doc_id"), col("component"),
            count(lit(1)).over(Window.partitionBy(col("component")))
              .as("cluster_size"))
          .orderBy("doc_id")
      },
      Some(multiSignalOracleSql(minJac = 0.8, minCos = 0.45,
        planesPerBand = 6, bands = 16, dim = 64))),

    // Incremental ingestion dedup: the batch with doc_id >= 250 arrives
    // against the already-published corpus (doc_id < 250) — drop
    // corpus-known fingerprints (anti-join), keep-first within the batch.
    "q63_incremental_dedup" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpusFps = docs.filter(col("doc_id") < 250)
          .select(TextFns.prefixFingerprint(col("text"), 80).as("fingerprint"))
        Dedup.incrementalDedup(docs.filter(col("doc_id") >= 250), corpusFps,
            "doc_id", TextFns.prefixFingerprint(col("text"), 80))
          .select("doc_id", "fingerprint")
          .orderBy("doc_id")
      },
      Some("""WITH f AS (SELECT doc_id,
            md5(substr(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 80)) AS fingerprint
          FROM documents),
        corpus AS (SELECT DISTINCT fingerprint FROM f WHERE doc_id < 250),
        fresh AS (SELECT doc_id, fingerprint FROM f
                  WHERE doc_id >= 250
                    AND fingerprint NOT IN (SELECT fingerprint FROM corpus))
        SELECT doc_id, fingerprint FROM (
          SELECT doc_id, fingerprint,
                 row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
          FROM fresh)
        WHERE rn = 1 ORDER BY doc_id""")),

    // Same semantics as q63, Bloom-accelerated: a corpus-fingerprint Bloom
    // filter (native bloom_might_contain expression, no UDF) proves most
    // incoming rows fresh without touching the join; only might-contain
    // rows pay the exact anti-join. Identical oracle — false positives
    // cost time, never correctness.
    "q63b_incremental_dedup_bloom" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpusFps = docs.filter(col("doc_id") < 250)
          .select(TextFns.prefixFingerprint(col("text"), 80).as("fingerprint"))
        Dedup.incrementalDedupBloom(docs.filter(col("doc_id") >= 250), corpusFps,
            "doc_id", TextFns.prefixFingerprint(col("text"), 80),
            expectedItems = 10000L, fpp = 0.01)
          .select("doc_id", "fingerprint")
          .orderBy("doc_id")
      },
      Some("""WITH f AS (SELECT doc_id,
            md5(substr(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 80)) AS fingerprint
          FROM documents),
        corpus AS (SELECT DISTINCT fingerprint FROM f WHERE doc_id < 250),
        fresh AS (SELECT doc_id, fingerprint FROM f
                  WHERE doc_id >= 250
                    AND fingerprint NOT IN (SELECT fingerprint FROM corpus))
        SELECT doc_id, fingerprint FROM (
          SELECT doc_id, fingerprint,
                 row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
          FROM fresh)
        WHERE rn = 1 ORDER BY doc_id""")),

    // Exact word-3-gram Jaccard similarity join via inverted-index self-join
    // (shuffle on the shingle, never the pair space). The boilerplate-
    // shingle cap (maxShingleDf = 1000) is the 100 TB skew guard: a shingle
    // appearing in d docs contributes d² join pairs, so one boilerplate
    // phrase could dominate the whole job. The cap is replicated in the
    // oracle (both engines drop the same postings — exact at any scale);
    // it never binds at the tested SFs (max df 25 at sf0.1). For
    // moderate-threshold fuzzy dedup at scale, prefer q21's MinHash-LSH
    // form (sub-quadratic candidates, same confirm contract).
    "q20_ngram_jaccard" -> Q(
      (s, dir) => Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id",
          "text", 3, 0.5, maxShingleDf = 1000)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
               FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 1)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
               FROM toks WHERE len(l) >= 3),
        sh0 AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sh AS (SELECT doc_id, sh FROM (
                 SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM sh0)
               WHERE df <= 1000),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b,
               CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        FROM inter JOIN sizes sa ON id_a = sa.doc_id
                   JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
        ORDER BY id_a, id_b""")),

    // MinHash (k=64, 16 bands x 4 rows) + LSH bucket join + exact-Jaccard
    // confirm. Oracle = brute-force exact Jaccard >= 0.8: per-pair miss
    // probability at the lowest observed true pair (jac 0.889) is
    // (1 - 0.889^4)^16 ~ 1.6e-7, and the fixed seeded-xxhash64 families
    // make the outcome deterministic — verified equal at sf0.001/0.01.
    "q21_minhash_lsh" -> Q(
      (s, dir) => lshPairs(s, dir)
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
               FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 1)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
               FROM toks WHERE len(l) >= 3),
        sh AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT id_a, id_b,
               CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        FROM inter JOIN sizes sa ON id_a = sa.doc_id
                   JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8
        ORDER BY id_a, id_b""")),

    // Near-dup CLUSTERS: minhash pairs → distributed connected components
    // (iterative min-label propagation) → every clustered doc labeled with
    // its component's minimum id. Pairs are not enough for dedup — A~B and
    // B~C must group {A,B,C} even when A~C misses the threshold; the
    // oracle replays the clustering as a recursive CTE over brute-force
    // exact pairs.
    "q55_dup_clusters" -> Q(
      (s, dir) => {
        val pairs = lshPairs(s, dir)
        Graphs.connectedComponents(pairs, "id_a", "id_b")
          .select(col("id").as("doc_id"), col("component"),
            count(lit(1)).over(Window.partitionBy(col("component")))
              .as("cluster_size"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
               FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 1)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
               FROM toks WHERE len(l) >= 3),
        sh AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        pairs AS (SELECT id_a, id_b FROM inter
                  JOIN sizes sa ON id_a = sa.doc_id
                  JOIN sizes sb ON id_b = sb.doc_id
                  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        walk(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst),
        comp AS (SELECT id AS doc_id, MIN(lbl) AS component FROM walk GROUP BY id)
        SELECT doc_id, component,
               COUNT(*) OVER (PARTITION BY component) AS cluster_size
        FROM comp ORDER BY doc_id""")),

    // 60-bit SimHash signatures (cross-engine h60 token hash), bit-exact.
    "q22_simhash_sigs" -> Q(
      (s, dir) => Dedup.simhash(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
               FROM documents),
        th AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM toks),
        bits AS (SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
                 FROM th CROSS JOIN range(60) r(j) GROUP BY 1, 2)
        SELECT doc_id,
               CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id ORDER BY doc_id""")),

    // SimHash near-dup pairs (hamming <= 3) via pigeonhole band join —
    // exact by construction (4 bands > 3 flipped bits), oracle brute-forces.
    "q23_simhash_pairs" -> Q(
      (s, dir) => Dedup.simhashNearDups(
          Dedup.simhash(t(s, dir, "documents"), "doc_id", "text"), 3, 4)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
               FROM documents),
        th AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM toks),
        bits AS (SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
                 FROM th CROSS JOIN range(60) r(j) GROUP BY 1, 2),
        sig AS (SELECT doc_id, CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
                FROM bits GROUP BY doc_id)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY id_a, id_b""")),

    // ----- Similarity search over `embeddings` -------------------------------

    // Brute-force exact cosine top-5 for 10 query vectors, via the bounded
    // top-k aggregator (map-side partial top-k; the shuffle carries <= k
    // rows per query per task instead of every scored row). Cosine goes
    // through quantized-exact dot products so the doubles are bit-identical
    // across engines and partitionings.
    "q24_knn_exact" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.knnExactAgg(emb, emb.filter(col("vec_id") < 10), "vec_id",
            "embedding", 5)
          .orderBy(col("query_id"), col("cos").desc, col("id"))
      },
      Some(knnTop5OracleSql)),

    // Embedding-cosine near-duplicate pairs (exact all-pairs baseline; the
    // scale path is Similarity.nearDupLshBanded with hyperplane buckets).
    "q25_embedding_near_dup" -> Q(
      (s, dir) => Similarity.nearDupExact(t(s, dir, "embeddings"), "vec_id",
          "embedding", 0.45)
        .orderBy("id_a", "id_b"),
      Some("""WITH v AS (SELECT vec_id AS id, embedding AS e FROM embeddings),
        scored AS (SELECT a.id AS id_a, b.id AS id_b,
          list_aggregate(list_transform(range(1, len(a.e) + 1),
            i -> round(CAST(a.e[i] AS DOUBLE) * 1e7) * round(CAST(b.e[i] AS DOUBLE) * 1e7)), 'sum')
          / SQRT(
            list_aggregate(list_transform(range(1, len(a.e) + 1),
              i -> round(CAST(a.e[i] AS DOUBLE) * 1e7) * round(CAST(a.e[i] AS DOUBLE) * 1e7)), 'sum')
            * list_aggregate(list_transform(range(1, len(b.e) + 1),
              i -> round(CAST(b.e[i] AS DOUBLE) * 1e7) * round(CAST(b.e[i] AS DOUBLE) * 1e7)), 'sum')) AS cos
          FROM v a JOIN v b ON a.id < b.id)
        SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.45
        ORDER BY id_a, id_b""")),

    // The SCALE path for embedding near-dup: banded hyperplane LSH
    // candidates + exact-cosine confirm (sub-quadratic; q25 is the exact
    // all-pairs baseline). The oracle replays the ENTIRE pipeline —
    // integer-quantized plane dots, per-band sign buckets, candidate
    // distinct, exact confirm — bit-for-bit in DuckDB, so the gate checks
    // the LSH implementation itself, not just "some pairs came out".
    // Recall vs the exact baseline is separately pinned in SimilaritySpec
    // (1.0 on sf0.01 testdata with these parameters: 16 bands x 6 planes).
    "q25b_embedding_near_dup_lsh" -> Q(
      (s, dir) => Similarity.nearDupLshBanded(t(s, dir, "embeddings"),
          "vec_id", "embedding", 0.45, planesPerBand = 6, bands = 16, dim = 64)
        .orderBy("id_a", "id_b"),
      Some(nearDupLshOracleSql(minCos = 0.45, planesPerBand = 6, bands = 16,
        dim = 64))),

    // ----- Text analysis over `documents` ------------------------------------

    // Language-ID heuristic (lexicon-hit argmax) as a confusion matrix
    // against the labeled lang column.
    "q26_lang_id" -> Q(
      (s, dir) => TextOps.langId(t(s, dir, "documents"), "text", "predicted")
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted"),
      Some {
        val score = TextOps.langLexicons.map { case (lang, lex) =>
          val list = lex.map(w => s"'$w'").mkString(", ")
          s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t IN ($list))) AS s_$lang"
        }.mkString(", ")
        val langs = TextOps.langLexicons.map(_._1)
        val greatestAll = s"greatest(${langs.map("s_" + _).mkString(", ")})"
        val caseChain = langs.map(l => s"WHEN s_$l >= $greatestAll AND s_$l > 0 THEN '$l'")
          .mkString(" ")
        s"""WITH scored AS (SELECT lang, $score FROM documents),
          pred AS (SELECT lang, CASE $caseChain ELSE 'und' END AS predicted FROM scored)
          SELECT lang, predicted, COUNT(*) AS n FROM pred
          GROUP BY lang, predicted ORDER BY lang, predicted"""
      }),

    // Quality scoring: per-doc micro-unit integer features (see
    // qualityFeatures — no double→DECIMAL casts), aggregated per lang
    // with exact order-independent long sums; the averages are one IEEE
    // division chain over exact integers, mirrored verbatim in the oracle.
    "q27_quality_by_lang" -> Q(
      (s, dir) => {
        val feats = TextOps.qualityFeatures(t(s, dir, "documents"), "doc_id", "text")
          .join(t(s, dir, "documents").select("doc_id", "lang"), "doc_id")
        feats.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          (sum(col("quality_score_micro")).cast("double") / count(lit(1)) / 1e6)
            .as("avg_quality"),
          (sum(col("punct_ratio_micro")).cast("double") / count(lit(1)) / 1e6)
            .as("avg_punct_ratio"),
          (sum(col("stopword_ratio_micro")).cast("double") / count(lit(1)) / 1e6)
            .as("avg_stopword_ratio"))
          .orderBy("lang")
      },
      Some(s"""WITH ${qualityMicroSql("lang")}
        SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
          CAST(SUM(quality_score_micro) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_quality,
          CAST(SUM(punct_ratio_micro) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_punct_ratio,
          CAST(SUM(stopword_ratio_micro) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_stopword_ratio
        FROM __qm GROUP BY lang ORDER BY lang""")),

    // Token counting (whitespace + BPE-ish regex) rolled up per source.
    "q28_token_counts" -> Q(
      (s, dir) => TextOps.tokenCounts(t(s, dir, "documents"), "doc_id", "text")
        .join(t(s, dir, "documents").select("doc_id", "source"), "doc_id")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_ws_tokens")).as("sum_ws_tokens"),
          sum(col("n_bpe_tokens")).as("sum_bpe_tokens"),
          sum(col("n_real_bpe_tokens")).as("sum_real_bpe_tokens"))
        .orderBy("source"),
      Some(s"""SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT) AS sum_ws_tokens,
        CAST(SUM(len(regexp_extract_all(text, '${TextFns.bpeTokenPattern}'))) AS BIGINT) AS sum_bpe_tokens,
        CAST(SUM(${TextOps.bpe.tokenCountSql("text")}) AS BIGINT) AS sum_real_bpe_tokens
        FROM documents GROUP BY source ORDER BY source""")),

    // Winnowing fingerprints (rolling-hash document sketch, MOSS): 3-token
    // shingle hashes, window-of-4 minima, distinct per doc. The
    // containment-style counterpart to MinHash's whole-doc similarity.
    "q47_winnow_fingerprints" -> Q(
      (s, dir) => TextOps.winnowFingerprints(t(s, dir, "documents"),
          "doc_id", "text", 3, 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "fp"),
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
               FROM documents),
        grams AS (SELECT doc_id, len(l) - 2 AS ng,
                 unnest(list_transform(range(1, greatest(len(l) - 1, 1)),
                   i -> {'pos': i, 'g': l[i] || ' ' || l[i+1] || ' ' || l[i+2]})) AS u
               FROM toks WHERE len(l) >= 3),
        h AS (SELECT doc_id, ng, u.pos AS pos,
                CAST('0x' || substr(md5(u.g), 1, 15) AS BIGINT) AS h FROM grams),
        m AS (SELECT doc_id, ng, pos,
                MIN(h) OVER win AS fp, COUNT(*) OVER win AS cnt
              FROM h
              WINDOW win AS (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
        SELECT DISTINCT doc_id, fp FROM m
        WHERE cnt = 4 OR (ng < 4 AND pos = 1)
        ORDER BY doc_id, fp""")),

    // ----- Multimodal binary plumbing ----------------------------------------

    // Opaque-binary feature extraction (sizes, magic bytes) over a
    // manufactured media column; the stubbed mapPartitions decode path is
    // exercised by the ScalaTest suite (no SQL surface).
    "q29_binary_features" -> Q(
      (s, dir) => Multimodal.binaryFeatures(
          Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text"))
        .select("doc_id", "mime", "n_bytes", "magic")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        'application/x-graft-' || CAST(doc_id % 3 AS VARCHAR) AS mime,
        octet_length(encode(text)) AS n_bytes,
        left(hex(encode(text)), 8) AS magic
        FROM documents ORDER BY doc_id""")),

    // IVF approximate top-k (k-means coarse quantizer, nProbe cells probed,
    // exact ranking inside). The neighbor lists are approximate by design,
    // so the query emits the CONTRACT instead of the lists: overall
    // recall@5 of the partial-probe IVF against the exact kNN must reach
    // 0.9 (the SimilaritySpec bound — round-7 verdict #4 turns it into a
    // driver-checkable oracle row). The oracle recomputes n_queries and
    // asserts the bound held; a recall regression now hash-mismatches
    // instead of passing rows-only. Exact-recall equivalence at FULL
    // probing keeps its own value-level oracle in q31b. nProbe = 6/16:
    // recall@5 re-measured round 11 UNDER THE DISTRIBUTED TRAINER
    // (ivfTrainDistributed replaced the ≤10k driver-sample ivfTrain in
    // round 10; ADVICE r10 #3 flagged the old sampled-training figures
    // as stale) is 0.96 (sf0.001) / 0.94 (sf0.01) / 0.98 (sf0.1) — the
    // 0.9 bound holds at every gate scale with margin, where nProbe = 4
    // sat at 0.88 on the 500-vector corpus (sf-specific assumption the
    // sf0.001 re-gate caught).
    "q31_knn_ivf" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val ivf = Similarity.knnIvf(emb, q, "vec_id", "embedding", 5,
            nlist = 16, nProbe = 6)
          .select(col("query_id"), col("id"))
        val exact = Similarity.knnExact(emb, q, "vec_id", "embedding", 5)
          .select(col("query_id"), col("id"))
        exact.join(ivf, Seq("query_id", "id"), "left_semi")
          .agg(count(lit(1)).as("__hits"))
          .crossJoin(broadcast(exact.agg(
            countDistinct(col("query_id")).as("n_queries"),
            count(lit(1)).as("__pairs"))))
          .select(col("n_queries"),
            (col("__hits") * 10 >= col("__pairs") * 9).as("recall_ok"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        true AS recall_ok FROM embeddings WHERE vec_id < 10""")),

    // IVF at FULL probing (nProbe = nlist): every cell is scanned, so the
    // result is definitionally the exact top-k — which gives the IVF
    // machinery (training, assignment, probe, ranking) a real DuckDB
    // oracle (q24's), closing the only-rows-checked gap the approximate
    // q31 necessarily leaves.
    "q31b_knn_ivf_fullprobe" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.knnIvf(emb, emb.filter(col("vec_id") < 10), "vec_id",
            "embedding", 5, nlist = 16, nProbe = 16)
          .orderBy(col("query_id"), col("cos").desc, col("id"))
      },
      Some(knnTop5OracleSql)),

    // As-of join (point-in-time lookup): each view event gets the user's
    // most recent purchase value at that instant (last-touch attribution).
    // Oracle = DuckDB's native ASOF LEFT JOIN; the Spark side is the
    // union + running-last-value window (one shuffle on the key).
    "q32_asof_join" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .select("event_id", "user_id", "ts")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"),
            col("value").as("last_purchase_value"))
        Temporal.asofJoin(views, purchases, "user_id", "ts", "ts",
            Seq("last_purchase_value"))
          .select("event_id", "user_id", "last_purchase_value")
          .orderBy("event_id")
      },
      Some("""WITH v AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t
               FROM events WHERE event_type = 'view'),
        p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value AS last_purchase_value
              FROM events WHERE event_type = 'purchase')
        SELECT v.event_id, v.user_id, p.last_purchase_value
        FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.t >= p.t
        ORDER BY v.event_id""")),

    // Gap-based sessionization (30-min inactivity gap) via the built-in
    // merging session_window; oracle = gaps-and-islands SQL.
    "q33_sessionize" -> Q(
      (s, dir) => Temporal.sessionize(t(s, dir, "events"), "user_id", "ts",
          "30 minutes", col("value"))
        .orderBy("user_id", "session_start"),
      Some("""WITH o AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t, value,
          CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER
                 (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
               OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER
                 (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                 > INTERVAL 30 MINUTE
               THEN 1 ELSE 0 END AS brk FROM events),
        s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                ROWS UNBOUNDED PRECEDING) AS sess FROM o)
        SELECT user_id, MIN(t) AS session_start,
               MAX(t) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(24,2))) AS DOUBLE) AS sum_value
        FROM s GROUP BY user_id, sess
        ORDER BY user_id, session_start""")),

    // The composed curation pipeline: per-document status across quality →
    // language → exact-dedup → near-dup stages (first failing stage wins).
    "q34_curation" -> Q(
      (s, dir) => {
        Curation.curate(t(s, dir, "documents"), "doc_id",
          "text", "lang", minTokens = 20,
          allowedLangs = Seq("de", "en", "es", "fr"),
          fingerprintPrefix = 80, nearDupJac = 0.8)
          .orderBy("doc_id")
      },
      Some("""WITH base AS (SELECT doc_id, lang,
          len(string_split_regex(lower(trim(text)), '\s+')) AS n_toks,
          md5(substr(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 80)) AS fp
        FROM documents),
        s1 AS (SELECT doc_id, n_toks >= 20 AS q_ok,
               lang IN ('de', 'en', 'es', 'fr') AS l_ok, fp FROM base),
        surv12 AS (SELECT * FROM s1 WHERE q_ok AND l_ok),
        ex AS (SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
               FROM surv12),
        exkept AS (SELECT doc_id FROM ex WHERE rn = 1),
        toks AS (SELECT d.doc_id, string_split_regex(lower(trim(d.text)), '\s+') AS l
                 FROM documents d JOIN exkept USING (doc_id)),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 1)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
               FROM toks WHERE len(l) >= 3),
        sh AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
                  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        nd AS (SELECT DISTINCT id_b AS doc_id FROM inter
               JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
               WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8)
        SELECT s1.doc_id, CASE
            WHEN NOT q_ok THEN 'quality'
            WHEN NOT l_ok THEN 'language'
            WHEN s1.doc_id NOT IN (SELECT doc_id FROM exkept) THEN 'exact_dup'
            WHEN s1.doc_id IN (SELECT doc_id FROM nd) THEN 'near_dup'
            ELSE 'kept' END AS status
        FROM s1 ORDER BY doc_id""")),

    // Hierarchical ROLLUP totals (warehouse cube face): per (returnflag,
    // linestatus), per returnflag subtotals, and a grand total. NULL
    // ordering pinned explicitly (Spark defaults NULLS FIRST, DuckDB LAST).
    "q35_rollup" -> Q(
      (s, dir) => t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          Analytics.exactSum(col("l_extendedprice")).as("sum_price"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,2))) AS DOUBLE) AS sum_price
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // PIVOT: event counts per user fanned out to one column per event
    // type — conditional aggregation on both engines (engine-independent
    // form of Spark's .pivot()).
    "q36_pivot" -> Q(
      (s, dir) => {
        val types = Seq("click", "view", "purchase", "signup", "error")
        t(s, dir, "events").groupBy("user_id")
          .pivot("event_type", types)
          .agg(count(lit(1)))
          .na.fill(0, types)
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
        COUNT(*) FILTER (event_type = 'click') AS click,
        COUNT(*) FILTER (event_type = 'view') AS view,
        COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        COUNT(*) FILTER (event_type = 'signup') AS signup,
        COUNT(*) FILTER (event_type = 'error') AS error
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // Unpivot/melt — the wide→long complement of q36's pivot (Spark 3.4+
    // native `unpivot`; DuckDB UNPIVOT). Exact DECIMAL sums per measure.
    "q66_unpivot" -> Q(
      (s, dir) => t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "val")
        .groupBy("measure")
        .agg(count(lit(1)).as("n"), Analytics.exactSum(col("val")).as("total"))
        .orderBy("measure"),
      Some("""SELECT measure, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(val AS DECIMAL(24,2))) AS DOUBLE) AS total
        FROM (UNPIVOT (SELECT l_orderkey, l_quantity, l_extendedprice, l_discount
                       FROM lineitem)
              ON l_quantity, l_extendedprice, l_discount
              INTO NAME measure VALUE val)
        GROUP BY measure ORDER BY measure""")),

    // Exact linear-interpolation percentiles of document length per source
    // (Spark `percentile` ≡ DuckDB `quantile_cont`; integer inputs make
    // the interpolation arithmetic engine-exact).
    "q37_quantiles" -> Q(
      (s, dir) => t(s, dir, "documents")
        .groupBy("source")
        .agg(expr("percentile(n_chars, 0.5)").as("p50"),
          expr("percentile(n_chars, 0.9)").as("p90"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("source"),
      Some("""SELECT source, quantile_cont(n_chars, 0.5) AS p50,
        quantile_cont(n_chars, 0.9) AS p90, MAX(n_chars) AS max_chars
        FROM documents GROUP BY source ORDER BY source""")),

    // Robust outliers per source: median/MAD of doc length and the count
    // of docs beyond k*MAD — the heavy-tail-safe complement of q10's
    // z-score fence (percentile ≡ quantile_cont keeps it engine-exact).
    "q67_mad_outliers" -> Q(
      (s, dir) => Quality.madOutlierStats(t(s, dir, "documents"),
          "source", "n_chars", 3.0)
        .orderBy("source"),
      Some("""WITH med AS (SELECT source, quantile_cont(n_chars, 0.5) AS median_val
               FROM documents GROUP BY source),
        dev AS (SELECT d.source, abs(d.n_chars - m.median_val) AS adev, m.median_val
                FROM documents d JOIN med m ON d.source = m.source),
        mad AS (SELECT source, quantile_cont(adev, 0.5) AS mad
                FROM dev GROUP BY source)
        SELECT dev.source, CAST(COUNT(*) AS BIGINT) AS n,
          first(dev.median_val) AS median_val, first(mad.mad) AS mad,
          CAST(SUM(CASE WHEN dev.adev > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
            AS n_outliers
        FROM dev JOIN mad ON dev.source = mad.source
        GROUP BY dev.source ORDER BY dev.source""")),

    // Per-domain quota cap: no source may contribute more than `cap` docs,
    // survivors chosen by an explicit quality ordering (longest first,
    // id tiebreak) — the web-crawl "no domain dominates" rule. One shuffle
    // on source; rank state per group.
    "q68_source_cap" -> Q(
      (s, dir) => Sampling.capPerGroup(t(s, dir, "documents"), "source",
          Seq(col("n_chars").desc, col("doc_id").asc), 10)
        .select("doc_id", "source", "n_chars", "rank_in_group")
        .orderBy("source", "rank_in_group"),
      Some("""SELECT doc_id, source, n_chars, rank_in_group FROM (
          SELECT doc_id, source, n_chars,
                 row_number() OVER (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id) AS rank_in_group
          FROM documents)
        WHERE rank_in_group <= 10 ORDER BY source, rank_in_group""")),

    // Range join via covering-bucket equi-join: orders priced into
    // irregular bands WITHOUT the nested-loop join Spark plans for
    // non-equi conditions — each band replicates into the fixed-width
    // buckets it overlaps, the join is a plain equi-join on the bucket,
    // and the residual range predicate confirms exactly.
    "q72_range_join_bands" -> Q(
      (s, dir) => {
        import s.implicits._
        val bands = Seq(
          ("b1_tiny", 0.0, 40000.0), ("b2_small", 40000.0, 110000.0),
          ("b3_mid", 110000.0, 190000.0), ("b4_large", 190000.0, 310000.0),
          ("b5_huge", 310000.0, 500000.0)
        ).toDF("band", "lo", "hi")
        Joins.rangeJoin(t(s, dir, "orders"), "o_totalprice",
            bands, "lo", "hi", 25000.0)
          .groupBy("band")
          .agg(count(lit(1)).as("n_orders"),
            Analytics.exactSum(col("o_totalprice")).as("revenue"))
          .orderBy("band")
      },
      Some("""WITH bands(band, lo, hi) AS (VALUES
          ('b1_tiny', 0.0, 40000.0), ('b2_small', 40000.0, 110000.0),
          ('b3_mid', 110000.0, 190000.0), ('b4_large', 190000.0, 310000.0),
          ('b5_huge', 310000.0, 500000.0))
        SELECT band, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS revenue
        FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band ORDER BY band""")),

    // N-gram novelty: fraction of each doc's distinct 3-grams occurring in
    // no other document — the corpus-level boilerplate/originality signal.
    // One shuffle on the gram hash (window df), one on the doc id.
    "q71_ngram_novelty" -> Q(
      (s, dir) => TextOps.ngramNovelty(t(s, dir, "documents"),
          "doc_id", "text", 3)
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
               FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 1)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
               FROM toks WHERE len(l) >= 3),
        sh AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        wdf AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY sh) AS df FROM sh)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
               CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
        FROM wdf GROUP BY doc_id ORDER BY doc_id""")),

    // Weighted sampling without replacement (Efraimidis–Spirakis A-ES with
    // a deterministic hash uniform): sample 50 docs with inclusion odds
    // proportional to length. key = ln(u)/w reduces to (micro-rounded
    // ln(h+1) - ln(2^60) integers)/w — one exact double division, so both
    // engines rank identically; top-k plans as TakeOrderedAndProject
    // (per-task k rows, no global sort).
    "q70_weighted_sample" -> Q(
      (s, dir) => Sampling.weightedSample(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "doc_id", "n_chars", 50, "ws")
        .orderBy("sample_rank"),
      Some("""WITH h AS (SELECT doc_id, source, n_chars,
            CAST('0x' || substr(md5('ws:' || doc_id), 1, 15) AS BIGINT) AS h
          FROM documents),
        keyed AS (SELECT doc_id, source, n_chars,
            CAST(CAST(round(ln(h + 1) * 1000000) AS BIGINT) - 41588831 AS DOUBLE)
              / n_chars AS key
          FROM h WHERE n_chars > 0)
        SELECT doc_id, source, n_chars, sample_rank FROM (
          SELECT doc_id, source, n_chars,
                 row_number() OVER (ORDER BY key DESC, doc_id) AS sample_rank
          FROM keyed)
        WHERE sample_rank <= 50 ORDER BY sample_rank""")),

    // Fuzzy benchmark decontamination: training docs whose 3-gram Jaccard
    // vs ANY eval doc (doc_id % 5 = 0 plays the benchmark) clears 0.8 —
    // catches the paraphrased leakage q54's verbatim 8-gram rule misses.
    // MinHash-LSH candidates (corpus bands probe the BROADCAST benchmark
    // bands — the corpus never self-joins), then exact-Jaccard confirm;
    // the oracle replays the exact cross-pair join, the same
    // LSH-is-only-a-prune contract q21 pins.
    "q69_fuzzy_decontam" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.fuzzyDecontaminate(
            docs.filter(col("doc_id") % 5 =!= 0),
            docs.filter(col("doc_id") % 5 === 0),
            "doc_id", "text", 3, 64, 16, 0.8)
          .orderBy("corpus_id", "bench_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
               FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 1)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
               FROM toks WHERE len(l) >= 3),
        sh AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id, COUNT(*) AS inter
                  FROM sh c JOIN sh b ON c.sh = b.sh
                  WHERE c.doc_id % 5 != 0 AND b.doc_id % 5 = 0
                  GROUP BY 1, 2)
        SELECT corpus_id, bench_id,
               CAST(inter AS DOUBLE) / (sc.sz + sb.sz - inter) AS jaccard
        FROM inter
        JOIN sizes sc ON sc.doc_id = corpus_id
        JOIN sizes sb ON sb.doc_id = bench_id
        WHERE CAST(inter AS DOUBLE) / (sc.sz + sb.sz - inter) >= 0.8
        ORDER BY corpus_id, bench_id""")),

    // JSON-path extraction (the S3 payload-extraction face done properly:
    // a JSON parser, not regex). ONE from_json parse per row — two
    // get_json_object calls each re-parse the document (measured 4.0s →
    // ~2s at sf0.1); missing keys surface as null struct fields, matching
    // json_extract_string's NULL.
    "q38_json_path" -> Q(
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"), "k STRING, absent STRING",
            Map.empty[String, String]).as("__p"))
        .select(col("event_id"),
          col("__p.k").try_cast("bigint").as("k"),
          col("__p.absent").as("absent"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
        TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        json_extract_string(props, '$.absent') AS absent
        FROM events ORDER BY event_id""")),

    // Set operations: customers active in 1995 INTERSECT 1996, and 1995
    // EXCEPT 1996 — relational set algebra over the orders fact.
    "q39_set_ops" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
        def custs(year: Int) = o
          .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp_ntz") &&
            col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp_ntz"))
          .select("o_custkey")
        val both = custs(1995).intersect(custs(1996))
          .withColumn("set_op", lit("both_years"))
        val only95 = custs(1995).except(custs(1996))
          .withColumn("set_op", lit("only_1995"))
        both.unionByName(only95).orderBy("set_op", "o_custkey")
      },
      Some("""WITH c95 AS (SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'),
        c96 AS (SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
        SELECT o_custkey, 'both_years' AS set_op FROM (SELECT * FROM c95 INTERSECT SELECT * FROM c96)
        UNION ALL
        SELECT o_custkey, 'only_1995' AS set_op FROM (SELECT * FROM c95 EXCEPT SELECT * FROM c96)
        ORDER BY set_op, o_custkey""")),

    // Date/time function battery over the orders dates (year/quarter/
    // month/dayofweek extraction, month truncation, date arithmetic).
    // Spark dayofweek is 1=Sunday; DuckDB dayofweek is 0=Sunday → +1.
    "q40_datetime_funcs" -> Q(
      (s, dir) => t(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"))
        .agg(count(lit(1)).as("n"),
          countDistinct(dayofweek(col("o_orderdate"))).as("n_dows"),
          countDistinct(date_trunc("month", col("o_orderdate"))).as("n_months"),
          max(datediff(col("o_orderdate"), lit("1995-01-01").cast("timestamp_ntz")))
            .as("max_days_since"))
        .orderBy("y", "q"),
      Some("""SELECT EXTRACT(YEAR FROM o_orderdate) AS y,
        EXTRACT(QUARTER FROM o_orderdate) AS q,
        COUNT(*) AS n,
        COUNT(DISTINCT dayofweek(o_orderdate) + 1) AS n_dows,
        COUNT(DISTINCT date_trunc('month', o_orderdate)) AS n_months,
        MAX(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)) AS max_days_since
        FROM orders GROUP BY 1, 2 ORDER BY y, q""")),

    // MERGE/upsert warehouse maintenance: second-half events merged onto
    // the first half per (user_id, event_type); greatest (ts, event_id)
    // wins, updates side on full ties.
    "q41_merge_upsert" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val cut = ev.agg(expr("max(event_id) div 2").as("__cut"))
        val withCut = ev.crossJoin(broadcast(cut))
        val base = withCut.filter(col("event_id") < col("__cut")).drop("__cut")
        val upd = withCut.filter(col("event_id") >= col("__cut")).drop("__cut")
        Warehouse.mergeByKey(base, upd, Seq("user_id", "event_type"),
            Seq("ts", "event_id"))
          .select("user_id", "event_type", "event_id", "value")
          .orderBy("user_id", "event_type")
      },
      Some("""WITH m AS (SELECT MAX(event_id) // 2 AS cut FROM events),
        tagged AS (SELECT e.*, CASE WHEN event_id >= cut THEN 1 ELSE 0 END AS src
                   FROM events e CROSS JOIN m)
        SELECT user_id, event_type, event_id, value FROM (
          SELECT user_id, event_type, event_id, value,
            row_number() OVER (PARTITION BY user_id, event_type
              ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC, src DESC) AS rn
          FROM tagged) WHERE rn = 1
        ORDER BY user_id, event_type""")),

    // String function battery (lpad/instr≡strpos/reverse/translate/...).
    "q42_string_funcs" -> Q(
      (s, dir) => t(s, dir, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("u"),
        lpad(col("c_custkey").cast("string"), 12, "0").as("padded"),
        instr(col("c_name"), "1").as("pos1"),
        reverse(col("c_name")).as("rev"),
        substring(col("c_name"), 1, 8).as("head8"),
        translate(col("c_name"), "#", "-").as("dashed"),
        length(col("c_name")).as("len"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, upper(c_name) AS u,
        lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded,
        strpos(c_name, '1') AS pos1, reverse(c_name) AS rev,
        substr(c_name, 1, 8) AS head8, translate(c_name, '#', '-') AS dashed,
        length(c_name) AS len
        FROM customer ORDER BY c_custkey""")),

    // Window function battery: per-user event sequence analytics over a
    // unique (ts, event_id) ordering — rank/ntile/percent_rank/cume_dist/
    // lag/lead all deterministic.
    "q43_window_funcs" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        t(s, dir, "events").select(
          col("event_id"), col("user_id"),
          row_number().over(w).as("seq"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
        row_number() OVER w AS seq, ntile(4) OVER w AS quartile,
        percent_rank() OVER w AS pr, cume_dist() OVER w AS cd,
        lag(value, 1) OVER w AS prev_value, lead(value, 1) OVER w AS next_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
        ORDER BY event_id""")),

    // Array/higher-order function battery over the embedding vectors
    // (size/slice/element_at ≡ len/list_slice/list_extract; filter/
    // aggregate lambdas ≡ list_filter/list_aggregate).
    "q45_array_funcs" -> Q(
      (s, dir) => t(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).as("first_elem"),
        size(filter(col("embedding"), x => x > 0)).as("n_positive"),
        array_max(col("embedding")).as("max_elem"),
        aggregate(slice(col("embedding"), 1, 8),
          lit(0.0), (acc, x) => acc + round(x.cast("double") * 1e7))
          .as("head8_qsum"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id, len(embedding) AS dim,
        embedding[1] AS first_elem,
        len(list_filter(embedding, x -> x > 0)) AS n_positive,
        list_max(embedding) AS max_elem,
        list_aggregate(list_transform(list_slice(embedding, 1, 8),
          x -> round(CAST(x AS DOUBLE) * 1e7)), 'sum') AS head8_qsum
        FROM embeddings ORDER BY vec_id""")),

    // Sketch face of A7 (distinct counts at 100 TB): HyperLogLog++
    // approximate distincts. The sketch values are engine-specific, so
    // the query emits the error CONTRACT instead of the raw estimates:
    // |approx − exact| ≤ 2·rsd·exact (rsd = 0.05 default — the
    // QualitySpec bound, exported as an oracle-checkable boolean per
    // round-7 verdict #4). The exact faces ride along and ARE
    // value-checked; the exact standalone face is q13.
    "q46_approx_distinct" -> Q(
      (s, dir) => t(s, dir, "events").agg(
          countDistinct(col("user_id")).as("exact_users"),
          countDistinct(col("props")).as("exact_props"),
          count(lit(1)).as("n"),
          approx_count_distinct(col("user_id")).as("__au"),
          approx_count_distinct(col("props")).as("__ap"))
        .select(col("exact_users"), col("exact_props"), col("n"),
          (abs(col("__au") - col("exact_users")) * 10
            <= col("exact_users")).as("users_bound_ok"),
          (abs(col("__ap") - col("exact_props")) * 10
            <= col("exact_props")).as("props_bound_ok")),
      Some("""SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        CAST(COUNT(DISTINCT props) AS BIGINT) AS exact_props,
        CAST(COUNT(*) AS BIGINT) AS n,
        true AS users_bound_ok, true AS props_bound_ok FROM events""")),

    // Approximate per-group quantiles — the fixed-memory scale path next
    // to q37's exact percentile (which buffers every value per group).
    // The sketch VALUES are engine-specific, so the query emits the rank
    // CONTRACT (round-7 verdict #4): the returned p50/p90 must sit
    // within 2·n/accuracy ranks of the target rank, checked by counting
    // the group's values around each approx value (one extra broadcast
    // probe pass); max_val is exact and value-checked. QualitySpec keeps
    // the tighter n/accuracy bound on a controlled distribution.
    "q73_approx_quantiles" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val approx = Sketches.approxQuantilesByGroup(
          docs, "source", "n_chars", 100)
        val probe = docs.select(col("source"), col("n_chars"))
          .join(broadcast(approx), "source")
          .groupBy("source")
          .agg(count(col("n_chars")).as("n"),
            max(col("n_chars")).as("max_val"),
            sum(when(col("n_chars") <= col("p50"), 1L).otherwise(0L)).as("le50"),
            sum(when(col("n_chars") < col("p50"), 1L).otherwise(0L)).as("lt50"),
            sum(when(col("n_chars") <= col("p90"), 1L).otherwise(0L)).as("le90"),
            sum(when(col("n_chars") < col("p90"), 1L).otherwise(0L)).as("lt90"))
        // rank-window check on the integer grid: some attainable rank of
        // the returned value (lt..le) must fall within 2n/accuracy of
        // the target rank p·n (scaled by 100 to stay integral)
        def rankOk(lt: org.apache.spark.sql.Column,
            le: org.apache.spark.sql.Column,
            pPct: Int): org.apache.spark.sql.Column = {
          val slack = col("n") * 2 // 2n/accuracy · 100, accuracy = 100
          val target = col("n") * pPct
          (le * 100 >= target - slack) && (lt * 100 <= target + slack)
        }
        probe.select(col("source"), col("n"), col("max_val"),
            rankOk(col("lt50"), col("le50"), 50).as("p50_rank_ok"),
            rankOk(col("lt90"), col("le90"), 90).as("p90_rank_ok"))
          .orderBy("source")
      },
      Some("""SELECT source, CAST(COUNT(n_chars) AS BIGINT) AS n,
        MAX(n_chars) AS max_val, true AS p50_rank_ok, true AS p90_rank_ok
        FROM documents GROUP BY source ORDER BY source""")),

    // Heavy hitters with Count-Min-Sketch verification: exact top-25
    // tokens probed against a one-pass fixed-memory CMS of the full
    // token stream. The CMS estimates are engine-specific, so the query
    // emits the CMS CONTRACT as a boolean (round-7 verdict #4): never
    // under the exact count, over by ≤ ceil(eps·N). The token ranking
    // and exact counts ARE value-checked by the oracle's own tokenizer.
    "q74_heavy_hitters_cms" -> Q(
      (s, dir) => Sketches.heavyHittersCms(
          t(s, dir, "documents"), "text", 25, 0.001, 0.99)
        .select(col("token"), col("n_exact"),
          (col("n_cms") >= col("n_exact") &&
            (col("n_cms") - col("n_exact")) * 1000 <= col("n_total"))
            .as("cms_bound_ok")),
      Some("""WITH toks AS (
          SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
          FROM documents),
        counted AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact
          FROM toks WHERE token <> '' GROUP BY token)
        SELECT token, n_exact, true AS cms_bound_ok FROM counted
        ORDER BY n_exact DESC, token LIMIT 25""")),

    // Correlated subqueries: EXISTS + NOT EXISTS through the SQL surface.
    "q44_exists_subquery" -> Q(
      (s, dir) => {
        Seq("customer", "orders").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
        s.sql(existsQuery)
      },
      Some(existsQuery)),

    // CUBE grouping-set rollups (every (flag, status) margin in one pass —
    // Spark expands grouping sets before the single shuffle). Margin rows
    // are labeled 'ALL' on both engines so null ordering never differs.
    "q48_cube" -> Q(
      (s, dir) => t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(Analytics.exactSum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n_rows"))
        .orderBy("rf", "ls"),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
          COALESCE(l_linestatus, 'ALL') AS ls,
          CAST(SUM(CAST(l_quantity AS DECIMAL(24,2))) AS DOUBLE) AS sum_qty,
          COUNT(*) AS n_rows
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY rf, ls""")),

    // Explicit GROUPING SETS (the general form rollup/cube specialize):
    // per-source, per-lang, the cross, and the grand total in ONE pass —
    // Spark expands the sets before a single shuffle, same as q35/q48.
    "q75_grouping_sets" -> Q(
      (s, dir) => {
        t(s, dir, "documents").createOrReplaceTempView("documents")
        s.sql("""SELECT COALESCE(source, 'ALL') AS source,
            COALESCE(lang, 'ALL') AS lang,
            COUNT(*) AS n, SUM(n_chars) AS total_chars
          FROM documents
          GROUP BY GROUPING SETS ((source), (lang), (source, lang), ())
          ORDER BY source, lang""")
      },
      Some("""SELECT COALESCE(source, 'ALL') AS source,
          COALESCE(lang, 'ALL') AS lang,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY GROUPING SETS ((source), (lang), (source, lang), ())
        ORDER BY source, lang""")),

    // Anti-join (the relational complement of q11's whitelist semi-join):
    // churned customers — no order since 1999 — as a left_anti against the
    // date-filtered fact (the filter pushes to the scan; the anti side
    // carries only the key column).
    "q49_anti_join" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp_ntz"))
          .select("o_custkey")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '1999-01-01')
        ORDER BY c_custkey""")),

    // Per-label embedding centroids: posexplode to (label, dim) and
    // average on the 1e7 quantization grid (sums of integer-valued doubles
    // ≤ 2^53 — exact, order-independent, so the mean is bit-identical
    // across engines). One shuffle on (label, dim); output is dims × labels
    // rows, never a collected vector.
    "q50_embedding_centroids" -> Q(
      (s, dir) => t(s, dir, "embeddings")
        .select(col("label"), posexplode(Similarity.quantized(col("embedding")))
          .as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(((sum(col("v")) / count(lit(1))) / lit(1e7)).as("centroid"),
          count(lit(1)).as("n_vecs"))
        .orderBy("label", "pos"),
      Some("""WITH e AS (SELECT label,
          unnest(list_transform(range(0, len(embedding)),
            i -> {'pos': i, 'v': round(CAST(embedding[i + 1] AS DOUBLE) * 1e7)})) AS u
        FROM embeddings)
        SELECT label, u.pos AS pos,
          SUM(u.v) / COUNT(*) / 1e7 AS centroid, COUNT(*) AS n_vecs
        FROM e GROUP BY label, u.pos ORDER BY label, pos""")),

    // Skew-safe join must be SEMANTICALLY TRANSPARENT: q76 runs the salted
    // form (hot keys spread across 8 shuffle partitions) against the plain
    // join's oracle — identical revenue per nation or the salting leaked.
    "q76_salted_join" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_custkey").as("custkey"), col("o_totalprice"))
        val c = t(s, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_nationkey"))
        Skew.saltedJoin(o, c, "custkey", 8)
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_orders"),
            Analytics.exactSum(col("o_totalprice")).as("revenue"))
          .orderBy("c_nationkey")
      },
      Some("""SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // One distributed Lloyd (k-means) iteration, bit-exact cross-engine:
    // quantized-grid distances make the argmin assignment and the
    // per-dimension means exact (see Similarity.lloydStep scaladoc); the
    // oracle replays assignment via an n×k cross join + rank, the engine
    // keeps k centroid literals inside codegen and shuffles only the
    // (cid, dim) means.
    "q77_kmeans_step" -> Q(
      (s, dir) => Similarity.lloydStep(t(s, dir, "embeddings"),
          "vec_id", "embedding", 8)
        .orderBy("cid", "pos"),
      Some("""WITH q AS (SELECT vec_id,
            list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e7)) AS qv
          FROM embeddings),
        seeds AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < 8),
        scored AS (SELECT q.vec_id, s.cid,
            list_sum(list_transform(s.cv, x -> x * x))
              - 2.0 * list_inner_product(q.qv, s.cv) AS d2
          FROM q CROSS JOIN seeds s),
        assigned AS (SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM scored) WHERE rn = 1),
        dims AS (SELECT a.cid,
            unnest(list_transform(range(0, len(q.qv)),
              i -> {'pos': i, 'v': q.qv[i + 1]})) AS u
          FROM q JOIN assigned a ON a.vec_id = q.vec_id)
        SELECT cid, u.pos AS pos, SUM(u.v) / COUNT(*) / 1e7 AS centroid,
               COUNT(*) AS n_vecs
        FROM dims GROUP BY cid, u.pos ORDER BY cid, pos""")),

    // ITERATIVE k-means (two Lloyd rounds), still bit-exact: each round
    // re-quantizes the means onto the 1e7 grid (round(sum/n) — identical
    // IEEE division + half-away rounding in both engines), so round 2's
    // distances are again exact integer sums. The oracle replays both
    // rounds of n×k assignment; the engine ships only the k×dims grid
    // means through the driver between rounds.
    "q79_kmeans_2rounds" -> Q(
      (s, dir) => Similarity.lloydIterate(t(s, dir, "embeddings"),
          "vec_id", "embedding", 8, 2)
        .orderBy("cid", "pos"),
      Some("""WITH q AS (SELECT vec_id,
            list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e7)) AS qv
          FROM embeddings),
        seeds0 AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < 8),
        s1 AS (SELECT q.vec_id, s.cid,
            list_sum(list_transform(s.cv, x -> x * x))
              - 2.0 * list_inner_product(q.qv, s.cv) AS d2
          FROM q CROSS JOIN seeds0 s),
        a1 AS (SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM s1) WHERE rn = 1),
        d1 AS (SELECT a.cid,
            unnest(list_transform(range(0, len(q.qv)),
              i -> {'pos': i, 'v': q.qv[i + 1]})) AS u
          FROM q JOIN a1 a ON a.vec_id = q.vec_id),
        m1 AS (SELECT cid, u.pos AS pos, round(SUM(u.v) / COUNT(*)) AS gv
          FROM d1 GROUP BY cid, u.pos),
        c1 AS (SELECT cid, list(gv ORDER BY pos) AS cv FROM m1 GROUP BY cid),
        s2 AS (SELECT q.vec_id, c.cid,
            list_sum(list_transform(c.cv, x -> x * x))
              - 2.0 * list_inner_product(q.qv, c.cv) AS d2
          FROM q CROSS JOIN c1 c),
        a2 AS (SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM s2) WHERE rn = 1),
        d2 AS (SELECT a.cid,
            unnest(list_transform(range(0, len(q.qv)),
              i -> {'pos': i, 'v': q.qv[i + 1]})) AS u
          FROM q JOIN a2 a ON a.vec_id = q.vec_id)
        SELECT cid, u.pos AS pos,
               round(SUM(u.v) / COUNT(*)) / 1e7 AS centroid, COUNT(*) AS n_vecs
        FROM d2 GROUP BY cid, u.pos ORDER BY cid, pos""")),

    // Deterministic train/val/test split: assignment is a pure function of
    // (salt, id) — the same document lands in the same split on any
    // engine, partitioning, or cluster size (randomSplit cannot promise
    // that, and split drift leaks eval data into training).
    "q51_hash_split" -> Q(
      (s, dir) => Sampling.hashSplit(t(s, dir, "documents"), "doc_id", "exp1",
          Seq("train" -> 0.90, "val" -> 0.05, "test" -> 0.05))
        .groupBy("split").agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("split"),
      Some("""WITH b AS (SELECT doc_id,
          CAST('0x' || substr(md5('exp1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS bkt
        FROM documents),
        a AS (SELECT doc_id, CASE WHEN bkt < 9000 THEN 'train'
                                  WHEN bkt < 9500 THEN 'val'
                                  ELSE 'test' END AS split FROM b)
        SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        FROM a GROUP BY split ORDER BY split""")),

    // PII scrubbing audit: deterministic synthetic PII is planted on every
    // doc_id % 5 = 0 row (the raw corpus has none), redacted by the shared
    // RE2-safe patterns, and checked via a redacted-text fingerprint.
    "q52_pii_redaction" -> Q(
      (s, dir) => {
        val planted = t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" contact user5@example.com or 555-123-4567 at 10.0.0.1")))
            .otherwise(col("text")).as("text"))
        TextOps.redactPii(planted, "doc_id", "text")
          .select(col("doc_id"), col("n_redactions"),
            md5(col("text_redacted")).as("redacted_fp"))
          .orderBy("doc_id")
      },
      Some {
        val planted = """CASE WHEN doc_id % 5 = 0
            THEN text || ' contact user5@example.com or 555-123-4567 at 10.0.0.1'
            ELSE text END"""
        val redacted = TextOps.piiPatterns.foldLeft(s"($planted)") {
          case (e, (pat, tok)) => s"regexp_replace($e, '$pat', '$tok', 'g')"
        }
        val counts = TextOps.piiPatterns.map { case (pat, _) =>
          s"len(regexp_extract_all(($planted), '$pat'))"
        }.mkString(" + ")
        s"""SELECT doc_id, $counts AS n_redactions, md5($redacted) AS redacted_fp
          FROM documents ORDER BY doc_id"""
      }),

    // Corpus vocabulary: top-25 tokens by frequency with document
    // frequencies — aggregate-then-limit, one row per distinct token on
    // the wire, k rows out.
    "q53_top_vocab" -> Q(
      (s, dir) => TextOps.topVocab(t(s, dir, "documents"), "doc_id", "text", 25),
      Some("""WITH toks AS (SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents)
        SELECT tok, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        FROM toks GROUP BY tok ORDER BY n DESC, tok LIMIT 25""")),

    // Benchmark decontamination: flag corpus docs sharing any verbatim
    // 8-gram with a (pretend) eval set — the broadcast containment probe
    // over the corpus scan.
    "q54_decontamination" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.contaminatedBy(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0),
            "doc_id", "text", 8)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
               FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 6, 1)),
                 i -> l[i]||' '||l[i+1]||' '||l[i+2]||' '||l[i+3]||' '||l[i+4]||' '||l[i+5]||' '||l[i+6]||' '||l[i+7]))) AS g
               FROM toks WHERE len(l) >= 8),
        h AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        bench AS (SELECT DISTINCT sh FROM h WHERE doc_id % 10 = 0),
        corpus AS (SELECT doc_id, sh FROM h WHERE doc_id % 10 <> 0)
        SELECT doc_id, COUNT(*) AS n_hits FROM corpus JOIN bench USING (sh)
        GROUP BY doc_id ORDER BY doc_id""")),

    // Sequence packing: documents assigned (in id order per source shard)
    // to consecutive ~2000-token training chunks via a windowed prefix
    // sum — one shuffle on the shard, no global sort.
    "q56_pack_sequences" -> Q(
      (s, dir) => TextOps.packSequences(t(s, dir, "documents"),
          "doc_id", "text", "source", 2000)
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source,
          CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
          CAST(floor(CAST(
            SUM(len(string_split_regex(lower(trim(text)), '\s+')))
              OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE)
            / 2000) AS BIGINT) AS seq_id
        FROM documents ORDER BY doc_id""")),

    // TF-IDF top-5 terms per document (smoothed sklearn-style idf) — the
    // keyword-extraction face; weight quantized to integer micro-units
    // before ranking so libm ulp differences cannot flip top-k membership
    // (integers are exactly representable; fractional rounding is not).
    "q58_tfidf" -> Q(
      (s, dir) => TextOps.tfidfTopTerms(t(s, dir, "documents"),
          "doc_id", "text", 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("tfidf_micro").desc, col("term")),
      Some("""WITH toks AS (SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        idf AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
        s AS (SELECT doc_id, term, tf, df,
               CAST(round(tf * (ln(CAST(n.n + 1 AS DOUBLE) / (df + 1)) + 1) * 1e6) AS BIGINT) AS tfidf_micro
              FROM tf JOIN idf USING (term) CROSS JOIN n)
        SELECT doc_id, term, tf, df, tfidf_micro FROM s
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_micro DESC, term) <= 5
        ORDER BY doc_id, tfidf_micro DESC, term""")),

    // Context-window chunking (fixed-context training / RAG prep):
    // 64-token windows advancing by 48 (16-token overlap). Pure
    // projection+explode, no shuffle; last chunk reaches the document end.
    "q59_chunk_windows" -> Q(
      (s, dir) => TextOps.chunkTokens(t(s, dir, "documents"),
          "doc_id", "text", window = 64, stride = 48)
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH toks AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS l FROM documents),
        c AS (SELECT doc_id, l, len(l) AS n,
               CASE WHEN len(l) <= 64 THEN 1
                    ELSE (len(l) - 64 + 47) // 48 + 1 END AS nchunks
              FROM toks),
        e AS (SELECT doc_id, l, unnest(range(nchunks)) AS ci FROM c)
        SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
          CAST(len(list_slice(l, ci*48 + 1, ci*48 + 64)) AS INT) AS n_chunk_tokens,
          array_to_string(list_slice(l, ci*48 + 1, ci*48 + 64), ' ') AS chunk_text
        FROM e ORDER BY doc_id, chunk_idx""")),

    // Deterministic mixture resampling: per-source keep rates (downsample
    // over-represented sources to a target mixture). Same salted-h60
    // bucket as every sampler — reproducible across runs and engines.
    "q60_mixture_sample" -> Q(
      (s, dir) => Sampling.mixtureSample(t(s, dir, "documents"), "doc_id",
          "source",
          rates = Seq("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
          defaultRate = 0.1, salt = "mix1")
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
        .orderBy("source"),
      Some(s"""SELECT source, COUNT(*) AS n_kept FROM documents
        WHERE ${graft.functions.Hashing.h60Sql("'mix1:' || CAST(doc_id AS VARCHAR)")} % 10000 <
          CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                      WHEN 'src2' THEN 2500 ELSE 1000 END
        GROUP BY source ORDER BY source""")),

    // Repetition signals (Gopher-rules family): total/top/duplicate word
    // 2-gram occurrences per doc — the "is this document saying the same
    // thing over and over" pre-training filter inputs.
    "q61_repetition" -> Q(
      (s, dir) => TextOps.repetitionSignals(t(s, dir, "documents"),
          "doc_id", "text", 2)
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS l FROM documents),
        grams AS (SELECT doc_id, unnest(list_transform(range(1, len(l)),
                   i -> l[i] || ' ' || l[i+1])) AS g
                  FROM toks WHERE len(l) >= 2),
        tf AS (SELECT doc_id, g, COUNT(*) AS tf FROM grams GROUP BY 1, 2)
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_ngrams,
          CAST(MAX(tf) AS BIGINT) AS top_ngram_n,
          1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE)
              AS dup_ngram_ratio
        FROM tf GROUP BY doc_id ORDER BY doc_id""")),

    // Statistical-LM quality scoring (CCNet/KenLM stage): corpus-trained
    // add-one bigram model, per-doc summed log-prob in exact micro-units
    // (each ln taken of an integer, rounded before summing — libm-proof).
    "q62_lm_score" -> Q(
      (s, dir) => TextOps.bigramLmScores(t(s, dir, "documents"),
          "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS l FROM documents),
        bg AS (SELECT doc_id, unnest(list_transform(range(1, len(l)),
                 i -> l[i] || ' ' || l[i+1])) AS bg
               FROM toks WHERE len(l) >= 2),
        b AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bg),
        bgc AS (SELECT bg, COUNT(*) AS c12 FROM b GROUP BY bg),
        uni AS (SELECT w1, COUNT(*) AS c1
                FROM (SELECT unnest(l) AS w1 FROM toks) GROUP BY w1),
        v AS (SELECT COUNT(*) AS v FROM uni),
        lp AS (SELECT doc_id,
            CAST(round(ln(CAST(c12 + 1 AS DOUBLE)) * 1e6) AS BIGINT)
            - CAST(round(ln(CAST(c1 + v.v AS DOUBLE)) * 1e6) AS BIGINT) AS lp_micro
          FROM b JOIN bgc USING (bg) JOIN uni USING (w1) CROSS JOIN v)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          CAST(SUM(lp_micro) AS BIGINT) AS sum_lp_micro
        FROM lp GROUP BY doc_id ORDER BY doc_id""")),

    // Deterministic stratified sample: 3 docs per language by hash rank —
    // stable across engines, runs, and partitionings.
    "q57_stratified_sample" -> Q(
      (s, dir) => Sampling.stratifiedSample(t(s, dir, "documents"),
          "doc_id", "lang", 3, "strat1")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source FROM documents
        QUALIFY row_number() OVER (PARTITION BY lang
          ORDER BY CAST('0x' || substr(md5('strat1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
                   doc_id) <= 3
        ORDER BY doc_id""")))

  private def existsQuery =
    """SELECT c_custkey, c_name FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice < 50000)
      ORDER BY c_custkey"""

  // ----- Round 4: warehouse change tracking + corpus curation additions -----
  private val registryR4: Map[String, Q] = Map(

    // SCD Type-2 dimension build: the event log collapsed into versioned
    // rows with half-open validity intervals — per user, each run of a
    // repeated event_type becomes one version with effective_from/to and
    // is_current. The warehousing change-tracking op the reference's
    // append-only table never expresses.
    "q80_scd2" -> Q(
      (s, dir) => Warehouse.scd2Build(t(s, dir, "events"),
          keys = Seq("user_id"), tsCol = "ts", tieCols = Seq("event_id"),
          tracked = Seq("event_type"))
        .select("user_id", "version", "event_type",
          "effective_from", "effective_to", "is_current")
        .orderBy("user_id", "version"),
      Some("""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
                 FROM events),
        chg AS (SELECT *, CASE WHEN event_type IS DISTINCT FROM lag(event_type) OVER w
                                THEN 1 ELSE 0 END AS c
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        ver AS (SELECT *, SUM(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
                FROM chg),
        g AS (SELECT user_id, version, event_type, MIN(ts) AS effective_from
              FROM ver GROUP BY user_id, version, event_type)
        SELECT user_id, CAST(version AS BIGINT) AS version, event_type, effective_from,
               lead(effective_from) OVER wv AS effective_to,
               lead(effective_from) OVER wv IS NULL AS is_current
        FROM g WINDOW wv AS (PARTITION BY user_id ORDER BY version)
        ORDER BY user_id, version""")),

    // Snapshot diff (CDC): the changeset between the half-history state
    // (events below the median id, keep-latest per key) and the full
    // state — inserts for keys born after the cut, updates where the
    // latest row moved. Incremental consumers replay this instead of
    // re-reading the table.
    "q81_snapshot_diff" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val cut = ev.agg(expr("max(event_id) div 2").as("__cut"))
        val oldRows = ev.crossJoin(broadcast(cut))
          .filter(col("event_id") < col("__cut")).drop("__cut")
        def latest(d: DataFrame) = Clean.dedupKeepLast(d,
          Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
        Warehouse.snapshotDiff(latest(oldRows), latest(ev),
            keys = Seq("user_id", "event_type"),
            compareCols = Seq("event_id", "value"))
          .orderBy("user_id", "event_type")
      },
      Some("""WITH m AS (SELECT MAX(event_id) // 2 AS cut FROM events),
        o AS (SELECT user_id, event_type, event_id, value FROM (
               SELECT e.user_id, e.event_type, e.event_id, e.value,
                 row_number() OVER (PARTITION BY e.user_id, e.event_type
                   ORDER BY CAST(e.ts AS TIMESTAMP) DESC, e.event_id DESC) AS rn
               FROM events e CROSS JOIN m WHERE e.event_id < m.cut) WHERE rn = 1),
        n AS (SELECT user_id, event_type, event_id, value FROM (
               SELECT user_id, event_type, event_id, value,
                 row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
               FROM events) WHERE rn = 1)
        SELECT coalesce(o.user_id, n.user_id) AS user_id,
               coalesce(o.event_type, n.event_type) AS event_type,
               CASE WHEN o.user_id IS NULL THEN 'insert'
                    WHEN n.user_id IS NULL THEN 'delete'
                    ELSE 'update' END AS change_type,
               o.event_id AS old_event_id, n.event_id AS new_event_id,
               o.value AS old_value, n.value AS new_value
        FROM o FULL JOIN n ON o.user_id = n.user_id AND o.event_type = n.event_type
        WHERE NOT (o.event_id IS NOT DISTINCT FROM n.event_id
                   AND o.value IS NOT DISTINCT FROM n.value)
        ORDER BY user_id, event_type""")),

    // Segment-level dedup (CCNet/RefinedWeb paragraph stage): drop every
    // 8-token segment that occurs in more than one document, reassemble
    // the survivors — catches cross-document boilerplate that document-
    // level dedup misses. Segments travel as h60 hashes (oracle replays
    // the identical hashing).
    "q82_segment_dedup" -> Q(
      (s, dir) => TextOps.dedupSegments(t(s, dir, "documents"),
          "doc_id", "text", segTokens = 8, maxDocFreq = 1)
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
                 FROM documents),
        segs AS (SELECT doc_id, unnest(list_transform(range((len(l) + 7) // 8),
                   i -> {'pos': CAST(i AS INTEGER),
                         'seg': array_to_string(list_slice(l, i*8 + 1, i*8 + 8), ' ')})) AS s
                 FROM toks),
        hashed AS (SELECT doc_id, s.pos AS pos, s.seg AS seg,
                   CAST('0x' || substr(md5(s.seg), 1, 15) AS BIGINT) AS h FROM segs),
        dfreq AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM hashed GROUP BY h)
        SELECT doc_id, COUNT(*) AS n_segments,
               CAST(SUM(CASE WHEN df <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               string_agg(CASE WHEN df <= 1 THEN seg END, ' ' ORDER BY pos) AS kept_text
        FROM hashed JOIN dfreq USING (h)
        GROUP BY doc_id ORDER BY doc_id""")),

    // Schema-evolution union: two relations with drifted schemas unioned
    // BY NAME, absent columns null-filled — the reader-side half of
    // schema evolution (the writer-side half is the versioned warehouse's
    // per-generation schema).
    "q83_union_evolve" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer").select(
          col("c_custkey").as("entity_id"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal"), lit("customer").as("kind"))
        val sup = t(s, dir, "supplier").select(
          col("s_suppkey").as("entity_id"), col("s_name").as("name"),
          col("s_acctbal").as("acctbal"), col("s_nationkey").as("nationkey"),
          lit("supplier").as("kind"))
        c.unionByName(sup, allowMissingColumns = true)
          .orderBy("kind", "entity_id")
      },
      Some("""SELECT * FROM (
          SELECT c_custkey AS entity_id, c_name AS name, c_acctbal AS acctbal,
                 'customer' AS kind FROM customer
          UNION ALL BY NAME
          SELECT s_suppkey AS entity_id, s_name AS name, s_acctbal AS acctbal,
                 s_nationkey AS nationkey, 'supplier' AS kind FROM supplier)
        ORDER BY kind, entity_id""")),

    // Johnson–Lindenstrauss random projection: 64-dim embeddings to 16
    // deterministic ±1-signed coordinates on the integer grid — the
    // train-free dimensionality reduction in front of ANN/near-dup at
    // scale. Bit-exact in both engines (every sum is integer < 2^53).
    "q84_random_projection" -> Q(
      (s, dir) => Similarity.randomProjection(t(s, dir, "embeddings"),
          "vec_id", "embedding", outDim = 16, dim = 64)
        .orderBy("vec_id", "j"),
      Some("""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e7)) AS qv
          FROM embeddings),
        s AS (SELECT CAST(j AS INTEGER) AS j,
                list(CASE WHEN CAST('0x' || substr(md5('rp:' || j || ':' || d), 1, 15) AS BIGINT) % 2 = 0
                          THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END ORDER BY d) AS sg
              FROM range(16) t1(j) CROSS JOIN range(64) t2(d) GROUP BY j)
        SELECT vec_id, j,
          CAST(list_aggregate(list_transform(range(1, 65), i -> qv[i] * sg[i]), 'sum') AS BIGINT) AS proj
        FROM v CROSS JOIN s
        ORDER BY vec_id, j""")),

    // Lexical-richness profile: tokens, types, hapaxes, type-token ratio
    // per document — the vocabulary-diversity quality signals next to
    // q61's repetition view.
    "q85_lexical_stats" -> Q(
      (s, dir) => TextOps.lexicalStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM (
                 SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                 FROM documents) GROUP BY doc_id, tok)
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_types,
               CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
               CAST(COUNT(*) AS DOUBLE) / CAST(SUM(tf) AS BIGINT) AS ttr
        FROM tf GROUP BY doc_id ORDER BY doc_id""")),

    // Regex function battery (RE2-safe patterns, so Java regex and RE2
    // agree): extract-all counts, group extraction, boolean match, global
    // replace.
    "q86_regex_battery" -> Q(
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("n_alpha_runs"),
        regexp_extract(col("text"), "([a-z]{5,})", 1).as("first_long_word"),
        col("text").rlike("query").as("has_query"),
        substring(regexp_replace(col("text"), "[aeiou]", "_"), 1, 40).as("devoweled_head"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
          CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS n_alpha_runs,
          regexp_extract(text, '([a-z]{5,})', 1) AS first_long_word,
          regexp_matches(text, 'query') AS has_query,
          substr(regexp_replace(text, '[aeiou]', '_', 'g'), 1, 40) AS devoweled_head
        FROM documents ORDER BY doc_id""")),

    // Per-group winsorization: events.value clipped into its event_type's
    // [p05, p95] band — heavy-tail taming that keeps the row (exact
    // interpolated percentiles, broadcast bounds, fact never shuffles).
    "q88_winsorize" -> Q(
      (s, dir) => Quality.winsorize(t(s, dir, "events"),
          "event_type", "value", 0.05, 0.95)
        .select("event_id", "event_type", "value", "value_winsorized")
        .orderBy("event_id"),
      Some("""WITH b AS (SELECT event_type, quantile_cont(value, 0.05) AS lo,
                 quantile_cont(value, 0.95) AS hi
               FROM events GROUP BY event_type)
        SELECT event_id, e.event_type, value,
               least(greatest(value, lo), hi) AS value_winsorized
        FROM events e JOIN b USING (event_type)
        ORDER BY event_id""")),

    // Character-distribution entropy (gibberish/spam signal): integer
    // micro-nat identity n·L(n) − Σ k·L(k) — every ln is of an integer,
    // rounded to micro-units before any arithmetic, so both engines agree
    // bit-for-bit (the q62 libm-proofing pattern).
    "q89_char_entropy" -> Q(
      (s, dir) => TextOps.charEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH s AS (SELECT doc_id,
                 regexp_replace(lower(trim(text)), '\s', '', 'g') AS s
               FROM documents),
        chars AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(s) + 1),
                     i -> substr(s, CAST(i AS INTEGER), 1))) AS ch
                  FROM s),
        k AS (SELECT doc_id, ch, COUNT(*) AS k FROM chars GROUP BY doc_id, ch),
        agg AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n,
                 CAST(SUM(k * CAST(round(ln(CAST(k AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT)
                   AS sum_klk
                FROM k GROUP BY doc_id)
        SELECT doc_id, n AS n_chars_nospace,
               n * CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) - sum_klk
                 AS ent_micro_sum
        FROM agg ORDER BY doc_id""")),

    // Bounded-frame rolling windows (ROWS BETWEEN 3 PRECEDING AND CURRENT
    // ROW): the moving-aggregate complement of q43's unbounded analytics;
    // the sum rides micro-unit longs so frame accumulation order can't
    // produce engine-specific FP drift.
    "q87_rolling_frames" -> Q(
      (s, dir) => {
        val w4 = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id")).rowsBetween(-3, 0)
        t(s, dir, "events").select(
          col("event_id"), col("user_id"),
          sum(round(col("value") * 1e6).cast("long")).over(w4).as("roll4_sum_micro"),
          min(col("value")).over(w4).as("roll4_min"),
          max(col("value")).over(w4).as("roll4_max"),
          count(lit(1)).over(w4).as("n_in_frame"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
          CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) OVER w AS BIGINT) AS roll4_sum_micro,
          MIN(value) OVER w AS roll4_min,
          MAX(value) OVER w AS roll4_max,
          COUNT(*) OVER w AS n_in_frame
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")),

    // ----- Product quantization (the billion-vector ANN layout) --------------

    // PQ ENCODE: 64 dims -> 8 subspaces x 32 sub-centroids = 8-byte code
    // words. The oracle replays the full deterministic pipeline — 1e7
    // quantization, seeded codebook, integer-exact argmin per subspace —
    // so the gate checks the encoder itself. Map-only at any scale: the
    // codebook rides as codegen literals.
    "q90_pq_encode" -> Q(
      (s, dir) => Similarity.pqEncode(t(s, dir, "embeddings"), "vec_id",
          "embedding", m = 8, ksub = 32, dim = 64)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id", "subspace"),
      Some(s"""$pqCommonSql
        SELECT vec_id, j AS subspace, code FROM best ORDER BY vec_id, subspace""")),

    // PQ SEARCH, production shape: asymmetric-distance shortlist (per-query
    // m x ksub inner-product table; corpus scan touches only the 8-byte
    // codes) then EXACT cosine re-rank of the 50-candidate shortlist.
    // Every step is deterministic (exact integer table entries, DECIMAL
    // sums, id tie-breaks), so unlike most ANN this has a full bit-exact
    // oracle replaying shortlist AND re-rank; recall vs the exact q24
    // ranking is pinned in SimilaritySpec.
    "q91_pq_adc_rerank" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.pqSearchRerank(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", k = 5, shortlist = 50, m = 8, ksub = 32,
            dim = 64)
          .orderBy(col("query_id"), col("cos").desc, col("id"))
      },
      Some(s"""$pqCommonSql,
        queries AS (SELECT vec_id AS qid, qv FROM q WHERE vec_id < 10),
        qsub AS (SELECT qid, j, list_slice(qv, CAST(j*8+1 AS INTEGER), CAST(j*8+8 AS INTEGER)) AS v
                 FROM queries, (SELECT unnest(range(0, 8)) AS j)),
        tabl AS (SELECT qs.qid, qs.j, c.sid AS code,
              CAST(list_inner_product(qs.v, c.c) AS DECIMAL(20,0)) AS t
            FROM qsub qs JOIN cent c ON qs.j = c.j),
        scoredq AS (SELECT t.qid AS query_id, b.vec_id AS id,
              CAST(SUM(t.t) AS DECIMAL(23,0)) AS ip_part
            FROM best b JOIN tabl t ON t.j = b.j AND t.code = b.code
            GROUP BY 1, 2),
        short AS (SELECT query_id, id FROM (
            SELECT query_id, id,
                   row_number() OVER (PARTITION BY query_id ORDER BY ip_part DESC, id) AS rn
            FROM scoredq WHERE query_id <> id) WHERE rn <= 50),
        rr AS (SELECT s.query_id, s.id,
              list_inner_product(qa.qv, qb.qv)
                / sqrt(list_inner_product(qa.qv, qa.qv) * list_inner_product(qb.qv, qb.qv)) AS cos
            FROM short s
            JOIN q qa ON qa.vec_id = s.query_id
            JOIN q qb ON qb.vec_id = s.id),
        ranked AS (SELECT query_id, id, cos,
              row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS rn
            FROM rr)
        SELECT query_id, id, cos FROM ranked WHERE rn <= 5
        ORDER BY query_id, cos DESC, id""")),

    // Symmetric int8 quantization per vector (the standard serving-side
    // embedding compression): scale = max|component| on the 1e7 grid,
    // codes = round-half-up(|q|*127/maxq) with sign — every step integer
    // arithmetic (the one division is a bounded-denominator rational whose
    // floor is IEEE-safe), so codes are engine-exact. The operator stays
    // array-native; THIS projection flattens codes to a CSV string because
    // the driver's comparator cannot sort array-typed columns (round-4
    // q92 `err`) — int→string rendering is locale-free in both engines.
    "q92_int8_quant" -> Q(
      (s, dir) => Similarity.int8Quantize(t(s, dir, "embeddings"), "vec_id",
          "embedding")
        .withColumnRenamed("id", "vec_id")
        .select(col("vec_id"), col("scale_micro"),
          array_join(col("codes").cast("array<string>"), ",").as("codes_csv"),
          col("n_saturated"))
        .orderBy("vec_id"),
      Some("""WITH q AS (SELECT vec_id,
            list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e7)) AS qv
          FROM embeddings),
        m AS (SELECT vec_id, qv,
            CAST(list_max(list_transform(qv, x -> abs(x))) AS BIGINT) AS maxq
          FROM q),
        c AS (SELECT vec_id, maxq,
            list_transform(qv, x -> CASE WHEN maxq = 0 THEN 0
              ELSE CAST(sign(x) * floor((abs(x)*254 + maxq) / (2*maxq)) AS INTEGER)
              END) AS codes
          FROM m)
        SELECT vec_id, maxq AS scale_micro,
          array_to_string(list_transform(codes, x -> CAST(x AS VARCHAR)), ',') AS codes_csv,
          CAST(len(list_filter(codes, x -> abs(x) = 127)) AS INTEGER) AS n_saturated
        FROM c ORDER BY vec_id""")),

    // Gopher-rules quality gate with NAMED failures: word count, mean
    // word length, distinct-stopword floor, top-bigram repetition cap.
    // The repetition rule is cross-multiplied (integers only) and the
    // mean length stays a raw IEEE division — no decimal quantization
    // anywhere, so the verdicts and reason lists are engine-exact.
    "q93_gopher_filter" -> Q(
      (s, dir) => TextOps.gopherFilter(t(s, dir, "documents"), "doc_id", "text")
        // fail_reasons stays array-native in the operator; the gate
        // projection flattens it (fixed rule order, so the CSV is
        // deterministic) — the driver comparator cannot sort arrays
        .withColumn("fail_csv", array_join(col("fail_reasons"), ","))
        .drop("fail_reasons")
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id, text,
            string_split_regex(lower(trim(text)), '\s+') AS l FROM documents),
        feat AS (SELECT doc_id, len(l) AS n_tokens,
            CASE WHEN len(l) <> 0 THEN
              CAST(length(text) - (len(l) - 1) AS DOUBLE) / len(l) END AS mtl,
            len(list_filter(list_distinct(l),
              t -> t IN ('the', 'a', 'of', 'and'))) AS n_stop_kinds
          FROM toks),
        bg AS (SELECT doc_id, unnest(list_transform(range(1, len(l)),
              i -> l[i] || ' ' || l[i+1])) AS g
            FROM toks WHERE len(l) >= 2),
        tf AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        rep AS (SELECT doc_id, MAX(c) AS top_bg, CAST(SUM(c) AS BIGINT) AS n_bg
                FROM tf GROUP BY doc_id),
        rules AS (SELECT f.doc_id, f.n_tokens,
            f.n_tokens BETWEEN 50 AND 100000 AS wc_ok,
            f.mtl IS NOT NULL AND f.mtl >= 3.0 AND f.mtl <= 10.0 AS ml_ok,
            f.n_stop_kinds >= 2 AS stop_ok,
            r.top_bg IS NULL OR r.top_bg * 50 <= r.n_bg * 3 AS rep_ok
          FROM feat f LEFT JOIN rep r ON r.doc_id = f.doc_id)
        SELECT doc_id, n_tokens,
          (wc_ok AND ml_ok AND stop_ok AND rep_ok) AS passes,
          coalesce(array_to_string(list_filter(list_value(
            CASE WHEN NOT wc_ok THEN 'word_count' END,
            CASE WHEN NOT ml_ok THEN 'mean_word_len' END,
            CASE WHEN NOT stop_ok THEN 'stopwords' END,
            CASE WHEN NOT rep_ok THEN 'repetition' END), x -> x IS NOT NULL), ','),
            '') AS fail_csv
        FROM rules ORDER BY doc_id""")),

    // Exact-substring-dedup measurement (Lee et al. 2022): per document,
    // how many token positions sit under a word 3-gram shared by more
    // than 5 documents. Inverted-index shuffles only; keep_ratio is one
    // IEEE division of exact counts.
    "q94_repeated_spans" -> Q(
      (s, dir) => TextOps.repeatedSpanCoverage(t(s, dir, "documents"),
          "doc_id", "text", n = 3, maxDocFreq = 5)
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS l FROM documents),
        grams AS (SELECT doc_id, u.pos AS pos,
            CAST('0x' || substr(md5(u.g), 1, 15) AS BIGINT) AS gh
          FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(l) - 1, 1)),
              i -> {'pos': i - 1, 'g': l[i] || ' ' || l[i+1] || ' ' || l[i+2]})) AS u
            FROM toks WHERE len(l) >= 3)),
        rep AS (SELECT gh FROM (
            SELECT gh, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, gh FROM grams)
            GROUP BY gh) WHERE df > 5),
        cov0 AS (SELECT DISTINCT g.doc_id, tp FROM grams g JOIN rep USING (gh),
            LATERAL (SELECT unnest(range(g.pos, g.pos + 3)) AS tp) u),
        cov AS (SELECT doc_id, COUNT(*) AS n_covered FROM cov0 GROUP BY doc_id)
        SELECT t.doc_id, len(t.l) AS n_tokens,
          coalesce(c.n_covered, 0) AS n_covered,
          CASE WHEN len(t.l) <> 0 THEN
            1.0 - CAST(coalesce(c.n_covered, 0) AS DOUBLE) / len(t.l) END AS keep_ratio
        FROM toks t LEFT JOIN cov c USING (doc_id) ORDER BY doc_id""")),

    // Quality-aware dedup survivor election: cluster near-dups (q55's
    // pipeline), then keep each cluster's HIGHEST-quality member instead
    // of the arbitrary min-id — the real curation rule. The oracle replays
    // clustering (recursive CTE) + the micro-unit integer quality score +
    // the argmax (exact long comparisons, no decimal rounding anywhere).
    "q95_cluster_survivors" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = lshPairs(s, dir)
        val clusters = Graphs.connectedComponents(pairs, "id_a", "id_b")
        val scored = TextOps.qualityFeatures(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality_score_micro"))
        Curation.electSurvivors(clusters, scored, "doc_id", "quality_score_micro")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
               FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 1)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
               FROM toks WHERE len(l) >= 3),
        sh AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        pairs AS (SELECT id_a, id_b FROM inter
                  JOIN sizes sa ON id_a = sa.doc_id
                  JOIN sizes sb ON id_b = sb.doc_id
                  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        walk(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst),
        comp AS (SELECT id AS doc_id, MIN(lbl) AS component FROM walk GROUP BY id),
        ${qualityMicroSql("doc_id")},
        r AS (SELECT c.doc_id, c.component, q.quality_score_micro,
              row_number() OVER (PARTITION BY c.component
                                 ORDER BY q.quality_score_micro DESC, c.doc_id) AS rn
          FROM comp c JOIN __qm q USING (doc_id))
        SELECT doc_id, component, quality_score_micro, rn = 1 AS is_survivor
        FROM r ORDER BY doc_id""")),

    // Water-filling token-budget allocation: fit the per-source corpus
    // into 60% of its own token total — sources under the fill level keep
    // everything, bigger ones are clipped to the common cap. Closed-form
    // (no iteration), integer-exact; the oracle replays tiers and cap.
    "q96_token_budget" -> Q(
      (s, dir) => {
        // cached: the eager budget collect below and the allocation both
        // read this aggregate — uncached, the tokenize+groupBy would run twice
        val per = graft.CacheScope.register(t(s, dir, "documents")
          .select(col("source"), size(TextFns.tokens(col("text"))).as("__nt"))
          .groupBy("source").agg(sum(col("__nt")).as("n_tokens")))
        // one-row bounded driver transfer (the budget scalar), same
        // contract as the k-means seed collect
        val total = per.agg(sum(col("n_tokens"))).first().getLong(0)
        Sampling.waterFillAllocation(per, "source", "n_tokens",
            math.floor(0.6 * total).toLong)
          .orderBy("source")
      },
      Some("""WITH per AS (SELECT source,
            CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(floor(0.6 * SUM(n_tokens)) AS BIGINT) AS budget,
                       COUNT(*) AS nsrc FROM per),
        s AS (SELECT source, n_tokens,
            row_number() OVER (ORDER BY n_tokens, source) AS i,
            coalesce(SUM(n_tokens) OVER (ORDER BY n_tokens, source
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumprev
          FROM per),
        t AS (SELECT source, n_tokens, i,
            CAST(floor(CAST(budget - cumprev AS DOUBLE) / (nsrc - i + 1)) AS BIGINT) AS ti
          FROM s, tot),
        c AS (SELECT ti AS cap FROM t,
            (SELECT MIN(i) AS mi FROM t WHERE ti < n_tokens) m
          WHERE t.i = m.mi)
        SELECT t.source, t.n_tokens,
          CAST(CASE WHEN cap IS NULL THEN t.n_tokens
               ELSE least(t.n_tokens, cap) END AS BIGINT) AS allocated
        FROM t LEFT JOIN c ON TRUE ORDER BY source""")),

    // Per-language relative quality gate: drop each language's bottom
    // decile by quality score — the dynamic-threshold curation rule.
    // percentileGate computes cume_dist's exact value from grouped counts
    // (no whole-group sort — see Quality.scala for the 100 TB shape);
    // the oracle's cume_dist window is value-identical: same exact count
    // division over the same micro-unit integer scores.
    "q97_decile_gate" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val scored = TextOps.qualityFeatures(docs, "doc_id", "text")
          .select("doc_id", "quality_score_micro")
          .join(docs.select("doc_id", "lang"), "doc_id")
        Quality.percentileGate(scored, "lang", "quality_score_micro", 0.1)
          .select("doc_id", "lang", "quality_score_micro", "pct", "kept")
          .orderBy("doc_id")
      },
      Some(s"""WITH ${qualityMicroSql("doc_id")},
        j AS (SELECT q.doc_id, d.lang, q.quality_score_micro
              FROM __qm q JOIN documents d USING (doc_id))
        SELECT doc_id, lang, quality_score_micro,
          cume_dist() OVER (PARTITION BY lang ORDER BY quality_score_micro) AS pct,
          cume_dist() OVER (PARTITION BY lang ORDER BY quality_score_micro) > 0.1 AS kept
        FROM j ORDER BY doc_id""")),

    // Temperature-scaled mixture targets (α = 1/2): sample ∝ sqrt(size),
    // up-weighting small sources — the multilingual balancing rule. sqrt
    // is correctly-rounded IEEE everywhere (no libm pow), weights ride
    // micro-unit integers, targets are exact floor divisions.
    "q98_temperature_mix" -> Q(
      (s, dir) => {
        val per = t(s, dir, "documents")
          .select(col("source"), size(TextFns.tokens(col("text"))).as("__nt"))
          .groupBy("source").agg(sum(col("__nt")).as("n_tokens"))
        Sampling.temperatureWeights(per, "source", "n_tokens", 10000L)
          .orderBy("source")
      },
      Some("""WITH per AS (SELECT source,
            CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        w AS (SELECT source, n_tokens,
            CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS w_micro
          FROM per),
        t AS (SELECT source, n_tokens, w_micro,
            CAST(SUM(w_micro) OVER () AS BIGINT) AS wsum FROM w)
        SELECT source, n_tokens, w_micro,
          CAST(CASE WHEN wsum = 0 THEN 0
               ELSE floor(10000.0 * w_micro / wsum) END AS BIGINT) AS target
        FROM t ORDER BY source""")),

    // Exact Pearson correlation matrix over lineitem's numeric columns:
    // DECIMAL moment sums (order-independent), one aggregation pass for
    // all pairs, final r in mirrored IEEE double — engine-exact where the
    // built-in corr's streaming accumulation is not.
    "q99_corr_matrix" -> Q(
      (s, dir) => Quality.pearsonMatrix(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b"),
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        def m(c: String) = s"CAST(CAST(round($c * 1e6) AS BIGINT) AS DECIMAL(19,0))"
        // mirrors Quality.pearsonMatrix's validity gate exactly: present,
        // finite, and inside the |x| < 1e9 quantization range — a looser
        // oracle filter would count different n/moments on any table
        // with infinite or very large values
        def v(c: String) = s"$c IS NOT NULL AND isfinite(CAST($c AS DOUBLE)) " +
          s"AND abs(CAST($c AS DOUBLE)) < 1e9"
        // pairwise-complete: each pair's moments conditioned on BOTH
        // columns valid, mirroring Quality.pearsonMatrix
        val pairs = cols.combinations(2).toSeq.map { case Seq(a, b) =>
          val f = s"FILTER (WHERE ${v(a)} AND ${v(b)})"
          s"""SELECT col_a, col_b, n,
             CASE WHEN (CAST(n AS DOUBLE) * CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) > 0
                   AND (CAST(n AS DOUBLE) * CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0
             THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
             END AS r FROM (
               SELECT '$a' AS col_a, '$b' AS col_b,
                 COUNT(*) $f AS n,
                 CAST(SUM(${m(a)}) $f AS DECIMAL(38,0)) AS sa,
                 CAST(SUM(${m(b)}) $f AS DECIMAL(38,0)) AS sb,
                 CAST(SUM(${m(a)} * ${m(a)}) $f AS DECIMAL(38,0)) AS ssa,
                 CAST(SUM(${m(b)} * ${m(b)}) $f AS DECIMAL(38,0)) AS ssb,
                 CAST(SUM(${m(a)} * ${m(b)}) $f AS DECIMAL(38,0)) AS sxy
               FROM lineitem)"""
        }
        pairs.mkString(" UNION ALL ") + " ORDER BY col_a, col_b"
      }),

    // One-pass table profile over events: nulls, exact distincts, and
    // numeric min/max on the micro grid per column (string/timestamp
    // extrema deliberately omitted — engines render them differently).
    "q100_profile" -> Q(
      (s, dir) => Quality.profileTable(t(s, dir, "events"),
          Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
        .orderBy("column_name"),
      Some {
        val integral = Set("event_id", "user_id")
        val fractional = Set("value")
        val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
        val rows = cols.map { c =>
          // integral columns: raw min/max, exact long multiply (mirrors
          // Quality.profileTable's integral path — no double round-trip)
          val mm =
            if (integral(c))
              s"CAST(MIN($c) AS BIGINT) * 1000000 AS min_micro, " +
                s"CAST(MAX($c) AS BIGINT) * 1000000 AS max_micro"
            else if (fractional(c))
              s"CAST(MIN(CAST(round($c * 1e6) AS BIGINT)) AS BIGINT) AS min_micro, " +
                s"CAST(MAX(CAST(round($c * 1e6) AS BIGINT)) AS BIGINT) AS max_micro"
            else "CAST(NULL AS BIGINT) AS min_micro, CAST(NULL AS BIGINT) AS max_micro"
          s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
              COUNT(*) - COUNT($c) AS n_nulls,
              COUNT(DISTINCT $c) AS n_distinct, $mm FROM events"""
        }
        rows.mkString(" UNION ALL ") + " ORDER BY column_name"
      }),

    // Embedding-space outlier pruning: nearest-seed-centroid assignment
    // with the FULL exact grid distance; vectors far from every centroid
    // are flagged for dropping/down-weighting. Map-only scan, centroids
    // as codegen literals; the oracle replays assignment and distances
    // bit-exact.
    "q101_embed_outliers" -> Q(
      (s, dir) => Similarity.embeddingOutliers(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 8, maxD2 = 1.9e14)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id"),
      Some("""WITH q AS (SELECT vec_id,
            list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e7)) AS qv
          FROM embeddings),
        seeds AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < 8),
        scored AS (SELECT q.vec_id, s.cid,
            list_sum(list_transform(q.qv, x -> x*x)) AS vn,
            list_sum(list_transform(s.cv, x -> x*x))
              - 2.0 * list_inner_product(q.qv, s.cv) AS d2p
          FROM q CROSS JOIN seeds s),
        best AS (SELECT vec_id, cid, vn + d2p AS d2 FROM (
            SELECT vec_id, cid, vn, d2p,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2p, cid) AS rn
            FROM scored) WHERE rn = 1)
        SELECT vec_id, cid, d2, d2 > 1.9e14 AS is_outlier
        FROM best ORDER BY vec_id""")),

    // Hard-negative mining for contrastive training: per query vector,
    // the top-3 most-similar corpus vectors with a DIFFERENT label (the
    // closest wrong answers). Quantized-exact cosine, bounded
    // TopKAggregator — never a corpus-wide window.
    "q102_hard_negatives" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", "label", 3)
          .orderBy(col("query_id"), col("cos").desc, col("id"))
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, label AS ql, embedding AS qv
            FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS id, label AS cl, embedding AS cv FROM embeddings),
        scored AS (SELECT query_id, id,
          list_aggregate(list_transform(range(1, len(qv) + 1),
            i -> round(CAST(qv[i] AS DOUBLE) * 1e7) * round(CAST(cv[i] AS DOUBLE) * 1e7)), 'sum')
          / SQRT(
            list_aggregate(list_transform(range(1, len(qv) + 1),
              i -> round(CAST(qv[i] AS DOUBLE) * 1e7) * round(CAST(qv[i] AS DOUBLE) * 1e7)), 'sum')
            * list_aggregate(list_transform(range(1, len(cv) + 1),
              i -> round(CAST(cv[i] AS DOUBLE) * 1e7) * round(CAST(cv[i] AS DOUBLE) * 1e7)), 'sum')) AS cos
          FROM q JOIN c ON query_id <> id AND ql <> cl)
        SELECT query_id, id, cos FROM scored
        QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) <= 3
        ORDER BY query_id, cos DESC, id""")),

    // Edit-distance near-dup confirm: q21's LSH candidates re-gated by a
    // relative Levenshtein budget (lev ≤ 5% of the longer normalized
    // text — a budget that actually splits the candidate set: observed
    // ratios at sf0.01 span 0.8–6.3%), cross-multiplied to integers. The
    // O(len²) distance runs only on bucket-bounded candidate pairs.
    "q103_edit_distance_dedup" -> Q(
      (s, dir) => Dedup.editDistanceNearDups(t(s, dir, "documents"),
          "doc_id", "text", 3, 64, 16, 0.8, 1, 20)
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
               FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 1)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
               FROM toks WHERE len(l) >= 3),
        sh AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        pairs AS (SELECT id_a, id_b,
               CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
               FROM inter JOIN sizes sa ON id_a = sa.doc_id
                          JOIN sizes sb ON id_b = sb.doc_id
               WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8),
        nt AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
               FROM documents)
        SELECT p.id_a, p.id_b, p.jaccard,
          CAST(levenshtein(a.t, b.t) AS INTEGER) AS lev,
          CAST(greatest(length(a.t), length(b.t)) AS INTEGER) AS max_len
        FROM pairs p JOIN nt a ON a.doc_id = p.id_a JOIN nt b ON b.doc_id = p.id_b
        WHERE levenshtein(a.t, b.t) * 20 <= greatest(length(a.t), length(b.t)) * 1
        ORDER BY id_a, id_b""")),

    // Sequence-length histogram (fixed 16-token bins): the distribution
    // check before choosing packing window / truncation length. Exact
    // integer bins; shares ride micro-unit ratios; the share window runs
    // over the BINNED aggregate (≤ max_len/16 rows — PlanLintSpec
    // allowlist documents the bound).
    "q104_length_histogram" -> Q(
      (s, dir) => {
        val n = size(TextFns.tokens(col("text"))).cast("long")
        val binned = t(s, dir, "documents")
          .select((n - pmod(n, lit(16L))).as("bin_lo"), n.as("__n"))
          .groupBy("bin_lo")
          .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("sum_tokens"))
        binned
          .withColumn("__total", sum(col("n_docs")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
          .select(col("bin_lo"), col("n_docs"), col("sum_tokens"),
            TextOps.ratioMicro(col("n_docs"), col("__total")).as("share_micro"))
          .orderBy("bin_lo")
      },
      Some("""WITH t AS (SELECT len(string_split_regex(lower(trim(text)), '\s+')) AS n
               FROM documents),
        b AS (SELECT n - (n % 16) AS bin_lo, COUNT(*) AS n_docs,
               CAST(SUM(n) AS BIGINT) AS sum_tokens FROM t GROUP BY 1),
        w AS (SELECT *, CAST(SUM(n_docs) OVER () AS BIGINT) AS total FROM b)
        SELECT bin_lo, n_docs, sum_tokens,
          CAST(floor((n_docs*2000000 + total) / (2*total)) AS BIGINT) AS share_micro
        FROM w ORDER BY bin_lo""")),

    // Count-based bigram LM statistics (the perplexity-filter training
    // pass): bigram counts, left-context totals, MLE conditionals in
    // micro units. minCount=3 prunes the hapax tail (rows only — c1
    // keeps pruned mass, so probabilities stay true MLE).
    "q105_bigram_lm" -> Q(
      (s, dir) => TextOps.bigramLm(t(s, dir, "documents"), "text", 3L)
        .orderBy("w1", "w2"),
      Some("""WITH toks AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS l
               FROM documents),
        g AS (SELECT unnest(list_transform(range(1, greatest(len(l), 1)),
                 i -> l[i] || ' ' || l[i+1])) AS g
               FROM toks WHERE len(l) >= 2),
        c AS (SELECT g, COUNT(*) AS c12 FROM g GROUP BY g),
        s AS (SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2, c12 FROM c),
        w AS (SELECT w1, w2, c12,
               CAST(SUM(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1 FROM s)
        SELECT w1, w2, c12, c1,
          CAST(floor((c12*2000000 + c1) / (2*c1)) AS BIGINT) AS p_micro
        FROM w WHERE c12 >= 3 ORDER BY w1, w2""")),

    // Per-source curation rollup — the "which domains are worth crawling"
    // dashboard: doc counts, exact-dup rows (count − distinct
    // fingerprints), and mean quality per source. Composes the micro-unit
    // quality score with the 128-bit exact-dedup fingerprint; one shuffle
    // on source.
    "q106_source_rollup" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val scored = TextOps.qualityFeatures(docs, "doc_id", "text")
          .select("doc_id", "quality_score_micro")
        docs.select(col("doc_id"), col("source"),
            graft.functions.TextFns.fingerprint(col("text")).as("__fp"))
          .join(scored, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("__fp")).as("n_unique"),
            (count(lit(1)) - countDistinct(col("__fp"))).as("n_dup_rows"),
            (sum(col("quality_score_micro")).cast("double") / count(lit(1)) / 1e6)
              .as("avg_quality"))
          .orderBy("source")
      },
      Some(s"""WITH ${qualityMicroSql("doc_id")},
        fp AS (SELECT doc_id, source,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
               FROM documents)
        SELECT source, COUNT(*) AS n_docs,
          COUNT(DISTINCT f.fp) AS n_unique,
          COUNT(*) - COUNT(DISTINCT f.fp) AS n_dup_rows,
          CAST(SUM(q.quality_score_micro) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_quality
        FROM fp f JOIN __qm q USING (doc_id)
        GROUP BY source ORDER BY source""")),

    // Asymmetric shingle containment |A∩B|/|A| — catches a document
    // CONTAINED in a larger one (quoted article, boilerplate wrapper)
    // where the size imbalance keeps Jaccard tiny. Same inverted-index
    // shuffle as q20; containments are exact IEEE divisions of counts.
    "q107_containment_pairs" -> Q(
      (s, dir) => Dedup.containmentPairs(t(s, dir, "documents"),
          "doc_id", "text", 3, 0.8)
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
               FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 1)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
               FROM toks WHERE len(l) >= 3),
        sh AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b,
          CAST(inter AS DOUBLE) / sa.sz AS cont_a,
          CAST(inter AS DOUBLE) / sb.sz AS cont_b
        FROM inter JOIN sizes sa ON id_a = sa.doc_id
                   JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.8
           OR CAST(inter AS DOUBLE) / sb.sz >= 0.8
        ORDER BY id_a, id_b""")),

    // Feature-hashing bag-of-words (HashingTF): sparse (doc, bucket, cnt)
    // triplets, no vocabulary pass — the streaming-safe vectorizer.
    "q108_hashed_bow" -> Q(
      (s, dir) => TextOps.hashedBow(t(s, dir, "documents"),
          "doc_id", "text", 1024)
        .orderBy("doc_id", "bucket"),
      Some("""WITH toks AS (SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents)
        SELECT doc_id,
          CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024 AS bucket,
          COUNT(*) AS cnt
        FROM toks GROUP BY 1, 2 ORDER BY doc_id, bucket""")),

    // CCNet-style perplexity bucketing: per-doc corpus-LM score (q62's
    // add-one bigram log-prob), averaged per bigram, then per-language
    // head/middle/tail terciles from percentileGate's grouped-counts pct
    // (no whole-group sort). Low average log-prob = high perplexity =
    // tail; the bucket CASE uses the identical pct expression both
    // engines compute from the same exact counts.
    "q109_perplexity_buckets" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val scored = TextOps.bigramLmScores(docs, "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          // avg log-prob per bigram: one IEEE division of exact integers
          .select(col("doc_id"),
            (col("sum_lp_micro").cast("double") / col("n_bigrams").cast("double"))
              .as("avg_lp"))
          .join(docs.select("doc_id", "lang"), "doc_id")
        Quality.percentileGate(scored, "lang", "avg_lp", 0.0)
          .select(col("doc_id"), col("lang"), col("avg_lp"), col("pct"),
            when(col("pct") * 3 <= lit(1.0), lit("tail"))
              .when(col("pct") * 3 <= lit(2.0), lit("middle"))
              .otherwise(lit("head")).as("bucket"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS l FROM documents),
        bg AS (SELECT doc_id, unnest(list_transform(range(1, len(l)),
                 i -> l[i] || ' ' || l[i+1])) AS bg
               FROM toks WHERE len(l) >= 2),
        b AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bg),
        bgc AS (SELECT bg, COUNT(*) AS c12 FROM b GROUP BY bg),
        uni AS (SELECT w1, COUNT(*) AS c1
                FROM (SELECT unnest(l) AS w1 FROM toks) GROUP BY w1),
        v AS (SELECT COUNT(*) AS v FROM uni),
        lp AS (SELECT doc_id,
            CAST(round(ln(CAST(c12 + 1 AS DOUBLE)) * 1e6) AS BIGINT)
            - CAST(round(ln(CAST(c1 + v.v AS DOUBLE)) * 1e6) AS BIGINT) AS lp_micro
          FROM b JOIN bgc USING (bg) JOIN uni USING (w1) CROSS JOIN v),
        d AS (SELECT doc_id,
            CAST(SUM(lp_micro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_lp
          FROM lp GROUP BY doc_id),
        j AS (SELECT d.doc_id, dd.lang, d.avg_lp
              FROM d JOIN documents dd USING (doc_id)),
        p AS (SELECT doc_id, lang, avg_lp,
              cume_dist() OVER (PARTITION BY lang ORDER BY avg_lp) AS pct
              FROM j)
        SELECT doc_id, lang, avg_lp, pct,
          CASE WHEN pct * 3 <= 1.0 THEN 'tail'
               WHEN pct * 3 <= 2.0 THEN 'middle'
               ELSE 'head' END AS bucket
        FROM p ORDER BY doc_id""")),

    // Per-document unigram KL divergence from the corpus distribution —
    // the domain-shift / boilerplate detector. Every ln is taken of an
    // integer and micro-rounded before any arithmetic (q62's
    // libm-proofing), so kl_sum_micro is an exact long and kl_micro one
    // IEEE division.
    "q110_unigram_kl" -> Q(
      (s, dir) => TextOps.unigramKl(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents),
        dc AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        cc AS (SELECT w, COUNT(*) AS cw FROM toks GROUP BY 1),
        nn AS (SELECT COUNT(*) AS nn FROM toks),
        pd AS (SELECT doc_id,
            CAST(SUM(c * (CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)
                        - CAST(round(ln(CAST(cw AS DOUBLE)) * 1e6) AS BIGINT))) AS BIGINT) AS s1,
            CAST(SUM(c) AS BIGINT) AS n_tokens
          FROM dc JOIN cc USING (w) GROUP BY doc_id)
        SELECT doc_id, n_tokens,
          s1 + n_tokens * (CAST(round(ln(CAST(nn.nn AS DOUBLE)) * 1e6) AS BIGINT)
                         - CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT))
            AS kl_sum_micro,
          CAST(s1 + n_tokens * (CAST(round(ln(CAST(nn.nn AS DOUBLE)) * 1e6) AS BIGINT)
                              - CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT))
               AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS kl_micro
        FROM pd CROSS JOIN nn ORDER BY doc_id""")),

    // Deterministic global shuffle into write shards — the last step of
    // training-data prep (break source locality). (shard, pos) is a
    // reproducible permutation from (salt, shards) alone; the per-shard
    // window is bounded by corpus/shards, never one global sort task.
    "q111_shuffle_shards" -> Q(
      (s, dir) => Sampling.shuffleIntoShards(t(s, dir, "documents"),
          "doc_id", 8, "shuf1")
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id"),
      Some("""WITH h AS (SELECT doc_id,
            CAST('0x' || substr(md5('shuf1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hh
          FROM documents)
        SELECT doc_id, hh % 8 AS shard,
          CAST(row_number() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) AS INTEGER) AS pos
        FROM h ORDER BY doc_id""")),

    // Cavnar–Trenkle char-ngram profile TRAINING: top-10 trigrams per
    // language from the labeled corpus — the relation a char-ngram
    // language classifier scores against. Ranking window runs over
    // per-language aggregated gram counts (alphabet^n-bounded).
    "q112_char_profiles" -> Q(
      (s, dir) => TextOps.trainCharNgramProfiles(t(s, dir, "documents"),
          "lang", "text", 3, 10)
        .orderBy("lang", "rk"),
      Some("""WITH t AS (SELECT lang,
            lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS s
          FROM documents),
        g AS (SELECT lang, unnest(list_transform(range(1, greatest(length(s) - 1, 1)),
                 i -> substr(s, CAST(i AS INTEGER), 3))) AS gram
               FROM t WHERE length(s) >= 3),
        c AS (SELECT lang, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
        r AS (SELECT lang, gram, cnt,
               CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS INTEGER) AS rk
               FROM c)
        SELECT lang, gram, cnt, rk FROM r WHERE rk <= 10
        ORDER BY lang, rk""")),

    // Multiset set operations — INTERSECT ALL / EXCEPT ALL preserve
    // duplicate counts (min(a,b) and max(a−b, 0) per value), the bag
    // semantics q39's distinct forms cannot express. Output aggregated
    // per key so the oracle compare stays compact.
    "q113_set_ops_all" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val a = li.filter(col("l_quantity") < 10).select("l_partkey")
        val b = li.filter(col("l_discount") > 0.05).select("l_partkey")
        val ia = a.intersectAll(b).groupBy("l_partkey")
          .agg(count(lit(1)).as("n")).withColumn("set_op", lit("intersect_all"))
        val ea = a.exceptAll(b).groupBy("l_partkey")
          .agg(count(lit(1)).as("n")).withColumn("set_op", lit("except_all"))
        ia.unionByName(ea).select("set_op", "l_partkey", "n")
          .orderBy("set_op", "l_partkey")
      },
      Some("""WITH a AS (SELECT l_partkey FROM lineitem WHERE l_quantity < 10),
        b AS (SELECT l_partkey FROM lineitem WHERE l_discount > 0.05),
        ia AS (SELECT l_partkey FROM a INTERSECT ALL SELECT l_partkey FROM b),
        ea AS (SELECT l_partkey FROM a EXCEPT ALL SELECT l_partkey FROM b)
        SELECT 'intersect_all' AS set_op, l_partkey, COUNT(*) AS n
        FROM ia GROUP BY 2
        UNION ALL
        SELECT 'except_all' AS set_op, l_partkey, COUNT(*) AS n
        FROM ea GROUP BY 2
        ORDER BY set_op, l_partkey""")),

    // SemDeDup (Abbas et al. 2023): cluster-then-prune semantic dedup —
    // the pairwise cosine work is confined to single k-means cells, so
    // candidate cost is Σ n_c² (cluster-bounded), never corpus². The
    // oracle replays the ENTIRE pipeline — seed assignment (q77's CTE),
    // intra-cluster pairs, exact 1e7-grid cosines, keep-lowest-id — so
    // the gate checks clustering AND pruning, not just row counts.
    "q114_semdedup" -> Q(
      (s, dir) => Similarity.semDedup(t(s, dir, "embeddings"),
          "vec_id", "embedding", 8, 0.40)
        .orderBy("vec_id"),
      Some("""WITH q AS (SELECT vec_id,
            list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e7)) AS qv
          FROM embeddings),
        seeds AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < 8),
        scored AS (SELECT q.vec_id, s.cid,
            list_sum(list_transform(s.cv, x -> x * x))
              - 2.0 * list_inner_product(q.qv, s.cv) AS d2
          FROM q CROSS JOIN seeds s),
        assigned AS (SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM scored) WHERE rn = 1),
        m AS (SELECT a.vec_id, a.cid, q.qv,
            list_inner_product(q.qv, q.qv) AS n2
          FROM assigned a JOIN q ON q.vec_id = a.vec_id),
        pairs AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
            list_inner_product(a.qv, b.qv) / sqrt(a.n2 * b.n2) AS cos
          FROM m a JOIN m b ON a.cid = b.cid AND b.vec_id < a.vec_id),
        pruned AS (SELECT ida, MIN(idb) AS pruned_by
          FROM pairs WHERE cos >= 0.40 GROUP BY ida)
        SELECT m.vec_id, m.cid, (p.pruned_by IS NULL) AS is_kept, p.pruned_by
        FROM m LEFT JOIN pruned p ON p.ida = m.vec_id
        ORDER BY m.vec_id""")),

    // Model-based domain classification (fastText/CCNet-style filter):
    // multiclass Naive Bayes over hashed BoW, trained and scored in exact
    // micro-unit integer log-space — the oracle replays training AND
    // scoring, so the gate checks the whole model pipeline. On this
    // synthetic corpus the per-lang token tilts are tiny, so prediction
    // collapses to the prior-dominant class (textbook NB behavior,
    // margins stay informative); TextMultimodalSpec pins discriminative
    // behavior on a separable fixture.
    "q115_naive_bayes" -> Q(
      (s, dir) => TextOps.naiveBayesClassify(t(s, dir, "documents"),
          "doc_id", "text", "lang", 1024)
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id, lang,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        tb AS (SELECT doc_id, lang,
            CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024 AS b
          FROM toks),
        ctot AS (SELECT lang AS lbl, COUNT(*) AS t FROM tb GROUP BY 1),
        model AS (SELECT lang AS lbl, b,
            CAST(round(ln(COUNT(*) + 1) * 1e6) AS BIGINT)
              - CAST(round(ln(t + 1024) * 1e6) AS BIGINT) AS lp
          FROM tb JOIN ctot ON ctot.lbl = tb.lang GROUP BY tb.lang, b, t),
        zerolp AS (SELECT lbl,
            CAST(round(ln(1) * 1e6) AS BIGINT)
              - CAST(round(ln(t + 1024) * 1e6) AS BIGINT) AS lp0 FROM ctot),
        pri AS (SELECT lang AS lbl,
            CAST(round(ln(COUNT(*)) * 1e6) AS BIGINT)
              - CAST(round(ln((SELECT COUNT(*) FROM documents)) * 1e6) AS BIGINT)
              AS prior
          FROM documents GROUP BY 1),
        db AS (SELECT doc_id, b, COUNT(*) AS cnt FROM tb GROUP BY 1, 2),
        sc AS (SELECT db.doc_id, l.lbl,
            l.prior + CAST(SUM(db.cnt * COALESCE(m.lp, z.lp0)) AS BIGINT) AS score
          FROM db CROSS JOIN pri l
          LEFT JOIN model m ON m.lbl = l.lbl AND m.b = db.b
          JOIN zerolp z ON z.lbl = l.lbl
          GROUP BY db.doc_id, l.lbl, l.prior),
        rk AS (SELECT doc_id, lbl, score,
            row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lbl ASC)
              AS rn
          FROM sc),
        agg AS (SELECT doc_id,
            MAX(CASE WHEN rn = 1 THEN lbl END) AS pred,
            MAX(CASE WHEN rn = 1 THEN score END) AS lp_micro,
            MAX(CASE WHEN rn = 2 THEN score END) AS s2
          FROM rk GROUP BY doc_id)
        SELECT a.doc_id, d.lang AS label, a.pred, a.lp_micro,
          COALESCE(a.lp_micro - a.s2, 0) AS margin_micro
        FROM agg a JOIN documents d USING (doc_id) ORDER BY a.doc_id""")),

    // Source-overlap audit: exact shingle-set Jaccard + directional
    // containment between every pair of sources — the "is src7 a
    // re-crawl of src3" curation signal. Pair fan-out per shingle is
    // bounded by the number of sources (20), so the inverted-index join
    // is skew-proof by construction — no df cap needed, unlike the
    // document-pair joins (q20/q107).
    "q116_source_overlap" -> Q(
      (s, dir) => Dedup.sourceOverlap(t(s, dir, "documents"),
          "source", "text", 3)
        .orderBy("src_a", "src_b"),
      Some("""WITH toks AS (SELECT source,
            string_split_regex(lower(trim(text)), '\s+') AS l FROM documents),
        grams AS (SELECT source, unnest(list_transform(
              range(1, greatest(len(l) - 1, 1)),
              i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS g
          FROM toks WHERE len(l) >= 3),
        sh AS (SELECT DISTINCT source AS grp,
            CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h FROM grams),
        sizes AS (SELECT grp, COUNT(*) AS sz FROM sh GROUP BY 1),
        pairs AS (SELECT a.grp AS src_a, b.grp AS src_b, COUNT(*) AS n_common
          FROM sh a JOIN sh b ON a.h = b.h AND a.grp < b.grp GROUP BY 1, 2)
        SELECT p.src_a, p.src_b, sa.sz AS size_a, sb.sz AS size_b, p.n_common,
          CAST(p.n_common AS DOUBLE) / (sa.sz + sb.sz - p.n_common) AS jaccard,
          CAST(p.n_common AS DOUBLE) / sa.sz AS cont_a_in_b,
          CAST(p.n_common AS DOUBLE) / sb.sz AS cont_b_in_a
        FROM pairs p JOIN sizes sa ON sa.grp = p.src_a
          JOIN sizes sb ON sb.grp = p.src_b
        ORDER BY src_a, src_b""")),

    // Per-dimension z-scoring of the embedding corpus: dims×3 exact moment
    // rows (pass 1) broadcast back into a map-only standardizing
    // projection (pass 2). The oracle replays moments and z end-to-end —
    // grid mean via round(sum/n), centered second moment as an exact
    // integer, one sqrt + one division per value.
    "q117_standardize_embeddings" -> Q(
      (s, dir) => Similarity.standardizeEmbeddings(t(s, dir, "embeddings"),
          "vec_id", "embedding")
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id", "pos"),
      Some("""WITH c AS (SELECT vec_id AS id, u.pos AS pos, u.v AS v FROM (
            SELECT vec_id, unnest(list_transform(range(0, len(embedding)),
              i -> {'pos': i, 'v': round(CAST(embedding[i + 1] AS DOUBLE) * 1e7)})) AS u
            FROM embeddings)),
        mo AS (SELECT pos, COUNT(*) AS n,
            SUM(CAST(v AS HUGEINT)) AS s1,
            SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS s2
          FROM c GROUP BY pos),
        mm AS (SELECT pos,
            CAST(round(CAST(s1 AS DOUBLE) / n) AS BIGINT) AS m,
            sqrt(CAST(s2 - 2 * CAST(round(CAST(s1 AS DOUBLE) / n) AS BIGINT) * s1
                   + n * CAST(round(CAST(s1 AS DOUBLE) / n) AS BIGINT)
                       * CAST(round(CAST(s1 AS DOUBLE) / n) AS BIGINT) AS DOUBLE)
                 / n) AS std
          FROM mo)
        SELECT c.id AS vec_id, c.pos AS pos,
          CASE WHEN mm.std <> 0 THEN (c.v - mm.m) / mm.std END AS z
        FROM c JOIN mm ON mm.pos = c.pos
        ORDER BY vec_id, c.pos""")),

    // Dup-cluster quality audit: for each connected component of the
    // MinHash near-dup graph (q55's pipeline), edge density and mean
    // confirmed Jaccard — low-density / low-cohesion clusters are LSH
    // chaining artifacts (A~B~C where A!~C), exactly what a curation run
    // reviews before electing survivors (q95). Per-pair jaccard is
    // micro-rounded BEFORE the sum so the cluster mean is an exact
    // integer division, not an order-dependent double fold.
    "q118_cluster_cohesion" -> Q(
      (s, dir) => {
        val pairs = lshPairs(s, dir)
        val cc = Graphs.connectedComponents(pairs, "id_a", "id_b")
        val members = cc.groupBy("component").agg(count(lit(1)).as("n_members"))
        pairs
          .join(cc.withColumnRenamed("id", "id_a"), "id_a")
          .withColumn("jm", round(col("jaccard") * 1e6).cast("long"))
          .groupBy("component")
          .agg(count(lit(1)).as("n_edges"), sum(col("jm")).as("sj"))
          .join(broadcast(members), "component")
          .select(col("component"), col("n_members"), col("n_edges"),
            ((col("n_edges") * 2).cast("double") /
              (col("n_members") * (col("n_members") - 1))).as("density"),
            (col("sj").cast("double") / col("n_edges")).as("mean_jac_micro"))
          .orderBy("component")
      },
      Some("""WITH RECURSIVE toks AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS l FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(l) - 1, 1)),
              i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
          FROM toks WHERE len(l) >= 3),
        sh AS (SELECT doc_id,
            CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (SELECT id_a, id_b,
            CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jac
          FROM inter JOIN sizes sa ON id_a = sa.doc_id
          JOIN sizes sb ON id_b = sb.doc_id
          WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        walk(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst),
        comp AS (SELECT id AS doc_id, MIN(lbl) AS component FROM walk GROUP BY id),
        members AS (SELECT component, COUNT(*) AS n_members FROM comp GROUP BY 1),
        ej AS (SELECT c.component, CAST(round(p.jac * 1e6) AS BIGINT) AS jm
          FROM pairs p JOIN comp c ON c.doc_id = p.id_a),
        agg AS (SELECT component, COUNT(*) AS n_edges,
            CAST(SUM(jm) AS BIGINT) AS sj FROM ej GROUP BY 1)
        SELECT m.component, m.n_members, a.n_edges,
          CAST(2 * a.n_edges AS DOUBLE) / (m.n_members * (m.n_members - 1))
            AS density,
          CAST(a.sj AS DOUBLE) / a.n_edges AS mean_jac_micro
        FROM members m JOIN agg a USING (component) ORDER BY component""")),

    // Quality-stratified eval holdout: strata are the JOINT
    // (language x quality-tercile) cells — percentileGate's exact
    // grouped-counts pct defines the terciles, then a deterministic
    // per-stratum hash-rank takes exactly 5 docs from each cell, so the
    // holdout mirrors the corpus across both axes (a plain hash split
    // only matches proportions in expectation; an eval set skewed toward
    // one language's tail measures the wrong model).
    "q119_stratified_holdout" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val scored = TextOps.qualityFeatures(docs, "doc_id", "text")
          .select("doc_id", "quality_score_micro")
          .join(docs.select("doc_id", "lang"), "doc_id")
        val bucketed = Quality.percentileGate(
            scored, "lang", "quality_score_micro", 0.0)
          .withColumn("bucket",
            when(col("pct") * 3 <= lit(1.0), lit("tail"))
              .when(col("pct") * 3 <= lit(2.0), lit("middle"))
              .otherwise(lit("head")))
          .withColumn("stratum", concat_ws(":", col("lang"), col("bucket")))
        Sampling.stratifiedSample(bucketed, "doc_id", "stratum", 5, "holdout")
          .select("doc_id", "lang", "bucket", "quality_score_micro")
          .orderBy("doc_id")
      },
      Some(s"""WITH ${qualityMicroSql("doc_id")},
        j AS (SELECT q.doc_id, d.lang, q.quality_score_micro
              FROM __qm q JOIN documents d USING (doc_id)),
        p AS (SELECT doc_id, lang, quality_score_micro,
            cume_dist() OVER (PARTITION BY lang ORDER BY quality_score_micro)
              AS pct
          FROM j),
        b AS (SELECT doc_id, lang, quality_score_micro,
            CASE WHEN pct * 3 <= 1.0 THEN 'tail'
                 WHEN pct * 3 <= 2.0 THEN 'middle'
                 ELSE 'head' END AS bucket
          FROM p)
        SELECT doc_id, lang, bucket, quality_score_micro FROM b
        QUALIFY row_number() OVER (PARTITION BY lang || ':' || bucket
          ORDER BY CAST('0x' || substr(md5('holdout:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
                   doc_id) <= 5
        ORDER BY doc_id""")),

    // Tokenizer fertility per language: chars-per-BPE-token and
    // BPE-tokens-per-word from exact corpus sums — the multilingual
    // equity diagnostic (a language whose fertility runs high pays more
    // tokens for the same text, which skews both mixture weights and
    // cost estimates). Reuses q28's real merge-table BPE count, which
    // the oracle replays via the same all-builtin replace chain.
    "q123_tokenizer_fertility" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        TextOps.tokenCounts(docs, "doc_id", "text")
          .join(docs.select("doc_id", "lang", "n_chars"), "doc_id")
          .groupBy("lang").agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(col("n_ws_tokens")).as("sum_ws_tokens"),
            sum(col("n_real_bpe_tokens")).as("sum_bpe_tokens"))
          .withColumn("chars_per_bpe_token",
            col("sum_chars").cast("double") / col("sum_bpe_tokens").cast("double"))
          .withColumn("bpe_per_ws_token",
            col("sum_bpe_tokens").cast("double") / col("sum_ws_tokens").cast("double"))
          .orderBy("lang")
      },
      Some(s"""SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        CAST(SUM(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT)
          AS sum_ws_tokens,
        CAST(SUM(${TextOps.bpe.tokenCountSql("text")}) AS BIGINT) AS sum_bpe_tokens,
        CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE)
          / CAST(SUM(${TextOps.bpe.tokenCountSql("text")}) AS BIGINT)
          AS chars_per_bpe_token,
        CAST(CAST(SUM(${TextOps.bpe.tokenCountSql("text")}) AS BIGINT) AS DOUBLE)
          / CAST(SUM(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT)
          AS bpe_per_ws_token
        FROM documents GROUP BY lang ORDER BY lang""")),

    // Ordered-funnel analysis over the event stream: per user, first
    // view, first click AT-OR-AFTER that view, first purchase
    // at-or-after that click — stage counts and step conversions. The
    // per-stage relations are per-user min aggregates joined on the one
    // user_id key domain; no window over the raw event log.
    "q124_funnel" -> Q(
      (s, dir) => {
        val ev = graft.CacheScope.register(t(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts")))
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t_view"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, "user_id").where(col("ts") >= col("t_view"))
          .groupBy("user_id").agg(min(col("ts")).as("t_click"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c, "user_id").where(col("ts") >= col("t_click"))
          .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
        val nv = v.agg(count(lit(1)).as("n")).withColumn("stage", lit("1_view"))
        val nc = c.agg(count(lit(1)).as("n")).withColumn("stage", lit("2_click"))
        val np = p.agg(count(lit(1)).as("n")).withColumn("stage", lit("3_purchase"))
        val staged = nv.unionByName(nc).unionByName(np)
        val w = org.apache.spark.sql.expressions.Window.orderBy("stage")
        staged.select(col("stage"), col("n"),
            (col("n").cast("double") /
              lag(col("n"), 1).over(w).cast("double")).as("conv_from_prev"))
          .orderBy("stage")
      },
      Some("""WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM events e
            JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'click' AND e.ts >= v.t_view
            GROUP BY e.user_id),
        p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase FROM events e
            JOIN c ON c.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
            GROUP BY e.user_id),
        staged AS (
          SELECT '1_view' AS stage, (SELECT COUNT(*) FROM v) AS n
          UNION ALL SELECT '2_click', (SELECT COUNT(*) FROM c)
          UNION ALL SELECT '3_purchase', (SELECT COUNT(*) FROM p))
        SELECT stage, n,
          CAST(n AS DOUBLE) / lag(n) OVER (ORDER BY stage) AS conv_from_prev
        FROM staged ORDER BY stage""")),

    // Active-user rollup: DAU, trailing-7-day WAU, and stickiness per
    // day. WAU comes from EXPLODING each distinct (day, user) pair to
    // the 7 target days it serves — two bounded distinct shuffles over
    // the (day, user) relation — instead of re-scanning a sliding
    // 7-day window per day (the naive shape re-reads the log 7x and a
    // sliding DISTINCT cannot merge incrementally without sketches).
    "q125_active_users" -> Q(
      (s, dir) => {
        val du = graft.CacheScope.register(t(s, dir, "events")
          .select(to_date(col("ts")).as("day"), col("user_id")).distinct())
        val dau = du.groupBy("day").agg(count(lit(1)).as("dau"))
        val wau = du
          .select(explode(sequence(lit(0), lit(6))).as("__i"),
            col("day"), col("user_id"))
          .select(date_add(col("day"), col("__i")).as("day"), col("user_id"))
          .distinct()
          .groupBy("day").agg(count(lit(1)).as("wau"))
        dau.join(wau, "day")
          .select(col("day"), col("dau"), col("wau"),
            (col("dau").cast("double") / col("wau").cast("double"))
              .as("stickiness"))
          .orderBy("day")
      },
      Some("""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
            FROM events),
        dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY 1),
        ex AS (SELECT DISTINCT day + CAST(i AS INTEGER) AS day, user_id
            FROM du CROSS JOIN range(7) r(i)),
        wau AS (SELECT day, COUNT(*) AS wau FROM ex GROUP BY 1)
        SELECT d.day, d.dau, w.wau,
          CAST(d.dau AS DOUBLE) / w.wau AS stickiness
        FROM dau d JOIN wau w ON w.day = d.day ORDER BY d.day""")),

    // Cohort retention matrix: users grouped by FIRST active day, week
    // offsets as integer day-diffs (floor(diff/7) — no week truncation,
    // whose start-of-week convention differs across engines), retained
    // share vs the cohort's size. Per-user first day is one aggregate;
    // the matrix is a second aggregate over the joined (pair, cohort)
    // relation; cohort sizes broadcast back for the ratio.
    "q126_cohort_retention" -> Q(
      (s, dir) => {
        val du = graft.CacheScope.register(t(s, dir, "events")
          .select(to_date(col("ts")).as("day"), col("user_id")).distinct())
        val cohorts = du.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
        val cells = du.join(cohorts, "user_id")
          .select(col("cohort_day"),
            floor(datediff(col("day"), col("cohort_day")) / 7).cast("long")
              .as("week_offset"), col("user_id"))
          .distinct()
          .groupBy("cohort_day", "week_offset")
          .agg(count(lit(1)).as("n_users"))
        val sizes = cohorts.groupBy("cohort_day").agg(count(lit(1)).as("cohort_size"))
        cells.join(broadcast(sizes), "cohort_day")
          .select(col("cohort_day"), col("week_offset"), col("n_users"),
            col("cohort_size"),
            (col("n_users").cast("double") / col("cohort_size").cast("double"))
              .as("retention"))
          .orderBy("cohort_day", "week_offset")
      },
      Some("""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
            FROM events),
        coh AS (SELECT user_id, MIN(day) AS cohort_day FROM du GROUP BY 1),
        cells AS (SELECT cohort_day, week_offset, COUNT(*) AS n_users FROM (
            SELECT DISTINCT c.cohort_day,
              CAST(floor((du.day - c.cohort_day) / 7.0) AS BIGINT) AS week_offset,
              du.user_id
            FROM du JOIN coh c ON c.user_id = du.user_id)
          GROUP BY 1, 2),
        sizes AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM coh GROUP BY 1)
        SELECT ce.cohort_day, ce.week_offset, ce.n_users, s.cohort_size,
          CAST(ce.n_users AS DOUBLE) / s.cohort_size AS retention
        FROM cells ce JOIN sizes s ON s.cohort_day = ce.cohort_day
        ORDER BY ce.cohort_day, ce.week_offset""")),

    // First-order Markov transition matrix over per-user event
    // sequences: P(next event type | current) from exact adjacent-pair
    // counts. The only window is per-user (bounded by one user's
    // activity); the matrix aggregate emits <= |types|^2 rows and the
    // per-from totals broadcast back for the conditional probability.
    "q127_event_transitions" -> Q(
      (s, dir) => Analytics.transitionMatrix(t(s, dir, "events"),
          "user_id", "event_type", "ts", "event_id")
        .orderBy("from_type", "to_type"),
      Some("""WITH pairs AS (SELECT event_type AS from_type,
            lead(event_type) OVER (PARTITION BY user_id
              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
          FROM events),
        c AS (SELECT from_type, to_type, COUNT(*) AS n FROM pairs
          WHERE to_type IS NOT NULL GROUP BY 1, 2),
        tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
          FROM c GROUP BY 1)
        SELECT c.from_type, c.to_type, c.n,
          CAST(c.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS p
        FROM c JOIN tot t ON t.from_type = c.from_type
        ORDER BY c.from_type, c.to_type""")),

    // Sparse lexical cosine near-dup through the inverted index: q58's
    // TF-IDF weights as exact milli-unit integers, pairs scored only via
    // shared terms with df <= 100 (posting lists bounded -> Sigma df^2
    // join cost, skew-proof), cosine from exact integer dots/norms via
    // IEEE-only ops. The lexical complement of q25's embedding cosine.
    "q128_sparse_cosine" -> Q(
      (s, dir) => TextOps.sparseCosinePairs(t(s, dir, "documents"),
          "doc_id", "text", dfCap = 100, minCos = 0.6)
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        idf AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
          HAVING COUNT(*) <= 100),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
        w AS (SELECT doc_id, term,
            CAST(round(tf * (ln(CAST(n.n + 1 AS DOUBLE) / (df + 1)) + 1) * 1e3)
              AS BIGINT) AS w
          FROM tf JOIN idf USING (term) CROSS JOIN n),
        norms AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
          FROM w GROUP BY 1),
        dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(SUM(a.w * b.w) AS BIGINT) AS dot
          FROM w a JOIN w b USING (term) WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2),
        scored AS (SELECT d.id_a, d.id_b,
            CAST(d.dot AS DOUBLE) /
              (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE))) AS cos
          FROM dots d JOIN norms na ON na.doc_id = d.id_a
            JOIN norms nb ON nb.doc_id = d.id_b)
        SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.6
        ORDER BY id_a, id_b""")),

    // Corpus n-gram diversity per language (distinct-n / total-n for
    // n = 1..3): the Self-BLEU-adjacent repetitiveness diagnostic for
    // generated/templated data. N-grams form as a pure projection; one
    // (lang, n) aggregate with a gram-keyed distinct; <= |langs|*3 rows.
    "q129_ngram_diversity" -> Q(
      (s, dir) => TextOps.ngramDiversity(t(s, dir, "documents"),
          "lang", "text", maxN = 3)
        .orderBy("lang", "n"),
      Some("""WITH toks AS (SELECT lang,
            string_split_regex(lower(trim(text)), '\s+') AS l FROM documents),
        g AS (
          SELECT lang, 1 AS n, unnest(l) AS g FROM toks
          UNION ALL
          SELECT lang, 2 AS n, unnest(list_transform(range(1, len(l)),
              i -> l[i] || ' ' || l[i+1])) AS g
            FROM toks WHERE len(l) >= 2
          UNION ALL
          SELECT lang, 3 AS n, unnest(list_transform(range(1, len(l) - 1),
              i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS g
            FROM toks WHERE len(l) >= 3)
        SELECT lang, n, CAST(COUNT(*) AS BIGINT) AS n_total,
          CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
          CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS diversity
        FROM g GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Conversion-lag histogram: whole-hour buckets of first-view ->
    // first-purchase-at-or-after-view latency (q124's per-user min
    // aggregates — no window over the raw log), bucket shares against a
    // broadcast 1-row total. Lags are integer seconds (unix floor on
    // both engines, UTC session), so every number is an exact count or
    // an exact-count ratio.
    "q130_conversion_lag" -> Q(
      (s, dir) => {
        val ev = graft.CacheScope.register(t(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts")))
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t_view"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(v, "user_id").where(col("ts") >= col("t_view"))
          .groupBy("user_id").agg(min(col("ts")).as("t_purchase"),
            min(col("t_view")).as("t_view0"))
        val lags = p.select(
          (unix_timestamp(col("t_purchase")) - unix_timestamp(col("t_view0")))
            .as("lag_s"))
        val hist = lags
          .select(floor(col("lag_s") / 3600).cast("long").as("lag_hours"))
          .groupBy("lag_hours").agg(count(lit(1)).as("n"))
        val tot = hist.agg(sum(col("n")).as("__total"))
        hist.crossJoin(broadcast(tot))
          .select(col("lag_hours"), col("n"),
            (col("n").cast("double") / col("__total").cast("double")).as("share"))
          .orderBy("lag_hours")
      },
      Some("""WITH v AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_view
            FROM events WHERE event_type = 'view' GROUP BY user_id),
        p AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_purchase,
              MIN(v.t_view) AS t_view0
            FROM events e JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= v.t_view
            GROUP BY e.user_id),
        hist AS (SELECT CAST(floor(date_diff('second', t_view0, t_purchase)
              / 3600) AS BIGINT) AS lag_hours, COUNT(*) AS n
            FROM p GROUP BY 1),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM hist)
        SELECT lag_hours, n, CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share
        FROM hist CROSS JOIN tot ORDER BY lag_hours""")),

    // Benford leading-digit audit on l_extendedprice: a fabricated or
    // truncated numeric column drifts from the log10(1+1/d) law. The
    // leading digit comes from the INTEGER part's decimal string (no
    // libm log10 on data); expected shares are shared literal constants,
    // so share and deviation are exact-count ratios and IEEE
    // subtractions — engine-identical. One scan, 9 output rows.
    "q131_benford" -> Q(
      (s, dir) => {
        val benford = Map(1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
          3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
          5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
          7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
          9 -> 0.04575749056067514)
        val expected = benford.foldLeft(lit(null).cast("double")) {
          case (acc, (d, pr)) => when(col("digit") === d, lit(pr)).otherwise(acc)
        }
        val digits = t(s, dir, "lineitem")
          .filter(col("l_extendedprice") >= 1)
          .select(substring(floor(col("l_extendedprice")).cast("long")
            .cast("string"), 1, 1).cast("int").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
        val tot = digits.agg(sum(col("n")).as("__total"))
        digits.crossJoin(broadcast(tot))
          .withColumn("share",
            col("n").cast("double") / col("__total").cast("double"))
          .withColumn("benford_p", expected)
          .select(col("digit"), col("n"), col("share"), col("benford_p"),
            (col("share") - col("benford_p")).as("dev"))
          .orderBy("digit")
      },
      Some("""WITH d AS (SELECT CAST(substr(CAST(CAST(floor(l_extendedprice)
              AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
            FROM lineitem WHERE l_extendedprice >= 1),
        c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
        e AS (SELECT c.digit, c.n,
            CAST(c.n AS DOUBLE) / CAST(tot.total AS DOUBLE) AS share,
            CASE c.digit
              WHEN 1 THEN CAST('0.3010299956639812' AS DOUBLE)
              WHEN 2 THEN CAST('0.17609125905568124' AS DOUBLE)
              WHEN 3 THEN CAST('0.12493873660829992' AS DOUBLE)
              WHEN 4 THEN CAST('0.09691001300805642' AS DOUBLE)
              WHEN 5 THEN CAST('0.07918124604762482' AS DOUBLE)
              WHEN 6 THEN CAST('0.06694678963061322' AS DOUBLE)
              WHEN 7 THEN CAST('0.05799194697768673' AS DOUBLE)
              WHEN 8 THEN CAST('0.05115252244738129' AS DOUBLE)
              WHEN 9 THEN CAST('0.04575749056067514' AS DOUBLE)
            END AS benford_p
          FROM c CROSS JOIN tot)
        SELECT digit, n, share, benford_p, share - benford_p AS dev
        FROM e ORDER BY digit""")),

    // Per-group OLS regression (l_extendedprice ~ l_quantity by return
    // flag): q99's exact DECIMAL moment machinery solved in closed form —
    // slope/intercept/R² as the identical IEEE op sequence on both
    // engines. One aggregation pass, |groups| output rows.
    "q132_ols_regression" -> Q(
      (s, dir) => Quality.olsRegression(t(s, dir, "lineitem"),
          "l_returnflag", "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag"),
      Some {
        def m(c: String) = s"CAST(CAST(round($c * 1e6) AS BIGINT) AS DECIMAL(19,0))"
        def v(c: String) = s"$c IS NOT NULL AND isfinite(CAST($c AS DOUBLE)) " +
          s"AND abs(CAST($c AS DOUBLE)) < 1e9"
        val f = s"FILTER (WHERE ${v("l_quantity")} AND ${v("l_extendedprice")})"
        // the same double-expression nesting as Quality.olsRegression
        val n = "CAST(n AS DOUBLE)"
        val sx = "CAST(sx AS DOUBLE)"; val sy = "CAST(sy AS DOUBLE)"
        val sxx = "CAST(sxx AS DOUBLE)"; val syy = "CAST(syy AS DOUBLE)"
        val sxy = "CAST(sxy AS DOUBLE)"
        val varx = s"($n * $sxx - $sx * $sx)"
        val vary = s"($n * $syy - $sy * $sy)"
        val cov = s"($n * $sxy - $sx * $sy)"
        s"""WITH a AS (SELECT l_returnflag,
            COUNT(*) $f AS n,
            CAST(SUM(${m("l_quantity")}) $f AS DECIMAL(38,0)) AS sx,
            CAST(SUM(${m("l_extendedprice")}) $f AS DECIMAL(38,0)) AS sy,
            CAST(SUM(${m("l_quantity")} * ${m("l_quantity")}) $f AS DECIMAL(38,0)) AS sxx,
            CAST(SUM(${m("l_extendedprice")} * ${m("l_extendedprice")}) $f AS DECIMAL(38,0)) AS syy,
            CAST(SUM(${m("l_quantity")} * ${m("l_extendedprice")}) $f AS DECIMAL(38,0)) AS sxy
          FROM lineitem GROUP BY 1)
        SELECT l_returnflag, n,
          CASE WHEN $varx > 0 THEN $cov / $varx END AS slope,
          CASE WHEN $varx > 0
            THEN (($sy - ($cov / $varx) * $sx) / $n) / 1e6 END AS intercept,
          CASE WHEN $varx > 0 AND $vary > 0
            THEN ($cov * $cov) / ($varx * $vary) END AS r2
        FROM a ORDER BY l_returnflag"""
      }),

    // Boilerplate-prefix detection: documents sharing their first 16
    // whitespace tokens are template instances (headers, scraped chrome)
    // — the prefix complement of q82's segment dedup. One aggregate on
    // the prefix string; ≥2-doc groups surface with an example doc id.
    "q133_boilerplate_prefix" -> Q(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          concat_ws(" ", slice(graft.functions.TextFns.tokens(col("text")), 1, 16))
            .as("prefix"))
        .groupBy("prefix")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("example_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("prefix")),
      Some("""SELECT array_to_string(list_slice(
            string_split_regex(lower(trim(text)), '\s+'), 1, 16), ' ') AS prefix,
          COUNT(*) AS n_docs, MIN(doc_id) AS example_doc
        FROM documents GROUP BY 1 HAVING COUNT(*) >= 2
        ORDER BY n_docs DESC, prefix""")),

    // Welch's two-sample t between return-flag groups on extended price:
    // the A/B-comparison primitive from q99/q132's exact DECIMAL moment
    // machinery — t and Welch-Satterthwaite df as fixed IEEE op
    // sequences (micro scale cancels); no p-value by design (t-CDFs are
    // libm territory). Pair join runs on the 3-row aggregate.
    "q134_welch_ttest" -> Q(
      (s, dir) => Quality.welchTTest(t(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice")
        .orderBy("group_a", "group_b"),
      Some {
        val m = "CAST(CAST(round(l_extendedprice * 1e6) AS BIGINT) AS DECIMAL(19,0))"
        val v = "l_extendedprice IS NOT NULL AND " +
          "isfinite(CAST(l_extendedprice AS DOUBLE)) AND " +
          "abs(CAST(l_extendedprice AS DOUBLE)) < 1e9"
        // mirrors Quality.welchTTest's double nesting exactly
        def n(p: String) = s"CAST($p.n AS DOUBLE)"
        def sm(p: String) = s"CAST($p.s AS DOUBLE)"
        def ss(p: String) = s"CAST($p.ss AS DOUBLE)"
        def mean(p: String) = s"((${sm(p)} / ${n(p)}) / 1e6)"
        def vOverN(p: String) =
          s"(((${n(p)} * ${ss(p)} - ${sm(p)} * ${sm(p)}) / " +
            s"(${n(p)} * (${n(p)} - 1))) / ${n(p)})"
        val se2 = s"(${vOverN("x")} + ${vOverN("y")})"
        val tOk = s"x.n >= 2 AND y.n >= 2 AND $se2 > 0"
        s"""WITH a AS (SELECT l_returnflag AS g,
            COUNT(*) FILTER (WHERE $v) AS n,
            CAST(SUM($m) FILTER (WHERE $v) AS DECIMAL(38,0)) AS s,
            CAST(SUM($m * $m) FILTER (WHERE $v) AS DECIMAL(38,0)) AS ss
          FROM lineitem GROUP BY 1)
        SELECT x.g AS group_a, y.g AS group_b, x.n AS n_a, y.n AS n_b,
          CASE WHEN x.n >= 1 THEN ${mean("x")} END AS mean_a,
          CASE WHEN y.n >= 1 THEN ${mean("y")} END AS mean_b,
          CASE WHEN $tOk THEN
            ((${mean("x")} - ${mean("y")}) * 1e6) / sqrt($se2) END AS t,
          CASE WHEN $tOk THEN
            ($se2 * $se2) /
              (${vOverN("x")} * ${vOverN("x")} / (${n("x")} - 1) +
               ${vOverN("y")} * ${vOverN("y")} / (${n("y")} - 1)) END AS df
        FROM a x JOIN a y ON x.g < y.g
        ORDER BY group_a, group_b"""
      }),

    // Top user-journey prefixes: each user's first 8 event types in
    // exact (ts, event_id) order, joined into a path string, counted,
    // top-20. The prefix comes from a BOUNDED min-k aggregator (≤ 8
    // triples per user per task map-side — never a collect_list of a
    // power user's whole history), and the top-20 plans as
    // TakeOrderedAndProject.
    "q135_session_paths" -> Q(
      (s, dir) => {
        val firstK = udaf(new graft.functions.MinKOrderedStringsAggregator(8))
        t(s, dir, "events")
          .select(col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("__t"),
            col("event_id"), col("event_type"))
          .groupBy("user_id")
          .agg(firstK(col("__t"), col("event_id"), col("event_type")).as("__seq"))
          .select(array_join(col("__seq"), ">").as("path"))
          .groupBy("path").agg(count(lit(1)).as("n_users"))
          .orderBy(col("n_users").desc, col("path")).limit(20)
      },
      Some("""WITH seq AS (SELECT user_id,
            list(event_type ORDER BY CAST(ts AS TIMESTAMP), event_id)[1:8] AS l
          FROM events GROUP BY user_id)
        SELECT array_to_string(l, '>') AS path, COUNT(*) AS n_users
        FROM seq GROUP BY 1 ORDER BY n_users DESC, path LIMIT 20""")),

    // Perceptual (pHash-style) near-dup over the multimodal binary column:
    // 64-bit mean-hash of a deterministic 64-cell payload downscale, paired
    // by Hamming <= 7 through the 8x8-bit band index (pigeonhole-exact at
    // that threshold, sub-quadratic at scale). Integer-only bit decisions
    // make the DuckDB replay bit-exact. Exercises the dedup stack on
    // non-text bytes — the codec-dependent downscale is the only stub.
    "q136_phash_near_dup" -> Q(
      (s, dir) => Multimodal.phashNearDup(
          Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text"), 7)
        .orderBy("doc_a", "doc_b"),
      Some("""WITH hx AS (SELECT doc_id, hex(encode(text)) AS h,
              octet_length(encode(text)) AS n FROM documents),
        cells AS (SELECT doc_id, list_transform(range(64), j ->
            16 * (strpos('0123456789ABCDEF',
                         substring(h, 2*(1 + (j*n)//64) - 1, 1)) - 1)
               + (strpos('0123456789ABCDEF',
                         substring(h, 2*(1 + (j*n)//64), 1)) - 1)) AS cells
          FROM hx),
        tot AS (SELECT doc_id, cells, list_aggregate(cells, 'sum') AS total
          FROM cells),
        bands AS (SELECT doc_id, list_transform(range(8), b ->
            list_aggregate(list_transform(range(8), k ->
              CASE WHEN cells[8*b + k + 1] * 64 > total
                   THEN (1 << k) ELSE 0 END), 'sum')) AS bands
          FROM tot)
        SELECT doc_a, doc_b, hamming FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(bit_count(xor(a.bands[1]::BIGINT, b.bands[1]::BIGINT))
               + bit_count(xor(a.bands[2]::BIGINT, b.bands[2]::BIGINT))
               + bit_count(xor(a.bands[3]::BIGINT, b.bands[3]::BIGINT))
               + bit_count(xor(a.bands[4]::BIGINT, b.bands[4]::BIGINT))
               + bit_count(xor(a.bands[5]::BIGINT, b.bands[5]::BIGINT))
               + bit_count(xor(a.bands[6]::BIGINT, b.bands[6]::BIGINT))
               + bit_count(xor(a.bands[7]::BIGINT, b.bands[7]::BIGINT))
               + bit_count(xor(a.bands[8]::BIGINT, b.bands[8]::BIGINT))
              AS INTEGER) AS hamming
          FROM bands a JOIN bands b ON a.doc_id < b.doc_id)
        WHERE hamming <= 7 ORDER BY doc_a, doc_b""")),

    // Exact-integer grayscale features on the deterministic 8x8 luma
    // grid (r10 verdict #7): 8-bin intensity histogram + 4-neighbor
    // edge density, every value replayed bit-exactly by the oracle —
    // the codec-agnostic half of an image-quality gate.
    "q344_grayscale_features" -> Q(
      (s, dir) => Multimodal.grayscaleFeatures(
          Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text"))
        .orderBy("doc_id"),
      Some {
        val hist = (0 until 8).map(b =>
          s"""CAST(list_aggregate(list_transform(cells, x ->
              CASE WHEN x // 32 = $b THEN 1 ELSE 0 END), 'sum')
            AS BIGINT) AS hist_$b""").mkString(",\n          ")
        s"""WITH hx AS (SELECT doc_id,
              'application/x-graft-' || CAST(doc_id % 3 AS VARCHAR) AS mime,
              hex(encode(text)) AS h,
              CAST(octet_length(encode(text)) AS BIGINT) AS n
            FROM documents),
        cells AS (SELECT doc_id, mime, n, list_transform(range(64), j ->
            16 * (strpos('0123456789ABCDEF',
                         substring(h, 2*(1 + (j*n)//64) - 1, 1)) - 1)
               + (strpos('0123456789ABCDEF',
                         substring(h, 2*(1 + (j*n)//64), 1)) - 1)) AS cells
          FROM hx),
        feat AS (SELECT doc_id, mime, n AS n_bytes,
          $hist,
          CAST((list_aggregate(cells, 'sum') * 1000000) // 64 AS BIGINT)
            AS mean_intensity_micro,
          CAST(list_aggregate(list_transform(range(64), j ->
              CASE WHEN j % 8 <> 7
                AND abs(cells[j+1] - cells[j+2]) > 32 THEN 1 ELSE 0 END),
              'sum')
            + list_aggregate(list_transform(range(56), j ->
              CASE WHEN abs(cells[j+1] - cells[j+9]) > 32 THEN 1 ELSE 0 END),
              'sum') AS BIGINT) AS n_edges
          FROM cells)
        SELECT doc_id, mime, n_bytes, hist_0, hist_1, hist_2, hist_3,
          hist_4, hist_5, hist_6, hist_7, mean_intensity_micro, n_edges,
          CAST((n_edges * 1000000) // 112 AS BIGINT) AS edge_density_micro
        FROM feat ORDER BY doc_id"""
      }),

    // Herfindahl-Hirschman revenue concentration per nation across its
    // customers: exact DECIMAL share moments, ONE pinned division —
    // "which market does one whale dominate" beside q274's lifecycle
    // waterfall.
    "q345_hhi" -> Q(
      (s, dir) => {
        val j = t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(t(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"), col("c_custkey"), col("o_totalprice"))
        Analytics.hhiConcentration(j, "n_name", "c_custkey", "o_totalprice")
      },
      Some("""WITH per AS (SELECT n_name AS g, c_custkey AS e,
            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS c
          FROM orders JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          WHERE n_name IS NOT NULL AND c_custkey IS NOT NULL
            AND o_totalprice IS NOT NULL
          GROUP BY 1, 2),
        agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_entities,
            SUM(CAST(c AS HUGEINT)) AS t,
            SUM(CAST(c AS HUGEINT) * c) AS q
          FROM per GROUP BY 1),
        h AS (SELECT g, n_entities, CAST(t AS BIGINT) AS total_cents,
            CASE WHEN t > 0 THEN CAST(q AS DOUBLE)
              / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) END AS hhi
          FROM agg)
        SELECT g AS n_name, n_entities, total_cents, hhi,
          CASE WHEN hhi > 0 THEN 1.0 / hhi END AS effective_n
        FROM h ORDER BY n_name""")),

    // Periodogram of daily order revenue at candidate periods 7/30/91/365
    // — WHICH cycle is in the series (q268's decomposition assumes one;
    // this ranks them). Mean-centering stays integer via the xn trick;
    // cos/sin are micro-rounded BIGINTs, C/S exact DECIMAL sums.
    "q346_periodogram" -> Q(
      (s, dir) => Temporal.periodogram(t(s, dir, "orders"), "o_orderdate",
        "o_totalprice", Seq(7, 30, 91, 365)),
      Some {
        val twoPi = 2.0 * math.Pi
        s"""WITH obs AS (SELECT CAST(o_orderdate AS DATE) AS dy,
            CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT)
              AS y
          FROM orders
          WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
          GROUP BY 1),
        b AS (SELECT MIN(dy) AS lo, MAX(dy) AS hi FROM obs),
        grid AS (SELECT CAST(gs.dy - (SELECT lo FROM b) AS BIGINT) AS x,
            COALESCE(y, 0) AS y
          FROM (SELECT CAST(unnest(generate_series(lo, hi,
              INTERVAL 1 DAY)) AS DATE) AS dy FROM b) gs
          LEFT JOIN obs USING (dy)),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(y AS HUGEINT)) AS t FROM grid),
        fan AS (SELECT p, x, n, CAST(y AS HUGEINT) * n - t AS yc
          FROM grid CROSS JOIN (VALUES (CAST(7 AS BIGINT)), (30), (91),
            (365)) w(p), tot),
        tr AS (SELECT p, n, yc,
            CAST(round(cos($twoPi * CAST(x AS DOUBLE)
              / CAST(p AS DOUBLE)) * 1e6) AS BIGINT) AS cm,
            CAST(round(sin($twoPi * CAST(x AS DOUBLE)
              / CAST(p AS DOUBLE)) * 1e6) AS BIGINT) AS sm
          FROM fan),
        agg AS (SELECT p, CAST(MAX(n) AS BIGINT) AS n_days,
            SUM(yc * cm) AS c, SUM(yc * sm) AS s
          FROM tr GROUP BY 1),
        amp AS (SELECT p AS period, n_days,
            CAST(c AS DOUBLE) / (CAST(n_days AS DOUBLE)
              * CAST(n_days AS DOUBLE) * 1e12) AS c_amp,
            CAST(s AS DOUBLE) / (CAST(n_days AS DOUBLE)
              * CAST(n_days AS DOUBLE) * 1e12) AS s_amp
          FROM agg)
        SELECT period, n_days, c_amp, s_amp,
          c_amp * c_amp + s_amp * s_amp AS power
        FROM amp ORDER BY period"""
      }),

    // Wilcoxon signed-rank on the per-user value shift around the
    // mid-month cut — the rank-robust paired companion to q265's DiD
    // and q134's Welch t; doubled-rank integers, tie-corrected z,
    // shared A&S tail.
    "q347_wilcoxon_signed_rank" -> Q(
      (s, dir) => Quality.wilcoxonSignedRank(t(s, dir, "events"),
        "user_id", "ts", "value", "2024-01-16 00:00:00"),
      Some("""WITH units AS (SELECT user_id AS u,
            CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP) >=
                TIMESTAMP '2024-01-16 00:00:00'
              THEN CAST(round(value * 1e6) AS BIGINT) ELSE 0 END)
            - SUM(CASE WHEN CAST(ts AS TIMESTAMP) <
                TIMESTAMP '2024-01-16 00:00:00'
              THEN CAST(round(value * 1e6) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS dd
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND value IS NOT NULL
          GROUP BY 1 HAVING dd <> 0),
        gv AS (SELECT abs(dd) AS ad, CAST(COUNT(*) AS BIGINT) AS t,
            CAST(SUM(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp
          FROM units GROUP BY 1),
        rk AS (SELECT ad, t, tp,
            COALESCE(SUM(t) OVER (ORDER BY ad ROWS BETWEEN UNBOUNDED
              PRECEDING AND 1 PRECEDING), 0) * 2 + t + 1 AS r2
          FROM gv),
        agg AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
            CAST(SUM(tp) AS BIGINT) AS n_pos,
            CAST(SUM(CAST(tp AS HUGEINT) * r2) AS BIGINT) AS w2_plus,
            CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS BIGINT)
              AS tie_cubes
          FROM rk),
        fin AS (SELECT *,
            CAST(w2_plus AS DOUBLE) - CAST(n AS DOUBLE)
              * (CAST(n AS DOUBLE) + 1) / 2.0 AS num,
            CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)
              * (2.0 * CAST(n AS DOUBLE) + 1) / 6.0
              - CAST(tie_cubes AS DOUBLE) / 12.0 AS var
          FROM agg),
        z2 AS (SELECT *, num / sqrt(var) AS z,
            abs(num / sqrt(var)) AS az FROM fin),
        p1 AS (SELECT *, 1.0 / (1.0 + 0.2316419 * az) AS kq FROM z2),
        p2 AS (SELECT *, 0.3989422804014327 * EXP(-0.5 * az * az) *
            (((((1.330274429 * kq + -1.821255978) * kq + 1.781477937) * kq
              + -0.356563782) * kq + 0.319381530) * kq) AS tail
          FROM p1)
        SELECT n AS n_pairs, n_pos, n - n_pos AS n_neg, w2_plus,
          CASE WHEN n >= 2 AND var > 0 THEN z END AS z,
          CASE WHEN n >= 2 AND var > 0 THEN
            CAST(round(least(1.0, 2.0 * tail) * 1e6) AS BIGINT) END
            AS p_micro,
          CASE WHEN n >= 2 AND var > 0 THEN
            CAST(round(least(1.0, 2.0 * tail) * 1e6) AS BIGINT) <= 50000
            ELSE false END AS significant
        FROM p2""")),

    // Friedman test: do the five event types differ in daily value,
    // judged WITHIN each day (the randomized-block companion to q203's
    // Kruskal-Wallis)? Complete blocks only, within-block doubled
    // midranks, Conover's tie-robust chi-square as one exact quotient.
    "q348_friedman" -> Q(
      (s, dir) => Quality.friedmanTest(t(s, dir, "events")
          .withColumn("day", col("ts").cast("date")),
        "day", "event_type", "value"),
      Some("""WITH cells0 AS (SELECT CAST(ts AS DATE) AS blk,
            event_type AS tr,
            CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS v
          FROM events
          WHERE ts IS NOT NULL AND event_type IS NOT NULL
            AND value IS NOT NULL
          GROUP BY 1, 2),
        kk AS (SELECT COUNT(DISTINCT tr) AS k FROM cells0),
        complete AS (SELECT blk FROM cells0 GROUP BY 1
          HAVING COUNT(*) = (SELECT k FROM kk)),
        cells AS (SELECT c.* FROM cells0 c JOIN complete USING (blk)),
        gv AS (SELECT blk, v, CAST(COUNT(*) AS BIGINT) AS t
          FROM cells GROUP BY 1, 2),
        r2 AS (SELECT blk, v,
            COALESCE(SUM(t) OVER (PARTITION BY blk ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
              + t + 1 AS r2
          FROM gv),
        rc AS (SELECT cells.blk, cells.tr, r2.r2
          FROM cells JOIN r2 ON cells.blk = r2.blk AND cells.v = r2.v),
        pt AS (SELECT tr, CAST(SUM(r2) AS BIGINT) AS r2j
          FROM rc GROUP BY 1),
        at2 AS (SELECT CAST(SUM(CAST(r2 AS HUGEINT) * r2) AS BIGINT) AS a2,
            CAST(COUNT(DISTINCT blk) AS BIGINT) AS b,
            CAST(COUNT(DISTINCT tr) AS BIGINT) AS k FROM rc),
        nm AS (SELECT CAST(SUM(CAST(r2j - b * (k + 1) AS HUGEINT)
            * (r2j - b * (k + 1))) AS BIGINT) AS num2
          FROM pt, at2)
        SELECT b AS n_blocks, k AS k_treatments,
          CAST(k - 1 AS BIGINT) AS dof,
          CASE WHEN b >= 2 AND k >= 2
              AND CAST(a2 AS DOUBLE) - CAST(b AS DOUBLE)
                * CAST(k AS DOUBLE) * CAST(k + 1 AS DOUBLE)
                * CAST(k + 1 AS DOUBLE) > 0
            THEN CAST(num2 AS DOUBLE) * CAST(k - 1 AS DOUBLE)
              / (CAST(a2 AS DOUBLE) - CAST(b AS DOUBLE)
                * CAST(k AS DOUBLE) * CAST(k + 1 AS DOUBLE)
                * CAST(k + 1 AS DOUBLE)) END AS chi2
        FROM at2, nm""")),

    // Poisson overdispersion audit per event type: are per-user event
    // counts clumpier than random (retries, bots, template floods)?
    // Exact-integer chi2 identity, Fisher's sqrt approximation, one-
    // sided p.
    "q349_dispersion" -> Q(
      (s, dir) => Quality.dispersionTest(t(s, dir, "events"),
        "event_type", "user_id"),
      Some("""WITH per AS (SELECT event_type AS g, user_id AS u,
            CAST(COUNT(*) AS BIGINT) AS x
          FROM events
          WHERE event_type IS NOT NULL AND user_id IS NOT NULL
          GROUP BY 1, 2),
        agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(x) AS BIGINT) AS nn,
            SUM(CAST(x AS HUGEINT) * x) AS q
          FROM per GROUP BY 1),
        fin AS (SELECT *,
            sqrt(2.0 * ((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                - CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
              / CAST(nn AS DOUBLE)))
            - sqrt(2.0 * CAST(n - 1 AS DOUBLE) - 1.0) AS z
          FROM agg),
        p1 AS (SELECT *, abs(z) AS az,
            1.0 / (1.0 + 0.2316419 * abs(z)) AS kq FROM fin),
        p2 AS (SELECT *, 0.3989422804014327 * EXP(-0.5 * az * az) *
            (((((1.330274429 * kq + -1.821255978) * kq + 1.781477937) * kq
              + -0.356563782) * kq + 0.319381530) * kq) AS tail
          FROM p1),
        p3 AS (SELECT *, CASE WHEN z > 0 THEN tail ELSE 1.0 - tail END
            AS p_one FROM p2)
        SELECT g AS event_type, n AS n_units, nn AS n_events,
          CASE WHEN n >= 2 AND nn > 0 THEN
            CAST((CAST(n AS HUGEINT) * q - CAST(nn AS HUGEINT) * nn)
              * 1000000 // nn AS BIGINT) END AS chi2_micro,
          CASE WHEN n >= 2 AND nn > 0 THEN
            CAST((CAST(n AS HUGEINT) * q - CAST(nn AS HUGEINT) * nn)
              * 1000000 // (CAST(nn AS HUGEINT) * (n - 1)) AS BIGINT) END
            AS dispersion_index_micro,
          CASE WHEN n >= 2 AND nn > 0 THEN z END AS z,
          CASE WHEN n >= 2 AND nn > 0 THEN
            CAST(round(least(1.0, p_one) * 1e6) AS BIGINT) END AS p_micro,
          CASE WHEN n >= 2 AND nn > 0 THEN
            CAST(round(least(1.0, p_one) * 1e6) AS BIGINT) <= 50000
              AND (CAST(n AS HUGEINT) * q - CAST(nn AS HUGEINT) * nn)
                * 1000000 // (CAST(nn AS HUGEINT) * (n - 1)) > 1000000
            ELSE false END AS overdispersed
        FROM p3 ORDER BY event_type""")),

    // Hill tail-index of document lengths per source — "is this source's
    // length tail power-law heavy": bounded top-21 order statistics via
    // the MinK aggregator (no per-source sort), micro-log integers, one
    // final division; alpha < 2 means infinite variance.
    "q350_hill_tail" -> Q(
      (s, dir) => Quality.hillTailIndex(t(s, dir, "documents"),
        "source", "doc_id", "n_chars", 20),
      Some("""WITH base AS (SELECT source AS g,
            CAST(round(n_chars * 1e6) AS BIGINT) AS vm,
            CAST(doc_id AS VARCHAR) AS id
          FROM documents
          WHERE source IS NOT NULL AND doc_id IS NOT NULL
            AND n_chars IS NOT NULL AND n_chars > 0),
        top AS (SELECT g, vm,
            row_number() OVER (PARTITION BY g ORDER BY vm DESC, id) AS rnk,
            CAST(round(ln(vm) * 1e6) AS BIGINT) AS lx
          FROM base QUALIFY rnk <= 21),
        tl AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_tail,
            CAST(MAX(vm) AS BIGINT) AS n_tail_max_micro,
            CAST(MIN(vm) AS BIGINT) AS n_tail_min_micro,
            CAST(SUM(lx) AS BIGINT) AS slx
          FROM top WHERE rnk <= 20 GROUP BY 1),
        thr AS (SELECT g, vm AS threshold_micro, lx AS lxk
          FROM top WHERE rnk = 21),
        h AS (SELECT tl.g, n_tail, n_tail_max_micro, n_tail_min_micro,
            threshold_micro,
            (CAST(slx AS DOUBLE) - CAST(n_tail AS DOUBLE)
              * CAST(lxk AS DOUBLE)) / CAST(n_tail AS DOUBLE) / 1e6 AS h0
          FROM tl LEFT JOIN thr ON tl.g = thr.g)
        SELECT g AS source, CAST(20 AS BIGINT) AS k,
          n_tail_max_micro, n_tail_min_micro, threshold_micro,
          CASE WHEN n_tail = 20 AND threshold_micro IS NOT NULL AND h0 > 0
            THEN h0 END AS hill,
          CASE WHEN n_tail = 20 AND threshold_micro IS NOT NULL AND h0 > 0
            THEN 1.0 / h0 END AS alpha
        FROM h ORDER BY source""")),

    // Theil T inequality of customer revenue within each nation — the
    // decomposable entropy companion to q345's HHI; micro-log integers,
    // exact DECIMAL weighted log sum, one live ln at assembly.
    "q351_theil_inequality" -> Q(
      (s, dir) => {
        val j = t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(t(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"), col("c_custkey"), col("o_totalprice"))
        Analytics.theilIndex(j, "n_name", "c_custkey", "o_totalprice")
      },
      Some("""WITH per AS (SELECT n_name AS g, c_custkey AS e,
            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS c
          FROM orders JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          WHERE n_name IS NOT NULL AND c_custkey IS NOT NULL
            AND o_totalprice IS NOT NULL
          GROUP BY 1, 2 HAVING c > 0),
        lx AS (SELECT g, c, CAST(round(ln(c) * 1e6) AS BIGINT) AS lx
          FROM per),
        agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_entities,
            CAST(SUM(c) AS BIGINT) AS total_cents,
            SUM(CAST(c AS HUGEINT) * lx) AS s1
          FROM lx GROUP BY 1),
        th AS (SELECT g, n_entities, total_cents,
            CASE WHEN n_entities >= 2 AND total_cents > 0 THEN
              CAST(s1 AS DOUBLE) / CAST(total_cents AS DOUBLE) / 1e6
                - CAST(CAST(round(ln(CAST(total_cents AS DOUBLE)
                    / CAST(n_entities AS DOUBLE)) * 1e6) AS BIGINT)
                  AS DOUBLE) / 1e6 END AS theil
          FROM agg)
        SELECT g AS n_name, n_entities, total_cents, theil,
          CASE WHEN theil IS NOT NULL THEN
            theil / (CAST(CAST(round(ln(CAST(n_entities AS DOUBLE)) * 1e6)
              AS BIGINT) AS DOUBLE) / 1e6) END AS theil_norm
        FROM th ORDER BY n_name""")),

    // Cochran's Q: do the five event types differ in "user is a
    // regular" (>= 3 events of the type), judged WITHIN each user —
    // the k-treatment McNemar / binary Friedman; all-integer Q with
    // one division.
    "q352_cochran_q" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        val counts = ev.groupBy(col("user_id").as("u"),
            col("event_type").as("tr"))
          .agg(count(lit(1)).as("c"))
        val spine = ev.select(col("user_id").as("u")).distinct()
          .crossJoin(broadcast(
            ev.select(col("event_type").as("tr")).distinct()))
        val full = spine.join(counts, Seq("u", "tr"), "left")
          .select(col("u"), col("tr"),
            (coalesce(col("c"), lit(0L)) >= 3L).as("regular"))
        Quality.cochranQ(full, "u", "tr", "regular")
      },
      Some("""WITH counts AS (SELECT user_id AS u, event_type AS tr,
            CAST(COUNT(*) AS BIGINT) AS c
          FROM events
          WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          GROUP BY 1, 2),
        users AS (SELECT DISTINCT user_id AS u FROM events
          WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        types AS (SELECT DISTINCT event_type AS tr FROM events
          WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        cells AS (SELECT u, tr,
            CASE WHEN COALESCE(c, 0) >= 3 THEN 1 ELSE 0 END AS x
          FROM users CROSS JOIN types LEFT JOIN counts USING (u, tr)),
        pb AS (SELECT u, CAST(SUM(x) AS BIGINT) AS rb
          FROM cells GROUP BY 1),
        pt AS (SELECT tr, CAST(SUM(x) AS BIGINT) AS cj
          FROM cells GROUP BY 1),
        ta AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
            CAST(SUM(CAST(cj AS HUGEINT) * cj) AS BIGINT) AS c2,
            CAST(SUM(cj) AS BIGINT) AS nsucc FROM pt),
        ba AS (SELECT CAST(COUNT(*) AS BIGINT) AS b,
            CAST(SUM(CAST(rb AS HUGEINT) * rb) AS BIGINT) AS r2 FROM pb)
        SELECT b AS n_blocks, k AS k_treatments, nsucc AS n_success,
          CAST(k - 1 AS BIGINT) AS dof,
          CASE WHEN b >= 2 AND k >= 2
              AND CAST(k AS DOUBLE) * CAST(nsucc AS DOUBLE)
                - CAST(r2 AS DOUBLE) > 0
            THEN CAST(k - 1 AS DOUBLE)
              * (CAST(k AS DOUBLE) * CAST(c2 AS DOUBLE)
                - CAST(nsucc AS DOUBLE) * CAST(nsucc AS DOUBLE))
              / (CAST(k AS DOUBLE) * CAST(nsucc AS DOUBLE)
                - CAST(r2 AS DOUBLE)) END AS q_stat
        FROM ta, ba""")),

    // Page's L trend: is daily value RANK-monotone across event types in
    // the fixed hypothesized order click < error < purchase < signup <
    // view (alphabetical — the replayable fixture hypothesis)? The
    // ordered-alternative refinement of q348's Friedman.
    "q353_page_trend" -> Q(
      (s, dir) => Quality.pageTrend(t(s, dir, "events")
          .withColumn("day", col("ts").cast("date")),
        "day", "event_type", "value",
        Seq("click", "error", "purchase", "signup", "view")),
      Some("""WITH cells0 AS (SELECT CAST(ts AS DATE) AS blk,
            event_type AS tr,
            CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS v,
            CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
              WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4
              WHEN 'view' THEN 5 END AS j
          FROM events
          WHERE ts IS NOT NULL AND event_type IS NOT NULL
            AND value IS NOT NULL
          GROUP BY 1, 2),
        c1 AS (SELECT * FROM cells0 WHERE j IS NOT NULL),
        complete AS (SELECT blk FROM c1 GROUP BY 1 HAVING COUNT(*) = 5),
        cells AS (SELECT c1.* FROM c1 JOIN complete USING (blk)),
        gv AS (SELECT blk, v, CAST(COUNT(*) AS BIGINT) AS t
          FROM cells GROUP BY 1, 2),
        r2 AS (SELECT blk, v,
            COALESCE(SUM(t) OVER (PARTITION BY blk ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
              + t + 1 AS r2
          FROM gv),
        agg AS (SELECT CAST(COUNT(DISTINCT cells.blk) AS BIGINT) AS b,
            CAST(SUM(CAST(j AS HUGEINT) * r2) AS BIGINT) AS l2
          FROM cells JOIN r2 ON cells.blk = r2.blk AND cells.v = r2.v),
        fin AS (SELECT b, l2,
            (CAST(l2 AS DOUBLE) - CAST(b AS DOUBLE) * 5.0 * 6.0 * 6.0
              / 2.0)
            / sqrt(CAST(b AS DOUBLE) * (5.0 * 5.0 * 5.0 - 5.0)
              * (5.0 * 5.0 * 5.0 - 5.0) / (36.0 * (5.0 - 1.0))) AS z
          FROM agg),
        p1 AS (SELECT *, abs(z) AS az,
            1.0 / (1.0 + 0.2316419 * abs(z)) AS kq FROM fin),
        p2 AS (SELECT *, 0.3989422804014327 * EXP(-0.5 * az * az) *
            (((((1.330274429 * kq + -1.821255978) * kq + 1.781477937) * kq
              + -0.356563782) * kq + 0.319381530) * kq) AS tail
          FROM p1)
        SELECT b AS n_blocks, CAST(5 AS BIGINT) AS k_treatments,
          l2 AS l2_stat,
          CASE WHEN b >= 2 THEN z END AS z,
          CASE WHEN b >= 2 THEN
            CAST(round(least(1.0, 2.0 * tail) * 1e6) AS BIGINT) END
            AS p_micro,
          CASE WHEN b >= 2 THEN
            CAST(round(least(1.0, 2.0 * tail) * 1e6) AS BIGINT) <= 50000
            ELSE false END AS significant
        FROM p2""")),

    // G-test (likelihood-ratio chi-square) on q180's lang x source
    // contingency — the additive information-theoretic twin; zero cells
    // contribute exactly 0, so only the joint relation is scanned.
    "q354_g_test" -> Q(
      (s, dir) => Quality.gTest(t(s, dir, "documents"), "lang", "source"),
      Some("""WITH base AS (SELECT lang AS a, source AS b FROM documents
            WHERE lang IS NOT NULL AND source IS NOT NULL),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
        joint AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o
          FROM base GROUP BY 1, 2),
        ma AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS na
          FROM base GROUP BY 1),
        mb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nb
          FROM base GROUP BY 1),
        ka AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM ma),
        kb AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM mb),
        cells AS (SELECT o,
            CAST(round(ln(CAST(o * n AS DOUBLE)) * 1e6) AS BIGINT)
              - CAST(round(ln(CAST(na * nb AS DOUBLE)) * 1e6) AS BIGINT)
              AS dl
          FROM joint JOIN ma USING (a) JOIN mb USING (b), nn),
        agg AS (SELECT CAST(SUM(CAST(o AS HUGEINT) * dl) AS BIGINT)
              AS g_micro_sum,
            CAST(COUNT(*) AS BIGINT) AS n_cells_observed
          FROM cells)
        SELECT nn.n, n_cells_observed,
          CAST((ka.k - 1) * (kb.k - 1) AS BIGINT) AS dof,
          g_micro_sum,
          2.0 * CAST(g_micro_sum AS DOUBLE) / 1e6 AS g_stat
        FROM agg, nn, ka, kb""")),

    // Benjamini-Yekutieli beside BH on q271's per-segment Welch p's —
    // the dependence-robust FDR verdict; the comparison rides exact
    // integers (harmonic number on the 1e-12 grid).
    "q355_by_fdr" -> Q(
      (s, dir) => Quality.byFdr(t(s, dir, "events"), "event_type",
        "user_id", "value", "by1"),
      Some(s"""WITH base AS (SELECT event_type AS seg,
            ${graft.functions.Hashing.h60Sql(
              "'by1:' || CAST(user_id AS VARCHAR)")} % 2 = 0 AS a,
            CAST(round(value * 1e6) AS BIGINT) AS v
          FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
            AND value IS NOT NULL),
        g AS (SELECT seg,
            CAST(COUNT(*) FILTER (WHERE a) AS BIGINT) AS na,
            SUM(CASE WHEN a THEN CAST(v AS HUGEINT) ELSE 0 END) AS sa,
            SUM(CASE WHEN a THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qa,
            CAST(COUNT(*) FILTER (WHERE NOT a) AS BIGINT) AS nb,
            SUM(CASE WHEN NOT a THEN CAST(v AS HUGEINT) ELSE 0 END) AS sb,
            SUM(CASE WHEN NOT a THEN CAST(v AS HUGEINT) * v ELSE 0 END)
              AS qb
          FROM base GROUP BY 1),
        w1 AS (SELECT seg, na, nb,
            CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1e6 AS ma,
            CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6 AS mb,
            (CAST(na AS DOUBLE) * CAST(qa AS DOUBLE)
              - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
              / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE)) / 1e12 AS va,
            (CAST(nb AS DOUBLE) * CAST(qb AS DOUBLE)
              - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
              / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)) / 1e12 AS vb
          FROM g),
        w2 AS (SELECT seg, na, nb,
            CASE WHEN na > 0 AND nb > 0 AND
                SQRT(va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE)) > 0
              THEN (ma - mb)
                / SQRT(va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE))
            END AS z
          FROM w1),
        w3 AS (SELECT seg, na, nb, z,
            CASE WHEN z IS NOT NULL THEN CAST(round(
              2.0 * 0.3989422804014327 * EXP(-0.5 * abs(z) * abs(z))
              * (((((1.330274429 * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + -1.821255978) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + 1.781477937) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + -0.356563782) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + 0.319381530) * (1.0 / (1.0 + 0.2316419 * abs(z))))
              * 1e6) AS BIGINT) END AS p_micro
          FROM w2),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM w3),
        rk AS (SELECT *, CAST(row_number() OVER (
            ORDER BY p_micro ASC NULLS LAST, seg) AS BIGINT) AS rank
          FROM w3),
        h AS (SELECT CAST(SUM(1000000000000 // rank) AS BIGINT) AS h12
          FROM rk),
        fl AS (SELECT rk.*, m.m, h.h12,
            p_micro IS NOT NULL AND p_micro * m <= rank * 50000 AS pbh,
            p_micro IS NOT NULL AND CAST(p_micro AS HUGEINT) * m * h12
              <= CAST(rank AS HUGEINT) * 50000 * 1000000000000 AS pby
          FROM rk, m, h),
        st AS (SELECT COALESCE(MAX(CASE WHEN pbh THEN rank END), 0)
              AS ibh,
            COALESCE(MAX(CASE WHEN pby THEN rank END), 0) AS iby
          FROM fl)
        SELECT seg AS segment, na AS n_a, nb AS n_b, z, p_micro, rank,
          h12 AS harmonic_12,
          rank <= ibh AS significant_bh,
          rank <= iby AS significant_by
        FROM fl, st ORDER BY rank""")),

    // Jonckheere-Terpstra: does order value climb across the five
    // priority tiers in their labeled order — the independent-groups
    // ordered alternative beside q278's Kruskal-Wallis; J2 exact over
    // per-tier cumulative value grids.
    "q356_jonckheere" -> Q(
      (s, dir) => Quality.jonckheereTerpstra(t(s, dir, "orders"),
        "o_orderpriority", "o_totalprice",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
      Some("""WITH base AS (SELECT CASE o_orderpriority
              WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
              WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
              WHEN '5-LOW' THEN 5 END AS gi,
            CAST(round(o_totalprice * 1e6) AS BIGINT) AS v
          FROM orders
          WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
        b2 AS (SELECT * FROM base WHERE gi IS NOT NULL),
        cells AS (SELECT gi, v, CAST(COUNT(*) AS BIGINT) AS c
          FROM b2 GROUP BY 1, 2),
        grp AS (SELECT DISTINCT gi FROM cells),
        spine AS (SELECT DISTINCT v FROM cells),
        grid0 AS (SELECT g.gi, s.v, COALESCE(c.c, 0) AS c
          FROM spine s CROSS JOIN grp g
          LEFT JOIN cells c ON c.gi = g.gi AND c.v = s.v),
        grid AS (SELECT gi, v, c,
            COALESCE(SUM(c) OVER (PARTITION BY gi ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS cum_lt
          FROM grid0),
        j2 AS (SELECT CAST(SUM(CAST(j.c AS HUGEINT)
              * (CAST(i.cum_lt AS HUGEINT) * 2 + i.c)) AS BIGINT)
              AS j2_stat
          FROM grid i JOIN grid j ON i.v = j.v AND i.gi < j.gi),
        sz AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
            CAST(SUM(ng) AS BIGINT) AS n,
            CAST(SUM(CAST(ng AS HUGEINT) * ng) AS BIGINT) AS sn2,
            SUM(CAST(ng AS HUGEINT) * ng * (CAST(ng AS HUGEINT) * 2 + 3))
              AS sn23
          FROM (SELECT gi, CAST(SUM(c) AS BIGINT) AS ng
            FROM cells GROUP BY 1)),
        fin AS (SELECT n, k, j2_stat,
            (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              * (2.0 * CAST(n AS DOUBLE) + 3)
              - CAST(sn23 AS DOUBLE)) / 18.0 AS var2,
            (CAST(j2_stat AS DOUBLE)
              - (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(sn2 AS DOUBLE)) / 2.0)
            / sqrt((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              * (2.0 * CAST(n AS DOUBLE) + 3)
              - CAST(sn23 AS DOUBLE)) / 18.0) AS z
          FROM sz, j2),
        p1 AS (SELECT *, abs(z) AS az,
            1.0 / (1.0 + 0.2316419 * abs(z)) AS kq FROM fin),
        p2 AS (SELECT *, 0.3989422804014327 * EXP(-0.5 * az * az) *
            (((((1.330274429 * kq + -1.821255978) * kq + 1.781477937) * kq
              + -0.356563782) * kq + 0.319381530) * kq) AS tail
          FROM p1)
        SELECT n AS n_total, k AS k_groups, j2_stat,
          CASE WHEN k >= 2 AND var2 > 0 THEN z END AS z,
          CASE WHEN k >= 2 AND var2 > 0 THEN
            CAST(round(least(1.0, 2.0 * tail) * 1e6) AS BIGINT) END
            AS p_micro,
          CASE WHEN k >= 2 AND var2 > 0 THEN
            CAST(round(least(1.0, 2.0 * tail) * 1e6) AS BIGINT) <= 50000
            ELSE false END AS significant
        FROM p2""")),

    // Persisted IVF index (the q250/q322 pattern for the kNN family):
    // cell relation bucketed by cell + k x dims centroid model as
    // parquet; the probe reads the stored model, routes itself, and
    // ranks inside the stored cells. Probed at FULL nProbe so the
    // result is definitionally the exact top-5 (the q31b contract) —
    // a value-level oracle for the persisted layout itself.
    "q357_persisted_ivf" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val (cellRel, centRel) = Similarity.ivfIndexRelations(emb,
          "vec_id", "embedding", nlist = 16, iters = 5)
        val wd = tmpWorkDir("graft_ivf", dir)
        Warehouse.writeBucketed(s, cellRel, "graft_ivf_cells",
          s"$wd/cells", "cell", 16)
        centRel.write.mode("overwrite").parquet(s"$wd/cents")
        Similarity.ivfIndexProbe(s.table("graft_ivf_cells"),
          s.read.parquet(s"$wd/cents"),
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nProbe = 16)
      },
      Some(knnTop5OracleSql)),

    // Kendall's W: do three deterministic quality "judges" (token
    // volume, stopword density, low-punctuation) agree on the RANKING
    // of the 20 sources? The effect-size face of q348's Friedman, over
    // the q331 rater panel's features.
    "q358_kendall_w" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val f = TextOps.qualityFeatures(docs, "doc_id", "text")
          .join(docs.select("doc_id", "source"), "doc_id")
        // cached: the three judge rows below each reference this
        // aggregate — uncached, the qualityFeatures tokenization pass
        // runs three times (measured 8.4 s -> ~3 s isolated at sf0.1)
        val per = graft.CacheScope.register(f.groupBy("source").agg(
          sum(col("n_tokens")).cast("long").as("j1"),
          sum(coalesce(col("stopword_ratio_micro"), lit(0L))).cast("long")
            .as("j2"),
          sum(coalesce(col("punct_ratio_micro"), lit(0L))).cast("long")
            .as("j3")))
        // one explode, not a 3-way union: union branches are separate
        // subtrees and each re-plans the aggregate upstream
        val rows = per.select(col("source"), explode(array(
            struct(lit("tokens").as("judge"),
              col("j1").cast("double").as("v")),
            struct(lit("stopword").as("judge"),
              col("j2").cast("double").as("v")),
            struct(lit("lowpunct").as("judge"),
              (-col("j3")).cast("double").as("v")))).as("__jv"))
          .select(col("__jv.judge").as("judge"), col("source"),
            col("__jv.v").as("v"))
        Quality.kendallW(rows, "judge", "source", "v")
      },
      Some(s"""WITH ${qualityMicroSql("doc_id, source")},
        per AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS j1,
            CAST(SUM(COALESCE(stopword_ratio_micro, 0)) AS BIGINT) AS j2,
            CAST(SUM(COALESCE(punct_ratio_micro, 0)) AS BIGINT) AS j3
          FROM __qm GROUP BY 1),
        rows0 AS (SELECT 'tokens' AS blk, source AS tr,
            CAST(j1 AS DOUBLE) AS vr FROM per
          UNION ALL SELECT 'stopword', source, CAST(j2 AS DOUBLE) FROM per
          UNION ALL SELECT 'lowpunct', source, -CAST(j3 AS DOUBLE)
            FROM per),
        cells0 AS (SELECT blk, tr,
            CAST(SUM(CAST(round(vr * 1e6) AS BIGINT)) AS BIGINT) AS v
          FROM rows0 GROUP BY 1, 2),
        kk AS (SELECT COUNT(DISTINCT tr) AS k FROM cells0),
        complete AS (SELECT blk FROM cells0 GROUP BY 1
          HAVING COUNT(*) = (SELECT k FROM kk)),
        cells AS (SELECT c.* FROM cells0 c JOIN complete USING (blk)),
        gv AS (SELECT blk, v, CAST(COUNT(*) AS BIGINT) AS t
          FROM cells GROUP BY 1, 2),
        r2 AS (SELECT blk, v,
            COALESCE(SUM(t) OVER (PARTITION BY blk ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
              + t + 1 AS r2
          FROM gv),
        rc AS (SELECT cells.blk, cells.tr, r2.r2
          FROM cells JOIN r2 ON cells.blk = r2.blk AND cells.v = r2.v),
        pt AS (SELECT tr, CAST(SUM(r2) AS BIGINT) AS r2j
          FROM rc GROUP BY 1),
        at2 AS (SELECT CAST(SUM(CAST(r2 AS HUGEINT) * r2) AS BIGINT) AS a2,
            CAST(COUNT(DISTINCT blk) AS BIGINT) AS b,
            CAST(COUNT(DISTINCT tr) AS BIGINT) AS k FROM rc),
        nm AS (SELECT CAST(SUM(CAST(r2j - b * (k + 1) AS HUGEINT)
            * (r2j - b * (k + 1))) AS BIGINT) AS num2
          FROM pt, at2),
        fr AS (SELECT b, k,
            CASE WHEN b >= 2 AND k >= 2
                AND CAST(a2 AS DOUBLE) - CAST(b AS DOUBLE)
                  * CAST(k AS DOUBLE) * CAST(k + 1 AS DOUBLE)
                  * CAST(k + 1 AS DOUBLE) > 0
              THEN CAST(num2 AS DOUBLE) * CAST(k - 1 AS DOUBLE)
                / (CAST(a2 AS DOUBLE) - CAST(b AS DOUBLE)
                  * CAST(k AS DOUBLE) * CAST(k + 1 AS DOUBLE)
                  * CAST(k + 1 AS DOUBLE)) END AS chi2
          FROM at2, nm)
        SELECT b AS n_judges, k AS k_items, chi2,
          CASE WHEN chi2 IS NOT NULL AND b > 0 AND k - 1 > 0
            THEN chi2 / CAST(b * (k - 1) AS DOUBLE) END AS w
        FROM fr""")),

    // Mixed-language (code-switching) audit: the langId argmax run on
    // the two token-halves independently — flags translation-glued /
    // boilerplate-wrapped docs a one-vote language filter passes.
    "q359_code_switch" -> Q(
      (s, dir) => TextOps.codeSwitchAudit(t(s, dir, "documents"),
        "doc_id", "text").orderBy("doc_id"),
      Some {
        def halfScores(h: String, p: String) =
          TextOps.langLexicons.map { case (lang, lex) =>
            val list = lex.map(w => s"'$w'").mkString(", ")
            s"len(list_filter($h, t -> t IN ($list))) AS ${p}_$lang"
          }.mkString(",\n            ")
        val langs = TextOps.langLexicons.map(_._1)
        def caseChain(p: String) = {
          val g = s"greatest(${langs.map(l => s"${p}_$l").mkString(", ")})"
          langs.map(l => s"WHEN ${p}_$l >= $g AND ${p}_$l > 0 THEN '$l'")
            .mkString(" ")
        }
        s"""WITH t AS (SELECT doc_id,
              string_split_regex(lower(trim(text)), '\\s+') AS l
            FROM documents),
          h AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n,
              list_slice(l, 1, len(l) // 2) AS h1,
              list_slice(l, len(l) // 2 + 1, len(l)) AS h2
            FROM t),
          sc AS (SELECT doc_id, n,
            ${halfScores("h1", "a")},
            ${halfScores("h2", "b")}
            FROM h),
          pred AS (SELECT doc_id, n,
              CASE ${caseChain("a")} ELSE 'und' END AS lang_first,
              CASE ${caseChain("b")} ELSE 'und' END AS lang_second
            FROM sc)
          SELECT doc_id, n AS n_tokens, lang_first, lang_second,
            lang_first <> lang_second AND lang_first <> 'und'
              AND lang_second <> 'und' AS mixed
          FROM pred ORDER BY doc_id"""
      }),

    // Heaps-law vocabulary-growth curve: cumulative docs/tokens/vocab per
    // doc-id decile — does more of this corpus still buy new vocabulary?
    // Each token contributes at its MIN bucket (one groupBy); the only
    // window runs over the 10-row bucket aggregate.
    "q137_vocab_growth" -> Q(
      (s, dir) => TextOps.vocabGrowth(t(s, dir, "documents"), "doc_id",
          "text", 10)
        .orderBy("bucket"),
      Some("""WITH mx AS (SELECT MAX(doc_id) AS mx FROM documents),
        toks AS (SELECT doc_id, (doc_id * 10) // (mx + 1) AS bucket,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents, mx),
        pb AS (SELECT bucket, COUNT(*) AS toks,
            COUNT(DISTINCT doc_id) AS docs FROM toks GROUP BY 1),
        nv AS (SELECT bucket, COUNT(*) AS new_vocab FROM (
            SELECT tok, MIN(bucket) AS bucket FROM toks GROUP BY tok)
          GROUP BY 1)
        SELECT pb.bucket,
          CAST(SUM(pb.docs) OVER w AS BIGINT) AS docs_cum,
          CAST(SUM(pb.toks) OVER w AS BIGINT) AS tokens_cum,
          CAST(SUM(COALESCE(nv.new_vocab, 0)) OVER w AS BIGINT) AS vocab_cum
        FROM pb LEFT JOIN nv ON nv.bucket = pb.bucket
        WINDOW w AS (ORDER BY pb.bucket)
        ORDER BY pb.bucket""")),

    // Zipf rank-frequency slope per source: OLS of ln(freq) on ln(rank)
    // over each source's top-20 tokens — a flat slope flags templated /
    // unnatural text. The ranked prefix is the bounded
    // MinKLongStringAggregator (no per-source vocabulary sort);
    // micro-unit integer logs make the slope a ratio of reproducible
    // BIGINTs.
    "q138_zipf_slope" -> Q(
      (s, dir) => TextOps.zipfSlope(t(s, dir, "documents"), "source",
          "text", 20)
        .withColumnRenamed("grp", "source")
        .orderBy("source"),
      Some("""WITH toks AS (SELECT source,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        freq AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        ranked AS (SELECT source, c, row_number() OVER (
            PARTITION BY source ORDER BY c DESC, tok) AS rnk FROM freq),
        m AS (SELECT source, CAST(round(ln(rnk) * 1e6) AS BIGINT) AS x,
            CAST(round(ln(c) * 1e6) AS BIGINT) AS y
          FROM ranked WHERE rnk <= 20),
        s AS (SELECT source, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
            SUM(x*y) AS sxy, SUM(x*x) AS sxx FROM m GROUP BY 1)
        SELECT source, CAST(n AS BIGINT) AS n_ranks,
          CASE WHEN n >= 2 THEN
            CAST(CAST(n*sxy - sx*sy AS BIGINT) AS DOUBLE)
              / CAST(n*sxx - sx*sx AS BIGINT) END AS slope
        FROM s ORDER BY source""")),

    // PSI drift report over the event-value distribution: reference half
    // vs current half at the time midpoint, 10 fixed-width buckets,
    // add-one-smoothed contributions in micro-units (integer per-bucket
    // rows keep the report summation-order-independent).
    "q139_psi_drift" -> Q(
      (s, dir) => Quality.psiDrift(t(s, dir, "events"), "ts", "value", 10)
        .orderBy("bucket"),
      Some("""WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t, value
          FROM events WHERE value IS NOT NULL),
        bounds AS (SELECT MIN(t) mn, MAX(t) mx, MIN(value) vmn,
            MAX(value) vmx FROM e),
        tagged AS (SELECT
            CASE WHEN t * 2 < mn + mx THEN 'ref' ELSE 'cur' END AS side,
            LEAST(9, CAST(floor((value - vmn) * 10 / (vmx - vmn))
              AS INTEGER)) AS bucket
          FROM e, bounds),
        c AS (SELECT bucket,
            SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS c_ref,
            SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS c_cur
          FROM tagged GROUP BY 1),
        n AS (SELECT SUM(c_ref) AS n_ref, SUM(c_cur) AS n_cur FROM c)
        SELECT CAST(bucket AS INTEGER) AS bucket,
          CAST(c_ref AS BIGINT) AS c_ref,
          CAST(c_cur AS BIGINT) AS c_cur,
          CAST(round((((c_cur + 1.0) / (n_cur + 10))
                    - ((c_ref + 1.0) / (n_ref + 10))) *
            (CAST(round(ln((c_cur + 1) * (n_ref + 10)) * 1e6) AS BIGINT)
           - CAST(round(ln((c_ref + 1) * (n_cur + 10)) * 1e6) AS BIGINT)))
            AS BIGINT) AS contrib_micro
        FROM c, n ORDER BY bucket""")),

    // Cross-source quantile normalization of n_chars: every (source,
    // score) maps to the global score at the same quantile, putting
    // per-source distributions on one comparable scale before mixing.
    // Both CDFs are distinct-score-grid aggregates; the lookup is an
    // as-of merge of the two grids by CDF fraction.
    "q140_quantile_normalize" -> Q(
      (s, dir) => Quality.quantileNormalize(t(s, dir, "documents"),
          "source", "n_chars")
        .withColumnRenamed("grp", "source")
        .orderBy("source", "score"),
      Some("""WITH sc AS (SELECT source, n_chars AS score, COUNT(*) AS c
          FROM documents GROUP BY 1, 2),
        scum AS (SELECT source, score,
            SUM(c) OVER (PARTITION BY source ORDER BY score) AS cum,
            SUM(c) OVER (PARTITION BY source) AS n FROM sc),
        g AS (SELECT n_chars AS gscore, COUNT(*) AS gc
          FROM documents GROUP BY 1),
        gcum AS (SELECT gscore, SUM(gc) OVER (ORDER BY gscore) AS gcum,
            SUM(gc) OVER () AS gn FROM g)
        SELECT s.source, s.score, MIN(gc.gscore) AS normalized
        FROM scum s JOIN gcum gc
          ON CAST(gc.gcum AS DOUBLE) / gc.gn >= CAST(s.cum AS DOUBLE) / s.n
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Train/eval split-leakage audit: near-dup pairs (q21's MinHash+LSH
    // machinery, exact-Jaccard >= 0.8) that CROSS the q51 hash split —
    // each row is an eval document whose near-duplicate sits in train,
    // i.e. silent benchmark contamination. Composition stays
    // sub-quadratic: the pair list is LSH-bounded, the split assignment
    // is a pure projection joined twice by id.
    "q141_split_leakage" -> Q(
      (s, dir) => {
        val docs = graft.CacheScope.register(t(s, dir, "documents"))
        val pairs = lshPairs(s, dir)
        val split = Sampling.hashSplit(docs, "doc_id", "exp1",
            Seq("train" -> 0.90, "val" -> 0.05, "test" -> 0.05))
          .select(col("doc_id"), col("split"))
        pairs
          .join(split.withColumnRenamed("doc_id", "id_a")
            .withColumnRenamed("split", "split_a"), "id_a")
          .join(split.withColumnRenamed("doc_id", "id_b")
            .withColumnRenamed("split", "split_b"), "id_b")
          .filter(col("split_a") =!= col("split_b"))
          .select("id_a", "id_b", "jaccard", "split_a", "split_b")
          .orderBy("id_a", "id_b")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
               FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 1)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
               FROM toks WHERE len(l) >= 3),
        sh AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        pairs AS (SELECT id_a, id_b,
                  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
                  FROM inter JOIN sizes sa ON id_a = sa.doc_id
                             JOIN sizes sb ON id_b = sb.doc_id
                  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8),
        b AS (SELECT doc_id,
            CAST('0x' || substr(md5('exp1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS bkt
          FROM documents),
        spl AS (SELECT doc_id, CASE WHEN bkt < 9000 THEN 'train'
                                    WHEN bkt < 9500 THEN 'val'
                                    ELSE 'test' END AS split FROM b)
        SELECT id_a, id_b, jaccard, sa.split AS split_a, sb.split AS split_b
        FROM pairs JOIN spl sa ON id_a = sa.doc_id
                   JOIN spl sb ON id_b = sb.doc_id
        WHERE sa.split <> sb.split
        ORDER BY id_a, id_b""")),

    // Exact sample covariance matrix of the embedding dimensions (upper
    // triangle): integer micro-grid moments in DECIMAL, one double
    // expression at the end — bit-exact vs the oracle. Partial
    // aggregation collapses the d(d+1)/2 pair fan-out map-side.
    "q142_embedding_covariance" -> Q(
      (s, dir) => Similarity.embeddingCovariance(t(s, dir, "embeddings"),
          "vec_id", "embedding")
        .orderBy("i", "j"),
      Some("""WITH m AS (SELECT vec_id,
            unnest(list_transform(range(0, len(embedding)), i ->
              {'i': i, 'v': round(CAST(embedding[i + 1] AS DOUBLE) * 1e7)}))
              AS u
          FROM embeddings),
        t AS (SELECT vec_id, CAST(u.i AS INTEGER) AS i,
            CAST(u.v AS BIGINT) AS v FROM m),
        p AS (SELECT a.i AS i, b.i AS j, COUNT(*) AS n,
            SUM(a.v) AS s_i, SUM(b.v) AS s_j, SUM(a.v * b.v) AS s_ij
          FROM t a JOIN t b ON a.vec_id = b.vec_id AND a.i <= b.i
          GROUP BY 1, 2)
        SELECT i, j, CAST(n AS BIGINT) AS n,
          ((CAST(s_ij AS DOUBLE)
            - CAST(s_i AS DOUBLE) * CAST(s_j AS DOUBLE) / n)
           / (n - 1)) / 1e14 AS cov
        FROM p ORDER BY i, j""")),

    // PCA contract check for the top-8 principal components: driver-side
    // deterministic Jacobi eigen over q142's exact covariance (d x d,
    // bounded), then a map-only projection scan. The eigen ROTATION is
    // not SQL-expressible, so the query emits the eigendecomposition's
    // defining invariants as oracle-checkable booleans per component
    // pair (round-7 verdict #4): basis orthonormality and that the
    // projected coordinates diagonalize the covariance (cov = eigenvalue
    // on the diagonal, ~0 off it).
    "q143_pca_project" -> Q(
      (s, dir) => Similarity.pcaContractCheck(t(s, dir, "embeddings"),
        "vec_id", "embedding", 8),
      Some("""SELECT CAST(a.range AS INT) AS i, CAST(b.range AS INT) AS j,
        true AS ortho_ok, true AS cov_ok
        FROM range(8) a, range(8) b WHERE a.range <= b.range
        ORDER BY i, j""")),

    // Which sources cover the same embedding region: pairwise L2 between
    // per-source centroids. Centroids are micro-grid integers (rounded
    // exact-DECIMAL means), the squared distance an exact BIGINT sum —
    // only the final sqrt is floating point, so the oracle replays it
    // bit-exactly. One corpus scan; everything after is |sources|-sized.
    "q144_source_centroid_distances" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
        val emb = t(s, dir, "embeddings")
          .join(docs, col("vec_id") === col("doc_id"))
        Similarity.groupCentroidDistances(emb, "source", "embedding")
          .withColumnRenamed("grp_a", "source_a")
          .withColumnRenamed("grp_b", "source_b")
          .orderBy("source_a", "source_b")
      },
      Some("""WITH e AS (SELECT d.source, m.embedding
          FROM embeddings m JOIN documents d ON m.vec_id = d.doc_id),
        c AS (SELECT source, u.pos AS pos, u.v AS v FROM (
            SELECT source, unnest(list_transform(range(0, len(embedding)),
              i -> {'pos': i,
                    'v': CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1e7)
                         AS BIGINT)})) AS u
            FROM e)),
        cent AS (SELECT source, pos,
            CAST(round(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mu
          FROM c GROUP BY 1, 2)
        SELECT a.source AS source_a, b.source AS source_b,
          sqrt(CAST(SUM((a.mu - b.mu) * (a.mu - b.mu)) AS DOUBLE)) / 1e7
            AS dist
        FROM cent a JOIN cent b
          ON a.pos = b.pos AND a.source < b.source
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Document stitching: suffix->prefix 8-token overlap pairs re-join
    // pagination/crawl fragments before dedup counts them as distinct
    // docs. The raw corpus has no split documents, so splits are PLANTED
    // deterministically (q52's planted-PII pattern): every doc_id % 7 = 0
    // with >= 40 tokens is emitted as two fragments sharing an 8-token
    // seam; the operator must recover exactly those seams (plus any
    // coincidental ones, which both engines see identically).
    "q145_doc_stitching" -> Q(
      (s, dir) => {
        val toks = graft.functions.TextFns.tokens(col("text"))
        val base = t(s, dir, "documents")
          .select(col("doc_id"), toks.as("__l"))
          .withColumn("__n", size(col("__l")))
        val isSplit = col("doc_id") % 7 === 0 && col("__n") >= 40
        val m = expr("CAST(__n DIV 2 AS INT)")
        val frags = base.select(explode(when(isSplit,
            array(
              struct((col("doc_id") * 10 + 1).as("doc_id"),
                concat_ws(" ", slice(col("__l"), lit(1), m + 8)).as("text")),
              struct((col("doc_id") * 10 + 2).as("doc_id"),
                concat_ws(" ", slice(col("__l"), m + 1, col("__n") - m))
                  .as("text"))))
          .otherwise(array(
            struct((col("doc_id") * 10).as("doc_id"),
              concat_ws(" ", col("__l")).as("text"))))).as("f"))
          .select(col("f.doc_id").as("doc_id"), col("f.text").as("text"))
        TextOps.stitchCandidates(frags, "doc_id", "text", 8)
          .orderBy("id_tail", "id_head")
      },
      Some("""WITH base AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS l,
            len(string_split_regex(lower(trim(text)), '\s+')) AS n
          FROM documents),
        frags AS (
          SELECT doc_id * 10 + 1 AS doc_id,
            array_to_string(list_slice(l, 1, n // 2 + 8), ' ') AS text
          FROM base WHERE doc_id % 7 = 0 AND n >= 40
          UNION ALL
          SELECT doc_id * 10 + 2,
            array_to_string(list_slice(l, n // 2 + 1, n), ' ')
          FROM base WHERE doc_id % 7 = 0 AND n >= 40
          UNION ALL
          SELECT doc_id * 10, array_to_string(l, ' ')
          FROM base WHERE NOT (doc_id % 7 = 0 AND n >= 40)),
        tk2 AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS l FROM frags),
        e AS (SELECT doc_id,
            array_to_string(list_slice(l, 1, 8), ' ') AS head,
            array_to_string(list_slice(l, len(l) - 7, len(l)), ' ') AS tail
          FROM tk2 WHERE len(l) >= 8)
        SELECT a.doc_id AS id_tail, b.doc_id AS id_head, a.tail AS overlap
        FROM e a JOIN e b ON a.tail = b.head AND a.doc_id <> b.doc_id
        ORDER BY id_tail, id_head""")),

    // Content-defined chunking dedup: boundaries where the rolling 4-gram
    // h60 is 0 mod 8 — content-addressed, so an inserted token shifts
    // every FIXED segment (q82) but CDC boundaries re-synchronize right
    // after the edit. Shared (>= 2 docs) chunks with occurrence stats;
    // the dup aggregate is keyed by the 60-bit chunk hash.
    "q146_cdc_chunk_dedup" -> Q(
      (s, dir) => TextOps.cdcDupChunks(t(s, dir, "documents"), "doc_id",
          "text", 4, 8)
        .orderBy("chunk_fp"),
      Some("""WITH toks AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS l FROM documents),
        pos AS (SELECT doc_id, l, len(l) AS n,
            unnest(range(1, len(l) + 1)) AS p FROM toks),
        g AS (SELECT doc_id, p, l[p] AS tok,
            CASE WHEN p <= n - 3 THEN
              CAST('0x' || substr(md5(l[p] || ' ' || l[p+1] || ' ' ||
                l[p+2] || ' ' || l[p+3]), 1, 15) AS BIGINT)
            END AS gh
          FROM pos),
        f AS (SELECT doc_id, p, tok,
            CASE WHEN gh IS NOT NULL AND gh % 8 = 0 THEN 1 ELSE 0 END AS cut
          FROM g),
        c AS (SELECT doc_id, p, tok,
            SUM(cut) OVER (PARTITION BY doc_id ORDER BY p) AS chunk_id
          FROM f),
        chunks AS (SELECT doc_id, chunk_id,
            array_to_string(list(tok ORDER BY p), ' ') AS chunk,
            COUNT(*) AS tok_len
          FROM c GROUP BY 1, 2)
        SELECT CAST('0x' || substr(md5(chunk), 1, 15) AS BIGINT) AS chunk_fp,
          CAST(MIN(tok_len) AS BIGINT) AS tok_len,
          CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
          CAST(COUNT(*) AS BIGINT) AS n_occ,
          MIN(doc_id) AS example_doc
        FROM chunks GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
        ORDER BY chunk_fp""")),

    // Per-source dataset card: docs, tokens, token-length p50/p90 (from
    // distinct-length count grids), language entropy (q89's micro-log
    // identity over integer counts), exact-dup share (q19's fingerprint
    // domain) — every stat exact-integer-derived, one row per source.
    "q147_dataset_card" -> Q(
      (s, dir) => Quality.datasetCard(t(s, dir, "documents"),
          "source", "lang", "doc_id", "text")
        .orderBy("source"),
      Some("""WITH base AS (SELECT source, lang, doc_id,
            len(string_split_regex(lower(trim(text)), '\s+')) AS tlen,
            md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
          FROM documents),
        core AS (SELECT source, COUNT(*) AS n_docs, SUM(tlen) AS n_tokens
          FROM base GROUP BY 1),
        lc AS (SELECT source, tlen, COUNT(*) AS c FROM base GROUP BY 1, 2),
        lcum AS (SELECT source, tlen,
            SUM(c) OVER (PARTITION BY source ORDER BY tlen) AS cum,
            SUM(c) OVER (PARTITION BY source) AS n FROM lc),
        pct AS (SELECT source,
            CAST(MIN(CASE WHEN cum * 2 >= n THEN tlen END) AS INTEGER)
              AS tok_p50,
            CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN tlen END) AS INTEGER)
              AS tok_p90
          FROM lcum GROUP BY 1),
        lg AS (SELECT source, lang, COUNT(*) AS c FROM base GROUP BY 1, 2),
        ent AS (SELECT source, SUM(c) AS n,
            SUM(c * CAST(round(ln(c) * 1e6) AS BIGINT)) AS sclc
          FROM lg GROUP BY 1),
        ent2 AS (SELECT source,
            CAST(CAST(round(ln(n) * 1e6) AS BIGINT) AS DOUBLE)
              - CAST(sclc AS DOUBLE) / n AS lang_entropy_micro FROM ent),
        fpc AS (SELECT fp, COUNT(*) AS fcnt FROM base GROUP BY 1),
        dup AS (SELECT source,
            SUM(CASE WHEN fcnt >= 2 THEN 1 ELSE 0 END) AS dup_docs
          FROM base JOIN fpc USING (fp) GROUP BY 1)
        SELECT c.source, CAST(c.n_docs AS BIGINT) AS n_docs,
          CAST(c.n_tokens AS BIGINT) AS n_tokens,
          pct.tok_p50, pct.tok_p90, ent2.lang_entropy_micro,
          CAST(dup.dup_docs AS BIGINT) AS dup_docs,
          CAST(dup.dup_docs AS DOUBLE) / c.n_docs AS dup_share
        FROM core c JOIN pct USING (source) JOIN ent2 USING (source)
          JOIN dup USING (source)
        ORDER BY c.source""")),

    // Duplicate-token share per source: the fraction of each source's
    // tokens inside CDC chunks shared by >= 2 docs corpus-wide — the
    // impact metric that decides whether chunk-level dedup is worth
    // running on a source. Exact integer token counts from q146's
    // chunking; one double ratio.
    "q148_dup_token_share" -> Q(
      (s, dir) => TextOps.dupTokenShare(t(s, dir, "documents"), "doc_id",
          "source", "text", 4, 8)
        .withColumnRenamed("grp", "source")
        .orderBy("source"),
      Some("""WITH toks AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS l FROM documents),
        pos AS (SELECT doc_id, l, len(l) AS n,
            unnest(range(1, len(l) + 1)) AS p FROM toks),
        g AS (SELECT doc_id, p, l[p] AS tok,
            CASE WHEN p <= n - 3 THEN
              CAST('0x' || substr(md5(l[p] || ' ' || l[p+1] || ' ' ||
                l[p+2] || ' ' || l[p+3]), 1, 15) AS BIGINT)
            END AS gh
          FROM pos),
        f AS (SELECT doc_id, p, tok,
            CASE WHEN gh IS NOT NULL AND gh % 8 = 0 THEN 1 ELSE 0 END AS cut
          FROM g),
        c AS (SELECT doc_id, p, tok,
            SUM(cut) OVER (PARTITION BY doc_id ORDER BY p) AS chunk_id
          FROM f),
        chunks AS (SELECT doc_id, chunk_id,
            CAST('0x' || substr(md5(array_to_string(list(tok ORDER BY p), ' ')), 1, 15)
              AS BIGINT) AS chunk_fp,
            COUNT(*) AS tok_len
          FROM c GROUP BY 1, 2),
        shared AS (SELECT chunk_fp,
            COUNT(DISTINCT doc_id) >= 2 AS is_shared FROM chunks GROUP BY 1)
        SELECT d.source,
          CAST(SUM(ch.tok_len) AS BIGINT) AS n_tokens,
          CAST(SUM(CASE WHEN s.is_shared THEN ch.tok_len ELSE 0 END)
            AS BIGINT) AS dup_tokens,
          CAST(SUM(CASE WHEN s.is_shared THEN ch.tok_len ELSE 0 END)
            AS DOUBLE) / SUM(ch.tok_len) AS dup_share
        FROM chunks ch JOIN shared s USING (chunk_fp)
          JOIN documents d USING (doc_id)
        GROUP BY 1 ORDER BY 1""")),

    // Linear multi-touch attribution: each purchase's value split equally
    // across the user's views in the preceding 7 days, rolled up by the
    // view's hour-of-day — the multi-touch complement of q32's
    // last-touch. Credits are micro-units rounded per (purchase, hour)
    // cell, so the rollup is an order-independent BIGINT sum; the pair
    // join is equi on the user with the window as residual.
    "q149_linear_attribution" -> Q(
      (s, dir) => Analytics.linearAttribution(t(s, dir, "events"),
          "user_id", "ts", "event_type", "value", "view", "purchase", 7)
        .orderBy("view_hour"),
      Some("""WITH v AS (SELECT user_id AS u,
            epoch_us(CAST(ts AS TIMESTAMP)) AS vt,
            hour(CAST(ts AS TIMESTAMP)) AS view_hour
          FROM events WHERE event_type = 'view'),
        p AS (SELECT user_id AS u, event_id AS pid,
            epoch_us(CAST(ts AS TIMESTAMP)) AS pt,
            CAST(round(value * 1e6) AS BIGINT) AS v_micro
          FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        pairs AS (SELECT p.pid, p.v_micro, v.view_hour
          FROM p JOIN v ON p.u = v.u AND v.vt <= p.pt
            AND v.vt >= p.pt - 604800000000),
        per_purchase AS (SELECT pid, v_micro, COUNT(*) AS n_views
          FROM pairs GROUP BY 1, 2),
        per_cell AS (SELECT pr.view_hour,
            CAST(round(pp.v_micro * pr.c_h / pp.n_views) AS BIGINT)
              AS credit_micro
          FROM (SELECT pid, view_hour, COUNT(*) AS c_h
                FROM pairs GROUP BY 1, 2) pr
          JOIN per_purchase pp USING (pid))
        SELECT CAST(view_hour AS INTEGER) AS view_hour,
          CAST(COUNT(*) AS BIGINT) AS n_cells,
          CAST(SUM(credit_micro) AS BIGINT) AS attributed_micro
        FROM per_cell GROUP BY 1 ORDER BY 1""")),

    // Pairwise vocabulary Jaccard between sources — the lexical face of
    // the corpus-overlap audit (q144 embeddings, q116 shingles). Exact
    // counts; per-token pair fan-out bounded by the source count.
    // Duplication-quality interaction per source: Pearson r between a
    // document's near-dup cluster size (1 for singletons) and its quality
    // score — the corpus-health diagnostic ("is our duplicated content
    // also our low-quality content?") that decides whether dedup and
    // quality filtering are redundant or complementary. Exact integer
    // moments (both inputs are integers), q99's IEEE correlation
    // sequence; oracle replays clustering, the micro quality score, and
    // the moment algebra.
    "q154_dup_quality_corr" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = lshPairs(s, dir)
        val comps = Graphs.connectedComponents(pairs, "id_a", "id_b")
          .select(col("id").as("doc_id"), col("component"))
        val sizes = comps.groupBy("component").agg(count(lit(1)).as("__cs"))
        val deg = docs.select(col("doc_id"), col("source"))
          .join(comps, Seq("doc_id"), "left")
          .join(broadcast(sizes), Seq("component"), "left")
          .select(col("doc_id"), col("source"),
            coalesce(col("__cs"), lit(1L)).as("dup_degree"))
        val scored = TextOps.qualityFeatures(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality_score_micro"))
        Quality.groupedPearson(deg.join(scored, "doc_id"),
            "source", "dup_degree", "quality_score_micro")
          .withColumnRenamed("grp", "source")
          .orderBy("source")
      },
      Some(s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
               FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 1)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
               FROM toks WHERE len(l) >= 3),
        sh AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        prs AS (SELECT id_a, id_b FROM inter
                  JOIN sizes sa ON id_a = sa.doc_id
                  JOIN sizes sb ON id_b = sb.doc_id
                  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8),
        edges AS (SELECT id_a AS src, id_b AS dst FROM prs
                  UNION SELECT id_b, id_a FROM prs),
        walk(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst),
        comp AS (SELECT id AS doc_id, MIN(lbl) AS component FROM walk GROUP BY id),
        cs AS (SELECT component, COUNT(*) AS csize FROM comp GROUP BY 1),
        deg AS (SELECT d.doc_id, d.source,
            coalesce(cs.csize, 1) AS x
          FROM documents d LEFT JOIN comp c USING (doc_id)
          LEFT JOIN cs ON c.component = cs.component),
        ${qualityMicroSql("doc_id")},
        j AS (SELECT deg.source, deg.x, q.quality_score_micro AS y
          FROM deg JOIN __qm q USING (doc_id)
          WHERE deg.x IS NOT NULL AND q.quality_score_micro IS NOT NULL),
        m AS (SELECT source, COUNT(*) AS n,
            CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
            CAST(SUM(x*y) AS BIGINT) AS sxy,
            CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy
          FROM j GROUP BY 1)
        SELECT source, CAST(n AS BIGINT) AS n,
          CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
            END AS pearson_r
        FROM m ORDER BY source""")),

    // CLUSTER-AWARE train/val/test split: split membership is decided by
    // the hash of the near-dup CLUSTER id, not the doc id, so near-dups
    // can never straddle a split — preventing at assignment time the
    // leakage q141 audits. Singletons (their own cluster) split exactly
    // as q51 would split them. Oracle replays q55's clustering CTE plus
    // q51's md5 bucket on the component id.
    "q153_cluster_split" -> Q(
      (s, dir) => Curation.clusterAwareSplit(t(s, dir, "documents"),
          "doc_id", "text", 3, 64, 16, 0.8, "exp1",
          Seq("train" -> 0.90, "val" -> 0.05, "test" -> 0.05))
        .orderBy("doc_id"),
      Some("""WITH RECURSIVE toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
               FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 1)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
               FROM toks WHERE len(l) >= 3),
        sh AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        pairs AS (SELECT id_a, id_b FROM inter
                  JOIN sizes sa ON id_a = sa.doc_id
                  JOIN sizes sb ON id_b = sb.doc_id
                  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        walk(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst),
        comp AS (SELECT id AS doc_id, MIN(lbl) AS component FROM walk GROUP BY id),
        allc AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
                 FROM documents d LEFT JOIN comp c USING (doc_id)),
        b AS (SELECT doc_id, component,
            CAST('0x' || substr(md5('exp1:' || CAST(component AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS bkt
          FROM allc)
        SELECT doc_id, component,
          CASE WHEN bkt < 9000 THEN 'train'
               WHEN bkt < 9500 THEN 'val'
               ELSE 'test' END AS split
        FROM b ORDER BY doc_id""")),

    // Exact substring dedup, REMOVAL step (Lee et al. 2022): spans of >= 3
    // tokens that any other document repeats are cut and the survivors
    // re-joined — completes q94 (which only measures coverage) and closes
    // the case q146's fixed-position CDC chunks miss: a duplicated run
    // straddling a chunk boundary. Oracle replays the positional-gram
    // index (same md5-60 hash), the coverage union, and the ordered
    // string reassembly.
    "q152_substring_dedup" -> Q(
      (s, dir) => TextOps.substringDedup(t(s, dir, "documents"),
          "doc_id", "text", n = 3, maxDocFreq = 1)
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS l FROM documents),
        grams AS (SELECT doc_id, u.pos AS pos,
            CAST('0x' || substr(md5(u.g), 1, 15) AS BIGINT) AS gh
          FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(l) - 1, 1)),
              i -> {'pos': i - 1, 'g': l[i] || ' ' || l[i+1] || ' ' || l[i+2]})) AS u
            FROM toks WHERE len(l) >= 3)),
        rep AS (SELECT gh FROM (
            SELECT gh, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, gh FROM grams)
            GROUP BY gh) WHERE df > 1),
        cov AS (SELECT DISTINCT g.doc_id, tp FROM grams g JOIN rep USING (gh),
            LATERAL (SELECT unnest(range(g.pos, g.pos + 3)) AS tp) u),
        ptoks AS (SELECT doc_id, u.pos AS pos, u.tok AS tok
          FROM (SELECT doc_id, unnest(list_transform(range(1, len(l) + 1),
              i -> {'pos': i - 1, 'tok': l[i]})) AS u FROM toks)),
        kept AS (SELECT p.doc_id, p.pos, p.tok FROM ptoks p
          ANTI JOIN cov c ON c.doc_id = p.doc_id AND c.tp = p.pos),
        agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned,
            COUNT(*) AS n_kept FROM kept GROUP BY doc_id)
        SELECT t.doc_id, len(t.l) AS n_tokens,
          coalesce(a.cleaned, '') AS cleaned_text,
          CAST(len(t.l) - coalesce(a.n_kept, 0) AS BIGINT) AS removed_tokens
        FROM toks t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""")),

    "q151_source_vocab_jaccard" -> Q(
      (s, dir) => TextOps.vocabJaccard(t(s, dir, "documents"), "source",
          "text")
        .withColumnRenamed("grp_a", "source_a")
        .withColumnRenamed("grp_b", "source_b")
        .orderBy("source_a", "source_b"),
      Some("""WITH post AS (SELECT DISTINCT source,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        sizes AS (SELECT source, COUNT(*) AS sz FROM post GROUP BY 1),
        inter AS (SELECT a.source AS source_a, b.source AS source_b,
            COUNT(*) AS inter
          FROM post a JOIN post b
            ON a.tok = b.tok AND a.source < b.source
          GROUP BY 1, 2)
        SELECT source_a, source_b, CAST(inter AS BIGINT) AS inter,
          CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
          CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        FROM inter JOIN sizes sa ON source_a = sa.source
                   JOIN sizes sb ON source_b = sb.source
        ORDER BY source_a, source_b""")),

    // Language-ID accuracy per source with a Wilson 95% interval: the
    // classifier-eval staple (rate ± CI per slice). The interval is a
    // fixed closed-form IEEE sequence over exact (k, n) counts and the
    // literal z — sqrt is correctly rounded per IEEE, so the oracle
    // replays it bit-exactly; no t/normal CDFs involved.
    "q150_langid_accuracy_ci" -> Q(
      (s, dir) => Quality.groupedWilson(
          TextOps.langId(t(s, dir, "documents"), "text", "predicted"),
          "source", col("predicted") === col("lang"))
        .withColumnRenamed("grp", "source")
        .orderBy("source"),
      Some {
        val score = TextOps.langLexicons.map { case (lang, lex) =>
          val list = lex.map(w => s"'$w'").mkString(", ")
          s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t IN ($list))) AS s_$lang"
        }.mkString(", ")
        val langs = TextOps.langLexicons.map(_._1)
        val greatestAll = s"greatest(${langs.map("s_" + _).mkString(", ")})"
        val caseChain = langs.map(l => s"WHEN s_$l >= $greatestAll AND s_$l > 0 THEN '$l'")
          .mkString(" ")
        // CAST the z literal: DuckDB parses bare 1.96 as DECIMAL, making
        // 1.96*1.96 the exact 3.8416 rather than the IEEE double product
        // Spark computes — a 1-ulp drift in the interval
        val p = "CAST(k AS DOUBLE) / n"
        val zz = "(CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))"
        val denom = s"(1.0 + $zz / n)"
        val center = s"(($p + $zz / (2.0 * n)) / $denom)"
        val half = s"((1.96 * sqrt($p * (1.0 - $p) / n + $zz / (4.0 * n * n))) / $denom)"
        s"""WITH scored AS (SELECT source, lang, $score FROM documents),
          pred AS (SELECT source,
            (CASE $caseChain ELSE 'und' END) = lang AS hit FROM scored),
          agg AS (SELECT source, COUNT(*) AS n,
            SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS k FROM pred GROUP BY 1)
          SELECT source, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
            $p AS rate,
            greatest(CAST(0.0 AS DOUBLE), $center - $half) AS ci_lo,
            least(CAST(1.0 AS DOUBLE), $center + $half) AS ci_hi
          FROM agg ORDER BY source"""
      }),

    // Robust per-dimension scaling: lower median + raw MAD from grouped
    // counts — the windows run over (pos, value) count rows whose
    // partitions are bounded by the 1e7 GRID, never a whole-dimension
    // sort (the percentileGate argument applied to embeddings). One
    // far-outlier vector cannot inflate the scale the way it inflates
    // q117's std.
    "q121_robust_scale" -> Q(
      (s, dir) => Similarity.robustScaleEmbeddings(t(s, dir, "embeddings"),
          "vec_id", "embedding")
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id", "pos"),
      Some("""WITH c AS (SELECT vec_id AS id, u.pos AS pos, u.v AS v FROM (
            SELECT vec_id, unnest(list_transform(range(0, len(embedding)),
              i -> {'pos': i, 'v': round(CAST(embedding[i + 1] AS DOUBLE) * 1e7)})) AS u
            FROM embeddings)),
        cnt AS (SELECT pos, v, COUNT(*) AS c FROM c GROUP BY 1, 2),
        cum AS (SELECT pos, v,
            SUM(c) OVER (PARTITION BY pos ORDER BY v) AS cum,
            SUM(c) OVER (PARTITION BY pos) AS n FROM cnt),
        med AS (SELECT pos, MIN(CASE WHEN cum * 2 >= n THEN v END) AS med
          FROM cum GROUP BY pos),
        d AS (SELECT c.pos, abs(c.v - m.med) AS dv
          FROM c JOIN med m ON m.pos = c.pos),
        dc AS (SELECT pos, dv, COUNT(*) AS c FROM d GROUP BY 1, 2),
        dcum AS (SELECT pos, dv,
            SUM(c) OVER (PARTITION BY pos ORDER BY dv) AS cum,
            SUM(c) OVER (PARTITION BY pos) AS n FROM dc),
        mad AS (SELECT pos, MIN(CASE WHEN cum * 2 >= n THEN dv END) AS mad
          FROM dcum GROUP BY pos)
        SELECT c.id AS vec_id, c.pos AS pos,
          CASE WHEN mad.mad <> 0 THEN (c.v - med.med) / mad.mad END AS rz
        FROM c JOIN med ON med.pos = c.pos JOIN mad ON mad.pos = c.pos
        ORDER BY vec_id, c.pos""")),

    // HELD-OUT perplexity: deterministic 90/10 hash split, bigram LM
    // counts from the TRAIN side only, validation docs scored against
    // that model (q62 scores in-corpus, which rewards memorization —
    // every doc co-trains the model that scores it). Unseen bigrams and
    // contexts ride add-one smoothing through left joins.
    "q122_heldout_perplexity" -> Q(
      (s, dir) => {
        val split = graft.CacheScope.register(
          Sampling.hashSplit(t(s, dir, "documents"), "doc_id", "lm1",
            Seq("train" -> 0.90, "val" -> 0.10)))
        TextOps.bigramLmScoresOn(
            split.filter(col("split") === "train"),
            split.filter(col("split") === "val"), "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .withColumn("avg_lp",
            col("sum_lp_micro").cast("double") / col("n_bigrams").cast("double"))
          .orderBy("doc_id")
      },
      Some("""WITH b0 AS (SELECT doc_id, text,
            CAST('0x' || substr(md5('lm1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
              % 10000 AS bkt
          FROM documents),
        ttk AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS l
          FROM b0 WHERE bkt < 9000),
        tbg AS (SELECT unnest(list_transform(range(1, len(l)),
              i -> l[i] || ' ' || l[i+1])) AS bg
          FROM ttk WHERE len(l) >= 2),
        bgc AS (SELECT bg, COUNT(*) AS c12 FROM tbg GROUP BY bg),
        uni AS (SELECT w1, COUNT(*) AS c1
          FROM (SELECT unnest(l) AS w1 FROM ttk) GROUP BY w1),
        v AS (SELECT COUNT(*) AS v FROM uni),
        stk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
          FROM b0 WHERE bkt >= 9000),
        sb AS (SELECT doc_id, unnest(list_transform(range(1, len(l)),
              i -> l[i] || ' ' || l[i+1])) AS bg
          FROM stk WHERE len(l) >= 2),
        s2 AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM sb),
        lp AS (SELECT doc_id,
            CAST(round(ln(CAST(coalesce(c12, 0) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
            - CAST(round(ln(CAST(coalesce(c1, 0) + v.v AS DOUBLE)) * 1e6) AS BIGINT)
              AS lp_micro
          FROM s2 LEFT JOIN bgc USING (bg) LEFT JOIN uni USING (w1) CROSS JOIN v)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          CAST(SUM(lp_micro) AS BIGINT) AS sum_lp_micro,
          CAST(SUM(lp_micro) AS DOUBLE) / COUNT(*) AS avg_lp
        FROM lp GROUP BY doc_id ORDER BY doc_id""")),

    // Multi-epoch data schedule: budget 1.5x the corpus with a 2.5-epoch
    // repetition cap — water-fill over per-source CAPACITIES
    // (size x max-epochs) instead of raw sizes, q96's closed form
    // unchanged. Sources below the water level repeat fully; the rest
    // clip at it. epochs_micro replays as the exact ratioMicro floor.
    "q120_repetition_schedule" -> Q(
      (s, dir) => {
        val per = graft.CacheScope.register(t(s, dir, "documents")
          .select(col("source"), size(TextFns.tokens(col("text"))).as("__nt"))
          .groupBy("source").agg(sum(col("__nt")).as("n_tokens")))
        val total = per.agg(sum(col("n_tokens"))).first().getLong(0)
        Sampling.repetitionSchedule(per, "source", "n_tokens",
            math.floor(1.5 * total).toLong, 2500000L)
          .orderBy("source")
      },
      Some("""WITH per AS (SELECT source,
            CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT)
              AS n_tokens
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(floor(1.5 * SUM(n_tokens)) AS BIGINT) AS budget,
                       COUNT(*) AS nsrc FROM per),
        cap0 AS (SELECT source, n_tokens,
            CAST(floor(CAST(n_tokens AS DOUBLE) * 2500000 / 1e6) AS BIGINT)
              AS capacity
          FROM per),
        s AS (SELECT source, n_tokens, capacity,
            row_number() OVER (ORDER BY capacity, source) AS i,
            coalesce(SUM(capacity) OVER (ORDER BY capacity, source
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumprev
          FROM cap0),
        t AS (SELECT source, n_tokens, capacity, i,
            CAST(floor(CAST(budget - cumprev AS DOUBLE) / (nsrc - i + 1)) AS BIGINT)
              AS ti
          FROM s, tot),
        c AS (SELECT ti AS cap FROM t,
            (SELECT MIN(i) AS mi FROM t WHERE ti < capacity) m
          WHERE t.i = m.mi),
        a AS (SELECT t.source, t.n_tokens, t.capacity,
            CAST(CASE WHEN cap IS NULL THEN t.capacity
                 ELSE least(t.capacity, cap) END AS BIGINT) AS allocated
          FROM t LEFT JOIN c ON TRUE)
        SELECT source, n_tokens, capacity, allocated,
          CASE WHEN n_tokens <> 0 THEN
            CAST(floor((allocated * 2000000 + n_tokens) / (2 * n_tokens)) AS BIGINT)
          ELSE 0 END AS epochs_micro
        FROM a ORDER BY source""")))

  /** Shared DuckDB replay of the PQ codebook + encode (m=8 subspaces of 8
    * dims, ksub=32 sub-centroids over the 1e7 grid, seeded from the first
    * 32 vectors then refined by ONE Lloyd round with grid-requantized
    * means — the exact pipeline of Similarity.pqCodebooks): `cent` is the
    * trained codebook, `best` the (vec_id, j, code) encoding. */
  /** Shared oracle CTEs replaying [[TextOps.qualityFeatures]]' micro-unit
    * integer ratios over `documents`: `__qc` (raw exact counts) and
    * `__qm` (`n_tokens`, `punct_ratio_micro`, `stopword_ratio_micro`,
    * `quality_score_micro`, plus `extraCols` carried through). Mirrors
    * `ratioMicro` — floor((num·2e6 + den) / (2·den)) on exact integer
    * counts, one IEEE division, no decimal quantization — so every
    * consumer (q27 aggregates, q95 argmax, q97 percentile) replays the
    * engine bit-for-bit.
    */
  /** DuckDB replay of [[Similarity.mmrRerank]]: the same exact top-poolK
    * pool (quantized-exact cosines, (cos DESC, id) order), the same
    * micro-integer relevance/similarity grid, and the greedy selection
    * UNROLLED as a sel1..selK CTE chain (the q164 pageRankIterSql
    * pattern) — every argmax compares the identical exact integers with
    * ties on ascending id, so the two engines select the same sequence.
    */
  private def mmrOracleSql(queryId: Long, poolK: Int, selectK: Int,
      lambdaTenths: Int): String = {
    val lam = lambdaTenths
    val mu = 10 - lambdaTenths
    def qd(a: String, b: String): String =
      s"list_aggregate(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]), 'sum')"
    // every chained CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    // reference, and the sel-chain references sel_{k-1} three times —
    // un-materialized, the expansion is 3^K re-scans of the parquet
    val steps = (2 to selectK).map { k =>
      s"""pick$k AS MATERIALIZED (SELECT CAST($k AS BIGINT) AS step, c.id,
            c.rel AS rel_micro,
            $lam * c.rel - $mu * (SELECT MAX(s.sim) FROM sims s
              WHERE s.ia = c.id AND s.ib IN (SELECT id FROM sel${k - 1}))
              AS mmr_scaled
          FROM cands c WHERE c.id NOT IN (SELECT id FROM sel${k - 1})
          ORDER BY mmr_scaled DESC, c.id LIMIT 1),
        sel$k AS MATERIALIZED (SELECT * FROM sel${k - 1} UNION ALL
          SELECT step, id, rel_micro, mmr_scaled FROM pick$k)"""
    }.mkString(",\n      ")
    s"""WITH q AS MATERIALIZED (SELECT list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e7)) AS qv
          FROM embeddings WHERE vec_id = $queryId),
      c AS MATERIALIZED (SELECT vec_id AS id,
          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e7)) AS cv
        FROM embeddings WHERE vec_id <> $queryId),
      scored AS (SELECT id, cv,
          ${qd("cv", "qv")} / SQRT(${qd("qv", "qv")} * ${qd("cv", "cv")}) AS cos
        FROM c CROSS JOIN q),
      cands AS MATERIALIZED (SELECT id, cv, CAST(round(cos * 1e6) AS BIGINT) AS rel
        FROM scored WHERE cos IS NOT NULL
        QUALIFY row_number() OVER (ORDER BY cos DESC, id) <= $poolK),
      sims AS MATERIALIZED (SELECT a.id AS ia, b.id AS ib,
          CAST(round(${qd("a.cv", "b.cv")}
            / SQRT(${qd("a.cv", "a.cv")} * ${qd("b.cv", "b.cv")}) * 1e6) AS BIGINT) AS sim
        FROM cands a JOIN cands b ON a.id <> b.id),
      sel1 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS step, id, rel AS rel_micro,
          CAST($lam AS BIGINT) * rel AS mmr_scaled
        FROM cands ORDER BY rel DESC, id LIMIT 1),
      $steps
      SELECT step, id, rel_micro, mmr_scaled FROM sel$selectK ORDER BY step"""
  }

  private def qualityMicroSql(extraCols: String): String = {
    val punctM = "CASE WHEN n_chars <> 0 THEN " +
      "CAST(floor((n_punct*2000000 + n_chars) / (2*n_chars)) AS BIGINT) END"
    val stopM = "CASE WHEN n_tokens <> 0 THEN " +
      "CAST(floor((n_stop*2000000 + n_tokens) / (2*n_tokens)) AS BIGINT) END"
    s"""__qc AS (SELECT $extraCols,
          length(text) AS n_chars,
          len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
          length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS n_punct,
          len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                t -> t IN ('the', 'a', 'of', 'and'))) AS n_stop
        FROM documents),
      __qm AS (SELECT $extraCols, n_tokens,
          $punctM AS punct_ratio_micro,
          $stopM AS stopword_ratio_micro,
          least(n_tokens*10000, 1000000) - 2*($punctM) + ($stopM) AS quality_score_micro
        FROM __qc)"""
  }

  private def pqCommonSql =
    """WITH q AS (SELECT vec_id,
          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e7)) AS qv
        FROM embeddings),
      seeds AS (SELECT vec_id AS sid, qv AS sv FROM q WHERE vec_id < 32),
      sub AS (SELECT vec_id, j, list_slice(qv, CAST(j*8+1 AS INTEGER), CAST(j*8+8 AS INTEGER)) AS v
              FROM q, (SELECT unnest(range(0, 8)) AS j)),
      cent0 AS (SELECT sid, j, list_slice(sv, CAST(j*8+1 AS INTEGER), CAST(j*8+8 AS INTEGER)) AS c
               FROM seeds, (SELECT unnest(range(0, 8)) AS j)),
      scored0 AS (SELECT s.vec_id, s.j, c.sid AS code,
            list_sum(list_transform(c.c, x -> x*x))
              - 2.0 * list_inner_product(s.v, c.c) AS d2
          FROM sub s JOIN cent0 c ON s.j = c.j),
      best0 AS (SELECT vec_id, j, code FROM (
          SELECT vec_id, j, code,
                 row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
          FROM scored0) WHERE rn = 1),
      dims AS (SELECT b.j, b.code,
            unnest(list_transform(range(0, 8), p -> {'pos': p, 'v': s.v[CAST(p + 1 AS INTEGER)]})) AS u
          FROM best0 b JOIN sub s ON s.vec_id = b.vec_id AND s.j = b.j),
      means AS (SELECT j, code, u.pos AS pos, round(SUM(u.v) / COUNT(*)) AS gm
                FROM dims GROUP BY j, code, u.pos),
      trained AS (SELECT j, code, list(gm ORDER BY pos) AS cl
                  FROM means GROUP BY j, code),
      cent AS (SELECT c.sid, c.j, coalesce(t.cl, c.c) AS c
               FROM cent0 c LEFT JOIN trained t
                 ON t.j = c.j AND t.code = c.sid),
      scored AS (SELECT s.vec_id, s.j, c.sid AS code,
            list_sum(list_transform(c.c, x -> x*x))
              - 2.0 * list_inner_product(s.v, c.c) AS d2
          FROM sub s JOIN cent c ON s.j = c.j),
      best AS (SELECT vec_id, j, code FROM (
          SELECT vec_id, j, code,
                 row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
          FROM scored) WHERE rn = 1)"""

  /** DuckDB replay of [[graft.operators.Dedup.minhashNearDups]] (3-gram,
    * exact-Jaccard ≥ 0.8 confirm) — the shared candidate relation of the
    * round-7 graph queries. Same text as the q153/q154 oracles: candidates
    * = any shared shingle hash (a superset of the LSH bands), confirmed by
    * exact set Jaccard, so both engines derive the identical pair set.
    * Yields CTEs `toks, grams, sh, sizes, inter, prs(id_a, id_b)` and the
    * symmetrized `edges(src, dst)`.
    */
  // MATERIALIZED throughout (the q226/q171 lesson): sh is referenced 3x
  // (sizes + both sides of the pair join), sizes 2x, prs up to 3x, and
  // edges feeds RECURSIVE walks that would otherwise re-expand the whole
  // md5 shingle pipeline once per fixpoint iteration when inlined.
  private def nearDupEdgesCte(minJac: Double): String =
    s"""toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
               FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 1)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
               FROM toks WHERE len(l) >= 3),
        sh AS MATERIALIZED (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        prs AS MATERIALIZED (SELECT id_a, id_b,
                  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
                  FROM inter
                  JOIN sizes sa ON id_a = sa.doc_id
                  JOIN sizes sb ON id_b = sb.doc_id
                  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= $minJac),
        edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM prs
                  UNION SELECT id_b, id_a FROM prs)"""

  /** DuckDB replay of [[graft.operators.Graphs.kCore]]: `rounds` unrolled
    * peel rounds over the near-dup edge relation — each round keeps nodes
    * with current degree ≥ k and restricts the edge set to kept ends.
    * Once the set stabilizes a round is the identity, and the operator
    * REQUIRES convergence within the same bound, so fixed unrolling and
    * the early-exit loop reach the same fixpoint.
    */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    // MATERIALIZED (the kTrussOracleSql lesson): each e CTE is referenced
    // 3× by the next level — inlined, DuckDB re-expands the whole shingle
    // pipeline ~3^rounds times and the oracle never finishes
    val sb = new StringBuilder(
      s"WITH ${nearDupEdgesCte(0.8)},\n        e0 AS MATERIALIZED (SELECT src, dst FROM edges)")
    for (r <- 1 to rounds) sb.append(s""",
        k$r AS MATERIALIZED (SELECT src FROM e${r - 1} GROUP BY src HAVING COUNT(*) >= $k),
        e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
                JOIN k$r a ON e.src = a.src JOIN k$r b ON e.dst = b.src)""")
    sb.append(s"""
        SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM e$rounds GROUP BY src ORDER BY doc_id""")
    sb.toString
  }

  /** DuckDB replay of [[graft.operators.Graphs.harmonicCentrality]] over
    * the near-dup graph: level relation l_d = nodes reachable by a walk
    * of length exactly d (distinct per level, so walks never explode);
    * the shortest-path distance is the FIRST level a node appears in
    * (a shorter walk would contradict minimality), so MIN(d) over the
    * unioned levels is the exact BFS distance and the harmonic sum is
    * the same truncating 1e6 div d grid the operator uses.
    */
  private def harmonicOracleSql(maxDepth: Int): String = {
    val sb = new StringBuilder(
      s"WITH ${nearDupEdgesCte(0.8)},\n        l1 AS MATERIALIZED (SELECT DISTINCT src AS root, dst AS node FROM edges)")
    for (d <- 2 to maxDepth) sb.append(s""",
        l$d AS MATERIALIZED (SELECT DISTINCT p.root, e.dst AS node
               FROM l${d - 1} p JOIN edges e ON p.node = e.src)""")
    val unions = (1 to maxDepth)
      .map(d => s"SELECT root, node, $d AS d FROM l$d")
      .mkString("\n            UNION ALL ")
    sb.append(s""",
        dm AS (SELECT root, node, MIN(d) AS d FROM (
            $unions) lv WHERE node <> root GROUP BY 1, 2)
        SELECT root AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_reached,
          CAST(SUM(1000000 // d) AS BIGINT) AS harmonic_micro
        FROM dm GROUP BY 1 ORDER BY doc_id""")
    sb.toString
  }

  /** DuckDB replay of [[graft.operators.Dedup.bandPlannerEmpirical]]:
    * the same seeded-h60 signature families, the same per-band bucket
    * hash over comma-joined slot values, the same exact-Jaccard truth
    * set — every candidate set is re-derived in SQL, so the sweep's
    * recall/precision numbers are value-pinned, not just spot-checked.
    */
  private def bandPlannerOracleSql(k: Int, minJac: Double): String = {
    import graft.functions.Hashing.h60Sql
    val sigCols = (0 until k)
      .map(i => s"MIN(${h60Sql("CAST(sh AS VARCHAR)", i)}) AS s$i")
      .mkString(",\n            ")
    val sb = new StringBuilder(
      s"""WITH toks AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\\s+') AS l
          FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(l) - 1, 1)),
              i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
          FROM toks WHERE len(l) >= 3),
        sh AS MATERIALIZED (SELECT doc_id,
            CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz
          FROM sh GROUP BY 1),
        sig AS MATERIALIZED (SELECT doc_id,
            $sigCols
          FROM sh GROUP BY doc_id),
        truth AS MATERIALIZED (SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2) i
          JOIN sizes sa ON id_a = sa.doc_id
          JOIN sizes sb ON id_b = sb.doc_id
          WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= $minJac)""")
    val splits = (1 to k).filter(k % _ == 0)
    splits.foreach { b =>
      val r = k / b
      val bandSelects = (0 until b).map { j =>
        val joined = (j * r until (j + 1) * r)
          .map(i => s"CAST(s$i AS VARCHAR)").mkString(" || ',' || ")
        s"SELECT doc_id, $j AS band, ${h60Sql(joined, j)} AS bucket FROM sig"
      }.mkString("\n            UNION ALL ")
      sb.append(s""",
        bands_$b AS (
            $bandSelects),
        cand_$b AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a,
            b.doc_id AS id_b
          FROM bands_$b a JOIN bands_$b b
            ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id),
        stat_$b AS (SELECT
            CAST(COUNT(CASE WHEN c.id_a IS NOT NULL THEN 1 END) AS BIGINT)
              AS n_cand,
            CAST(COUNT(CASE WHEN t.id_a IS NOT NULL THEN 1 END) AS BIGINT)
              AS n_truth,
            CAST(COUNT(CASE WHEN c.id_a IS NOT NULL
              AND t.id_a IS NOT NULL THEN 1 END) AS BIGINT) AS tp
          FROM cand_$b c
          FULL OUTER JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b)""")
    }
    val finals = splits.map { b =>
      val r = k / b
      val sStarMicro = math.round(math.pow(1.0 / b, 1.0 / r) * 1e6)
      s"""SELECT $b AS bands, $r AS rows_per_band,
          CAST($sStarMicro AS BIGINT) AS s_star_micro,
          n_cand, n_truth, tp,
          CASE WHEN n_truth > 0 THEN (tp * 1000000) // n_truth END
            AS recall_micro,
          CASE WHEN n_cand > 0 THEN (tp * 1000000) // n_cand END
            AS precision_micro
        FROM stat_$b"""
    }.mkString("\n        UNION ALL ")
    sb.append(s"\n        $finals\n        ORDER BY bands")
    sb.toString
  }

  /** DuckDB replay of [[graft.operators.Graphs.betweenness]] over an
    * `edges(src, dst)` CTE: walk levels give exact BFS distances
    * (min-first-appearance, the harmonic trick), σ accumulates level by
    * level over predecessor frontiers, and the dependency pass runs the
    * levels backward with the identical truncating
    * (σv·(1e6+δw)) // σw term — every δ an exact BIGINT.
    */
  private def betweennessOracleSql(edgesCte: String, maxDepth: Int): String = {
    val sb = new StringBuilder(s"WITH $edgesCte,\n" +
      "        l1 AS MATERIALIZED (SELECT DISTINCT src AS root, dst AS node FROM edges)")
    for (d <- 2 to maxDepth) sb.append(s""",
        l$d AS MATERIALIZED (SELECT DISTINCT p.root, e.dst AS node
               FROM l${d - 1} p JOIN edges e ON p.node = e.src)""")
    val unions = (1 to maxDepth)
      .map(d => s"SELECT root, node, $d AS d FROM l$d")
      .mkString("\n            UNION ALL ")
    sb.append(s""",
        dm AS MATERIALIZED (SELECT root, node, MIN(d) AS d FROM (
            $unions) lv WHERE node <> root GROUP BY 1, 2),
        sig_0 AS (SELECT DISTINCT src AS root, src AS node,
            CAST(1 AS BIGINT) AS sigma FROM edges)""")
    for (d <- 1 to maxDepth) sb.append(s""",
        sig_$d AS MATERIALIZED (SELECT m.root, m.node,
            CAST(SUM(sp.sigma) AS BIGINT) AS sigma
          FROM dm m JOIN edges e ON m.node = e.dst
          JOIN sig_${d - 1} sp ON sp.root = m.root AND sp.node = e.src
          WHERE m.d = $d GROUP BY 1, 2)""")
    sb.append(s""",
        del_$maxDepth AS (SELECT root, node, sigma,
          CAST(0 AS BIGINT) AS delta FROM sig_$maxDepth)""")
    for (d <- (maxDepth - 1) to 1 by -1) sb.append(s""",
        del_$d AS MATERIALIZED (SELECT c.root, c.node, c.sigma,
            COALESCE(SUM((c.sigma * (1000000 + w.delta)) // w.sigma),
              0) AS delta
          FROM sig_$d c
          LEFT JOIN edges e ON c.node = e.src
          LEFT JOIN del_${d + 1} w ON w.root = c.root AND w.node = e.dst
          GROUP BY 1, 2, 3)""")
    val delUnion = (1 to maxDepth)
      .map(d => s"SELECT node, delta FROM del_$d")
      .mkString("\n            UNION ALL ")
    sb.append(s"""
        SELECT node AS id, CAST(SUM(delta) AS BIGINT) AS betweenness_micro,
          CAST(SUM(delta) AS DOUBLE) / 2.0 / 1e6 AS betweenness
        FROM ($delUnion) dl
        GROUP BY 1 ORDER BY id""")
    sb.toString
  }

  /** DuckDB replay of [[graft.operators.Similarity.matryoshkaRecall]]:
    * the q24 quantized-cosine top-k, once over the full vector length
    * and once per prefix truncation, intersected per dim. Same
    * (cos DESC, id) deterministic ranking both engines replay.
    */
  private def matryoshkaOracleSql(k: Int, dims: Seq[Int]): String = {
    def qd(a: String, n: String): String =
      s"""list_aggregate(list_transform(range(1, $n),
            i -> round(CAST($a[i] AS DOUBLE) * 1e7) * round(CAST($a[i] AS DOUBLE) * 1e7)), 'sum')"""
    def dot(n: String): String =
      s"""list_aggregate(list_transform(range(1, $n),
            i -> round(CAST(q.qv[i] AS DOUBLE) * 1e7) * round(CAST(c.cv[i] AS DOUBLE) * 1e7)), 'sum')"""
    def top(nExpr: String, name: String): String =
      s"""$name AS MATERIALIZED (SELECT query_id, id FROM (
          SELECT query_id, id, row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, id) AS rn
          FROM (SELECT q.query_id, c.id,
              ${dot(nExpr)} / SQRT(${qd("q.qv", nExpr)} * ${qd("c.cv", nExpr)}) AS cos
            FROM q JOIN c ON q.query_id <> c.id) s) r WHERE rn <= $k)"""
    val tops = (top("len(q.qv) + 1", "top_full") +:
      dims.sorted.map(d => top(s"${d + 1}", s"top_$d"))).mkString(",\n        ")
    val ovs = dims.sorted.map(d =>
      s"""ov_$d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM top_$d t
          JOIN top_full f ON t.query_id = f.query_id AND t.id = f.id)""")
      .mkString(",\n        ")
    val finals = dims.sorted.map(d =>
      s"""SELECT $d AS dims,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM q) AS n_queries,
          n AS n_overlap,
          (n * 1000000) // ((SELECT CAST(COUNT(*) AS BIGINT) FROM q) * $k)
            AS recall_micro
        FROM ov_$d""").mkString("\n        UNION ALL ")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS id, embedding AS cv FROM embeddings),
        $tops,
        $ovs
        $finals
        ORDER BY dims"""
  }

  /** DuckDB replay of [[graft.operators.Graphs.kTruss]]: `rounds`
    * unrolled support-and-peel rounds over the canonical near-dup edge
    * relation — each round computes per-edge triangle support via the
    * wedge join over the CURRENT edge set's symmetric adjacency and
    * keeps edges with support ≥ k−2; a final support pass annotates the
    * converged set. Convergence within the bound is REQUIRED by the
    * operator, so fixed unrolling reaches the same fixpoint.
    */
  private def kTrussOracleSql(k: Int, rounds: Int): String = {
    // MATERIALIZED: each e/a CTE is referenced 3×/2× per round — inlined
    // they re-expand the whole shingle pipeline per reference and exhaust
    // DuckDB's file-handle budget on the unrolled plan
    val sb = new StringBuilder(
      s"WITH ${nearDupEdgesCte(0.8)},\n        e0 AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM prs)")
    for (r <- 0 until rounds) sb.append(s""",
        a$r AS MATERIALIZED (SELECT u AS ctr, v AS nb FROM e$r
                UNION ALL SELECT v, u FROM e$r),
        s$r AS MATERIALIZED (SELECT e.u, e.v, COUNT(*) AS sup FROM e$r e
                JOIN a$r x ON e.u = x.ctr
                JOIN a$r y ON e.v = y.ctr AND x.nb = y.nb
                GROUP BY 1, 2),
        e${r + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e$r e
                JOIN s$r s ON e.u = s.u AND e.v = s.v
                WHERE s.sup >= ${k - 2})""")
    sb.append(s""",
        af AS MATERIALIZED (SELECT u AS ctr, v AS nb FROM e$rounds
               UNION ALL SELECT v, u FROM e$rounds),
        sf AS MATERIALIZED (SELECT e.u, e.v, COUNT(*) AS sup FROM e$rounds e
               JOIN af x ON e.u = x.ctr
               JOIN af y ON e.v = y.ctr AND x.nb = y.nb
               GROUP BY 1, 2)
        SELECT e.u AS id_a, e.v AS id_b,
          CAST(COALESCE(s.sup, 0) AS BIGINT) AS support
        FROM e$rounds e LEFT JOIN sf s ON e.u = s.u AND e.v = s.v
        ORDER BY id_a, id_b""")
    sb.toString
  }

  /** DuckDB replay of [[graft.operators.Graphs.personalizedPageRank]]
    * over the near-dup graph with seeds `id < seedMax`: the pageRank
    * unrolling with teleport and dangling mass directed at seeds only.
    */
  private def pprOracleSql(seedMax: Long, iters: Int): String = {
    val scale = 1000000000000L
    val seedShare = s"CASE WHEN u.id < $seedMax THEN " +
      s"(15 * ($scale // (SELECT ns FROM nn))) // 100 ELSE 0 END"
    val sb = new StringBuilder(
      s"""WITH ${nearDupEdgesCte(0.8)},
        nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
        deg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS outdeg
          FROM edges GROUP BY 1),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM nodes
          WHERE id < $seedMax),
        r0 AS (SELECT id, CASE WHEN id < $seedMax
            THEN $scale // (SELECT ns FROM nn) ELSE 0 END AS r FROM nodes)""")
    for (i <- 1 to iters) sb.append(s""",
        d$i AS (SELECT COALESCE(SUM(r), 0) AS dt
          FROM r${i - 1} LEFT JOIN deg USING (id) WHERE outdeg IS NULL),
        in$i AS (SELECT e.dst AS id, SUM(rp.r // dg.outdeg) AS s
          FROM edges e
          JOIN r${i - 1} rp ON e.src = rp.id
          JOIN deg dg ON e.src = dg.id
          GROUP BY 1),
        r$i AS (SELECT u.id,
            ($seedShare)
            + (85 * (COALESCE(i.s, 0)
                + CASE WHEN u.id < $seedMax
                  THEN (SELECT dt FROM d$i) // (SELECT ns FROM nn)
                  ELSE 0 END)) // 100 AS r
          FROM nodes u LEFT JOIN in$i i ON u.id = i.id)""")
    sb.append(s"""
        SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_micro,
          id < $seedMax AS is_seed
        FROM r$iters ORDER BY doc_id""")
    sb.toString
  }

  /** One unrolled fixed-point PageRank iteration (oracle side) — integer
    * arithmetic identical to [[graft.operators.Graphs.pageRank]]:
    * contribution `r // outdeg`, damping `(85 * x) // 100`, dangling mass
    * redistributed as `total // n`.
    */
  private def pageRankIterSql(prev: String, cur: String): String =
    s"""d$cur AS (SELECT COALESCE(SUM(r), 0) AS dt
          FROM r$prev LEFT JOIN deg USING (id) WHERE outdeg IS NULL),
        in$cur AS (SELECT e.dst AS id, SUM(rp.r // dg.outdeg) AS s
          FROM edges e
          JOIN r$prev rp ON e.src = rp.id
          JOIN deg dg ON e.src = dg.id
          GROUP BY 1),
        r$cur AS (SELECT u.id,
            (15 * (1000000000000 // (SELECT n FROM nn))) // 100
            + (85 * (COALESCE(i.s, 0)
                     + (SELECT dt FROM d$cur) // (SELECT n FROM nn))) // 100 AS r
          FROM r0 u LEFT JOIN in$cur i USING (id))"""

  /** DuckDB replay of [[graft.operators.Temporal.ewmaTrailing]]: the same
    * `depth` shared-window lag() terms, the same power-of-two fixed-point
    * numerator/denominator, one final double division.
    */
  private def ewmaOracleSql(depth: Int): String = {
    val num = (0 until depth).map(j =>
      s"COALESCE(lag(vm, $j) OVER w * ${1L << (depth - 1 - j)}, 0)")
      .mkString(" + ")
    val den = (0 until depth).map(j =>
      s"(CASE WHEN lag(vm, $j) OVER w IS NOT NULL THEN ${1L << (depth - 1 - j)} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH q AS (SELECT user_id, event_id, value,
          CAST(round(value * 1e6) AS BIGINT) AS vm, ts FROM events),
        e AS (SELECT user_id, event_id, value,
          CAST($num AS BIGINT) AS num, CAST($den AS BIGINT) AS den
          FROM q
          WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id))
        SELECT user_id, event_id, value,
          CAST(num AS DOUBLE) / CAST(den * 1000000 AS DOUBLE) AS ewma
        FROM e ORDER BY event_id"""
  }

  private val registryTail: Map[String, Q] = Map(
    // ----- Graph centrality over the near-dup graph --------------------------

    // Fixed-point PageRank (3 power iterations, damping 0.85) over the
    // MinHash near-dup graph: a centrality signal for canonical-document
    // selection inside dup neighborhoods (bridges outrank leaves, which
    // degree-count canonical picking cannot see). Integer micro-unit
    // arithmetic end to end, so the DuckDB replay is bit-exact — see
    // Graphs.pageRank for the scale/exactness contract.
    "q155_pagerank" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = lshPairs(s, dir)
        Graphs.pageRank(docs.select(col("doc_id")), "doc_id",
            pairs, "id_a", "id_b", iters = 3)
          .orderBy(desc("rank_micro"), col("doc_id"))
      },
      Some(s"""WITH ${nearDupEdgesCte(0.8)},
        deg AS (SELECT src AS id, COUNT(*) AS outdeg FROM edges GROUP BY 1),
        nn AS (SELECT COUNT(*) AS n FROM documents),
        r0 AS (SELECT doc_id AS id,
            1000000000000 // (SELECT n FROM nn) AS r FROM documents),
        ${pageRankIterSql("0", "1")},
        ${pageRankIterSql("1", "2")},
        ${pageRankIterSql("2", "3")}
        SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_micro FROM r3
        ORDER BY rank_micro DESC, doc_id""")),

    // Fuzzy record linkage: loose exact-Jaccard blocking (≥ 0.5,
    // lossless prefix-filtered postings join) re-scored by graft's native
    // codegen'd jaro_winkler expression, keep ≥ 0.9 — the record-linkage
    // confirm that tolerates transpositions and boosts shared prefixes
    // where plain edit distance (q103) charges every edit equally. The
    // oracle runs DuckDB's own jaro_winkler_similarity, which the kernel
    // matches bit-exact (10k-pair fixture, JaroWinklerSpec) —
    // similarities hash-compare raw.
    "q156_jw_linkage" -> Q(
      (s, dir) => Dedup.jaroWinklerLinkage(t(s, dir, "documents"),
          "doc_id", "text", 3, 0.5, 0.9)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH ${nearDupEdgesCte(0.5)},
        nt AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
               FROM documents)
        SELECT p.id_a, p.id_b, p.jaccard,
          jaro_winkler_similarity(a.t, b.t) AS jw
        FROM prs p JOIN nt a ON a.doc_id = p.id_a JOIN nt b ON b.doc_id = p.id_b
        WHERE jaro_winkler_similarity(a.t, b.t) >= 0.9
        ORDER BY id_a, id_b""")),

    // EWMA smoothing (α = 1/2, 24-deep trailing horizon) per user over the
    // event stream — the time-series denoiser for drifting per-user
    // metrics. Power-of-two weights + micro-unit fixed point keep both
    // engines' arithmetic exact until the single final double division;
    // see Temporal.ewmaTrailing for the scheme and the one-window-exchange
    // scale shape.
    "q157_ewma" -> Q(
      (s, dir) => Temporal.ewmaTrailing(t(s, dir, "events"),
          "user_id", "ts", "event_id", "value", depth = 24)
        .select("user_id", "event_id", "value", "ewma")
        .orderBy("event_id"),
      Some(ewmaOracleSql(24))),

    // Pareto frontier (skyline) on the maximize-(token count, quality
    // score) plane: the multi-criteria curation shortlist no single
    // weighted score can express. The operator never windows the corpus
    // globally — bucketed cross-bucket pruning + partitioned windows (see
    // Curation.paretoFrontier2D); the oracle is the O(n²) NOT EXISTS
    // dominance definition, which only the gate scale can afford.
    "q158_pareto_frontier" -> Q(
      (s, dir) => {
        val scored = TextOps.qualityFeatures(t(s, dir, "documents"),
            "doc_id", "text")
          .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
            col("quality_score_micro"))
        Curation.paretoFrontier2D(scored, "n_tokens", "quality_score_micro")
          .orderBy("doc_id")
      },
      Some(s"""WITH ${qualityMicroSql("doc_id")},
        m AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                CAST(quality_score_micro AS BIGINT) AS quality_score_micro
              FROM __qm
              WHERE n_tokens IS NOT NULL AND quality_score_micro IS NOT NULL)
        SELECT doc_id, n_tokens, quality_score_micro
        FROM m t
        WHERE NOT EXISTS (SELECT 1 FROM m o
          WHERE o.n_tokens >= t.n_tokens
            AND o.quality_score_micro >= t.quality_score_micro
            AND (o.n_tokens > t.n_tokens
                 OR o.quality_score_micro > t.quality_score_micro))
        ORDER BY doc_id""")),

    // Z-ORDER curve profile: Morton-interleave (customer grid, order-day
    // grid) and aggregate zone-map stats per 64th of the curve — the
    // z-order layout claim: every curve range carries a TIGHT min/max box
    // on BOTH dimensions at once (a single-column sort leaves the other
    // column's per-file range spanning the domain, pruning nothing). The
    // oracle replays the identical 32-term shift/mask interleave, so the
    // driver gate pins Warehouse.morton's bit math. Map-side only + one
    // 64-group aggregate at any scale.
    "q159_zorder_profile" -> Q(
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val day = datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("long")
        // min/max grid bounds: two tiny driver scalars (integers —
        // deterministic; the precedent is pageRank's dangling-mass agg)
        val mm = orders.agg(
          min(col("o_custkey")).as("xl"), max(col("o_custkey")).as("xh"),
          min(day).as("yl"), max(day).as("yh")).first()
        val (xl, xh, yl, yh) =
          (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
        val xgd = expr(s"((o_custkey - $xl) * 65535) div ${math.max(xh - xl, 1L)}")
        val ygd = expr(
          s"((datediff(CAST(o_orderdate AS DATE), DATE'1992-01-01') - $yl) * 65535) div ${math.max(yh - yl, 1L)}")
        orders
          .select(Warehouse.morton(xgd.cast("long"), ygd.cast("long"), 16).as("z"),
            xgd.cast("long").as("x"), ygd.cast("long").as("y"))
          .groupBy(expr("z div 67108864").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("x")).as("min_x"), max(col("x")).as("max_x"),
            min(col("y")).as("min_y"), max(col("y")).as("max_y"))
          .orderBy("bucket")
      },
      Some {
        val terms = (0 until 16).flatMap(i => Seq(
          s"(((x >> $i) & 1) << ${2 * i})",
          s"(((y >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
        s"""WITH d AS (SELECT o_custkey AS ck,
              date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dy
            FROM orders),
          mm AS (SELECT MIN(ck) AS xl, MAX(ck) AS xh, MIN(dy) AS yl, MAX(dy) AS yh
                 FROM d),
          g AS (SELECT
              CAST(((ck - (SELECT xl FROM mm)) * 65535)
                // greatest((SELECT xh - xl FROM mm), 1) AS BIGINT) AS x,
              CAST(((dy - (SELECT yl FROM mm)) * 65535)
                // greatest((SELECT yh - yl FROM mm), 1) AS BIGINT) AS y
            FROM d),
          z AS (SELECT x, y, ($terms) AS z FROM g)
          SELECT z // 67108864 AS bucket, COUNT(*) AS n,
            MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
          FROM z GROUP BY 1 ORDER BY 1"""
      }),

    // Logistic quality calibrator (distributed Newton/IRLS, 4 iterations):
    // fits P(lang = 'en' | quality score, log token count) over the corpus
    // — the one-probability replacement for hand-weighted filter scores.
    // An iterative optimizer's COEFFICIENTS aren't expressible as one
    // replayable SQL query, so the query emits the optimizer's CONTRACT
    // per iteration (round-7 verdict #4): every Newton iterate's exact
    // nano-grid log-likelihood stays at or above the FIRST iterate's,
    // within the grid's rounding-noise bound (1000 + 2n nano — once the
    // fixpoint is reached successive lls jitter by ~n half-ulps of the
    // 1e-9 grid, so strict per-step monotonicity is sf-dependent; the
    // improvement-over-start form is scale-free and still catches a
    // diverging optimizer, whose dips are orders of magnitude larger).
    // Coefficient values, cross-partitioning bit-identity, and the
    // local-reference match stay spec-enforced in QualitySpec.
    "q160_logistic_calibrator" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val f = TextOps.qualityFeatures(docs, "doc_id", "text")
          .select(col("doc_id"),
            (col("quality_score_micro").cast("double") / 1e6).as("q"),
            log(col("n_tokens").cast("double") + 1.0).as("lt"))
        val labeled = docs.select(col("doc_id"),
            (col("lang") === "en").cast("double").as("y"))
          .join(f, "doc_id")
        val fit = Quality.logisticCalibrator(labeled, "y", Seq("q", "lt"),
          iters = 4)
        val first = fit.filter(col("iter") === 1)
          .select(col("loglik_nano").as("__ll1"))
        val n = labeled.agg(count(lit(1)).as("__n"))
        fit.crossJoin(broadcast(first)).crossJoin(broadcast(n))
          .select(col("iter"),
            (col("iter") === 1 ||
              col("loglik_nano") >= col("__ll1") - (lit(1000L) + lit(2L) * col("__n")))
              .as("loglik_improved_ok"))
          .orderBy("iter")
      },
      Some("""SELECT CAST(range + 1 AS INT) AS iter,
        true AS loglik_improved_ok FROM range(4) ORDER BY iter""")),

    // BM25-ranked keyword search over the corpus (Okapi, k1=1.2 b=0.75):
    // the retrieval face q58's TF-IDF vectors don't expose. The rational
    // constants are cleared to integer coefficients so the tf-saturation
    // is one pinned IEEE op sequence over exact integers; idf rides the
    // micro-log grid; per-term contributions round ONCE then sum as
    // BIGINT. The oracle mirrors the identical expression tree.
    "q161_bm25_search" -> Q(
      (s, dir) => TextOps.bm25Search(t(s, dir, "documents"),
          "doc_id", "text", Seq("hash", "join", "vector"), 20)
        .withColumnRenamed("id", "doc_id"),
      Some("""WITH base AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS l
          FROM documents),
        d AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS dl, l FROM base),
        nn AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS s FROM d),
        hits AS (SELECT doc_id, dl, unnest(l) AS term FROM d),
        tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM hits
               WHERE term IN ('hash', 'join', 'vector')
               GROUP BY 1, 2, 3),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        idf AS (SELECT term,
            CAST(round(ln((((CAST((SELECT n FROM nn) AS DOUBLE) - CAST(df AS DOUBLE)) + 0.5)
                           / (CAST(df AS DOUBLE) + 0.5)) + 1.0) * 1e6) AS BIGINT) AS idf_micro
          FROM df),
        scored AS (SELECT tf.doc_id,
            CAST(round((CAST(idf_micro AS DOUBLE) * ((22.0 * CAST(tf AS DOUBLE)) * CAST((SELECT s FROM nn) AS DOUBLE)))
              / ((((10.0 * CAST((SELECT s FROM nn) AS DOUBLE)) * CAST(tf AS DOUBLE))
                  + (3.0 * CAST((SELECT s FROM nn) AS DOUBLE)))
                 + ((9.0 * CAST((SELECT n FROM nn) AS DOUBLE)) * CAST(dl AS DOUBLE)))) AS BIGINT) AS c
          FROM tf JOIN idf USING (term))
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score_micro,
          COUNT(*) AS n_terms
        FROM scored GROUP BY 1
        ORDER BY score_micro DESC, doc_id LIMIT 20""")),

    // Triangle census of the near-dup graph: per-doc triangle count,
    // degree, and local clustering coefficient — separates genuine
    // quasi-clique dup neighborhoods (coefficient ~1) from template hubs
    // that glue unrelated docs (high degree, no closure). Exact ordered
    // a<b<c path-closure joins; all counts BIGINT; coefficient on the
    // half-up micro grid.
    "q162_triangle_census" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = lshPairs(s, dir)
        Graphs.triangleStats(pairs, "id_a", "id_b")
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH ${nearDupEdgesCte(0.8)},
        deg AS (SELECT id, COUNT(*) AS degree FROM (
            SELECT id_a AS id FROM prs UNION ALL SELECT id_b FROM prs)
          GROUP BY 1),
        tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
          FROM prs e1
          JOIN prs e2 ON e1.id_b = e2.id_a
          JOIN prs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
        pern AS (SELECT id, COUNT(*) AS t FROM (
            SELECT a AS id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
          GROUP BY 1)
        SELECT deg.id AS doc_id, CAST(degree AS BIGINT) AS degree,
          CAST(COALESCE(t, 0) AS BIGINT) AS n_triangles,
          CASE WHEN degree >= 2 THEN
            CAST(floor((COALESCE(t, 0) * 2000000 + (degree * (degree - 1)) // 2)
              / (((degree * (degree - 1)) // 2) * 2)) AS BIGINT)
          END AS clustering_micro
        FROM deg LEFT JOIN pern USING (id)
        ORDER BY doc_id""")),

    // Mutual information lang × source with marginal entropies and NMI —
    // "how much does a document's source determine its language?" — the
    // categorical-association audit (q99's Pearson can't see unordered
    // facets). Exact micro-log-identity integer sums (the q110 scheme);
    // NMI is one pinned IEEE division/sqrt over the exact sums.
    "q163_mutual_information" -> Q(
      (s, dir) => Quality.mutualInformation(t(s, dir, "documents"),
        "lang", "source"),
      Some("""WITH base AS (SELECT lang AS a, source AS b FROM documents
               WHERE lang IS NOT NULL AND source IS NOT NULL),
        nn AS (SELECT COUNT(*) AS n FROM base),
        lnn AS (SELECT CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS v
                FROM nn),
        joint AS (SELECT a, b, COUNT(*) AS nab FROM base GROUP BY 1, 2),
        ma AS (SELECT a, COUNT(*) AS na FROM base GROUP BY 1),
        mb AS (SELECT b, COUNT(*) AS nb FROM base GROUP BY 1),
        mi AS (SELECT CAST(SUM(nab * ((CAST(round(ln(CAST(nab AS DOUBLE)) * 1e6) AS BIGINT)
                 + (SELECT v FROM lnn))
                 - CAST(round(ln(CAST(na AS DOUBLE)) * 1e6) AS BIGINT)
                 - CAST(round(ln(CAST(nb AS DOUBLE)) * 1e6) AS BIGINT))) AS BIGINT)
               AS mi_micro_sum
          FROM joint JOIN ma USING (a) JOIN mb USING (b)),
        ha AS (SELECT CAST(SUM(na * ((SELECT v FROM lnn)
                 - CAST(round(ln(CAST(na AS DOUBLE)) * 1e6) AS BIGINT))) AS BIGINT)
               AS h_a_micro_sum FROM ma),
        hb AS (SELECT CAST(SUM(nb * ((SELECT v FROM lnn)
                 - CAST(round(ln(CAST(nb AS DOUBLE)) * 1e6) AS BIGINT))) AS BIGINT)
               AS h_b_micro_sum FROM mb)
        SELECT (SELECT n FROM nn) AS n, mi_micro_sum,
          h_a_micro_sum, h_b_micro_sum,
          CASE WHEN h_a_micro_sum > 0 AND h_b_micro_sum > 0 THEN
            CAST(mi_micro_sum AS DOUBLE)
              / sqrt(CAST(h_a_micro_sum AS DOUBLE) * CAST(h_b_micro_sum AS DOUBLE))
          END AS nmi
        FROM mi CROSS JOIN ha CROSS JOIN hb""")),

    // Canonical-document election by PageRank: near-dup components (q55's
    // clustering) elect the member with the highest q155 centrality as
    // survivor (tie → min doc id) — the composition that replaces
    // "keep lowest id" with "keep the most-linked representative", which
    // on bridge-shaped components keeps the doc nearest the cluster core.
    // The oracle composes the two already-gated CTE families (fixed-point
    // rank iterations + recursive min-label components).
    "q164_pagerank_survivors" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // pairs feed BOTH the CC fixpoint and pageRank — the shared
        // builder's cache keeps the LSH pipeline to one execution
        val pairs = lshPairs(s, dir)
        val comps = Graphs.connectedComponents(pairs, "id_a", "id_b")
        val ranks = Graphs.pageRank(docs.select(col("doc_id")), "doc_id",
          pairs, "id_a", "id_b", iters = 3)
        Curation.electSurvivors(comps, ranks, "doc_id", "rank_micro")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${nearDupEdgesCte(0.8)},
        walk(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst),
        comp AS (SELECT id AS doc_id, MIN(lbl) AS component FROM walk GROUP BY id),
        deg AS (SELECT src AS id, COUNT(*) AS outdeg FROM edges GROUP BY 1),
        nn AS (SELECT COUNT(*) AS n FROM documents),
        r0 AS (SELECT doc_id AS id,
            1000000000000 // (SELECT n FROM nn) AS r FROM documents),
        ${pageRankIterSql("0", "1")},
        ${pageRankIterSql("1", "2")},
        ${pageRankIterSql("2", "3")}
        SELECT c.doc_id, c.component, CAST(r3.r AS BIGINT) AS rank_micro,
          (row_number() OVER (PARTITION BY c.component
             ORDER BY r3.r DESC, c.doc_id)) = 1 AS is_survivor
        FROM comp c JOIN r3 ON c.doc_id = r3.id
        ORDER BY c.doc_id""")),

    // Exact ROC AUC of the heuristic quality score as an English-detector
    // — the Mann-Whitney rank-sum with exact tie handling: the integer
    // numerator auc_num2 (denominator 2·P·N) is gated bit-for-bit, the
    // window runs over the DISTINCT-score grid (q97's bounded-grid
    // argument), and `auc` is the one final IEEE division.
    "q165_roc_auc" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val f = TextOps.qualityFeatures(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality_score_micro"))
        val j = docs.select(col("doc_id"), col("lang")).join(f, "doc_id")
        Quality.rocAuc(j, col("lang") === "en", col("quality_score_micro"))
      },
      Some(s"""WITH ${qualityMicroSql("doc_id")},
        j AS (SELECT d.lang = 'en' AS y,
                CAST(q.quality_score_micro AS BIGINT) AS score
              FROM __qm q JOIN documents d USING (doc_id)
              WHERE q.quality_score_micro IS NOT NULL AND d.lang IS NOT NULL),
        grid AS (SELECT score, SUM(CASE WHEN y THEN 1 ELSE 0 END) AS c_pos,
                 SUM(CASE WHEN y THEN 0 ELSE 1 END) AS c_neg
                 FROM j GROUP BY 1),
        acc AS (SELECT c_pos, c_neg,
            COALESCE(SUM(c_neg) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
          FROM grid)
        SELECT CAST(SUM(c_pos) AS BIGINT) AS n_pos,
          CAST(SUM(c_neg) AS BIGINT) AS n_neg,
          CAST(SUM(c_pos * (neg_below * 2 + c_neg)) AS BIGINT) AS auc_num2,
          CASE WHEN SUM(c_pos) > 0 AND SUM(c_neg) > 0 THEN
            CAST(SUM(c_pos * (neg_below * 2 + c_neg)) AS DOUBLE)
              / (CAST(SUM(c_pos) AS DOUBLE) * CAST(SUM(c_neg) AS DOUBLE) * 2.0)
          END AS auc
        FROM acc""")),

    // Reliability diagram + Brier inputs for the stopword-ratio heuristic
    // read as P(lang = 'en'): per-decile counts, positives, and the two
    // exact micro-integer sums (mean-predicted and squared-error); the
    // corpus Brier·1e12 is Σ brier_num_sum. All integers gated exactly;
    // the two rates are final pinned divisions.
    "q166_calibration_bins" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val f = TextOps.qualityFeatures(docs, "doc_id", "text")
          .select(col("doc_id"),
            least(lit(1000000L), col("stopword_ratio_micro") * 4).as("p"))
        val j = docs.select(col("doc_id"), col("lang")).join(f, "doc_id")
        Quality.calibrationBins(j, col("lang") === "en", col("p"), 10)
          .orderBy("bin")
      },
      Some(s"""WITH ${qualityMicroSql("doc_id")},
        j AS (SELECT d.lang = 'en' AS y,
                least(1000000, q.stopword_ratio_micro * 4) AS p
              FROM __qm q JOIN documents d USING (doc_id)
              WHERE q.stopword_ratio_micro IS NOT NULL AND d.lang IS NOT NULL),
        b AS (SELECT least(9, (p * 10) // 1000000) AS bin,
                CASE WHEN y THEN 1 ELSE 0 END AS yi, p FROM j)
        SELECT CAST(bin AS BIGINT) AS bin, COUNT(*) AS n,
          CAST(SUM(yi) AS BIGINT) AS k,
          CAST(SUM(p) AS BIGINT) AS sum_p_micro,
          CAST(SUM((p - yi * 1000000) * (p - yi * 1000000)) AS BIGINT)
            AS brier_num_sum,
          CAST(SUM(p) AS DOUBLE) / (COUNT(*) * 1000000.0) AS mean_p,
          CAST(SUM(yi) AS DOUBLE) / COUNT(*) AS rate
        FROM b GROUP BY 1 ORDER BY 1""")),

    // Cohen's kappa between the lexicon language-ID labeler and the gold
    // lang label — chance-corrected agreement (q150's Wilson CI reports
    // raw accuracy; κ subtracts what majority-class guessing would get).
    // κ = (n·A − E)/(n² − E) over exact integer count tables; one final
    // division.
    "q167_cohens_kappa" -> Q(
      (s, dir) => Quality.cohensKappa(
        TextOps.langId(t(s, dir, "documents"), "text", "predicted"),
        col("predicted"), col("lang")),
      Some {
        val score = TextOps.langLexicons.map { case (lang, lex) =>
          val list = lex.map(w => s"'$w'").mkString(", ")
          s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t IN ($list))) AS s_$lang"
        }.mkString(", ")
        val langs = TextOps.langLexicons.map(_._1)
        val greatestAll = s"greatest(${langs.map("s_" + _).mkString(", ")})"
        val caseChain = langs.map(l => s"WHEN s_$l >= $greatestAll AND s_$l > 0 THEN '$l'")
          .mkString(" ")
        s"""WITH scored AS (SELECT lang, $score FROM documents),
          pred AS (SELECT CASE $caseChain ELSE 'und' END AS a, lang AS b
                   FROM scored WHERE lang IS NOT NULL),
          tot AS (SELECT COUNT(*) AS n,
                  SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree FROM pred),
          ma AS (SELECT a AS cls, COUNT(*) AS na FROM pred GROUP BY 1),
          mb AS (SELECT b AS cls, COUNT(*) AS nb FROM pred GROUP BY 1),
          e AS (SELECT CAST(SUM(na * nb) AS BIGINT) AS e
                FROM ma JOIN mb USING (cls))
          SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
            e AS chance_num,
            CASE WHEN n * n <> e THEN
              CAST(n * agree - e AS DOUBLE) / CAST(n * n - e AS DOUBLE)
            END AS kappa
          FROM tot CROSS JOIN e"""
      }),

    // Autocorrelation of the hourly event-count series at lags 1..24 —
    // the seasonality audit (daily cycle ⇒ peak at lag 24). Dense hour
    // grid (absent hours are zeros), n-scaled integer centering, exact
    // DECIMAL numerator/denominator, one final division per lag.
    "q168_acf" -> Q(
      (s, dir) => Temporal.hourlyAcf(t(s, dir, "events"), "ts", 24),
      Some("""WITH obs AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                COUNT(*) AS c
              FROM events WHERE ts IS NOT NULL GROUP BY 1),
        bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM obs),
        grid AS (SELECT g.h, COALESCE(o.c, 0) AS x
          FROM (SELECT unnest(generate_series((SELECT lo FROM bounds),
                  (SELECT hi FROM bounds), INTERVAL 1 HOUR)) AS h) g
          LEFT JOIN obs o ON o.h = g.h),
        tot AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM grid),
        cen AS (SELECT h, (SELECT n FROM tot) * x - (SELECT s FROM tot) AS cx
                FROM grid),
        den AS (SELECT SUM(cx * cx) AS den FROM cen),
        pairs AS (SELECT k.lag, SUM(a.cx * b.cx) AS num, COUNT(*) AS n_pairs
          FROM (SELECT unnest(range(1, 25)) AS lag) k
          CROSS JOIN cen a
          JOIN cen b ON b.h = a.h + k.lag * INTERVAL 1 HOUR
          GROUP BY 1)
        SELECT CAST(lag AS BIGINT) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
          CAST(num AS BIGINT) AS num_scaled,
          CAST((SELECT den FROM den) AS BIGINT) AS den_scaled,
          CASE WHEN (SELECT den FROM den) <> 0 THEN
            CAST(num AS DOUBLE) / CAST((SELECT den FROM den) AS DOUBLE)
          END AS acf
        FROM pairs ORDER BY lag""")),

    // CUSUM changepoint curve over daily order revenue: running sum of
    // n-scaled mean-centered daily micro totals on a dense day grid;
    // extremum flagged as the most likely changepoint. The prefix sums
    // compare as exact DECIMALs for the peak test; the emitted curve is
    // cusum/n (one pinned division per day).
    "q169_cusum" -> Q(
      (s, dir) => Temporal.dailyCusum(t(s, dir, "orders"),
          "o_orderdate", "o_totalprice")
        .orderBy("day"),
      Some("""WITH obs AS (SELECT CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) AS d,
                CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT) AS s
              FROM orders
              WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
              GROUP BY 1),
        bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM obs),
        grid AS (SELECT CAST(g.h AS DATE) AS d, COALESCE(o.s, 0) AS s
          FROM (SELECT unnest(generate_series(CAST((SELECT lo FROM bounds) AS TIMESTAMP),
                  CAST((SELECT hi FROM bounds) AS TIMESTAMP), INTERVAL 1 DAY)) AS h) g
          LEFT JOIN obs o ON o.d = CAST(g.h AS DATE)),
        tot AS (SELECT COUNT(*) AS n, SUM(s) AS t FROM grid),
        curve AS (SELECT d,
            SUM((SELECT n FROM tot) * s - (SELECT t FROM tot))
              OVER (ORDER BY d) AS cu
          FROM grid),
        peak AS (SELECT MAX(abs(cu)) AS m FROM curve)
        SELECT d AS day,
          CAST(cu AS DOUBLE) / CAST((SELECT n FROM tot) AS DOUBLE) AS cusum_micro,
          abs(cu) = (SELECT m FROM peak) AS is_peak
        FROM curve ORDER BY day""")),

    // Key-skew report for the lineitem→supplier join key: Gini, entropy,
    // top-1 share over per-key counts — the diagnostic that triggers
    // q76's salting. Exact integer Gini numerator/denominator; windows
    // over the key grid only.
    "q170_skew_gini" -> Q(
      (s, dir) => Quality.keySkewReport(t(s, dir, "lineitem"),
        col("l_suppkey")),
      Some("""WITH counts AS (SELECT CAST(l_suppkey AS VARCHAR) AS key,
                COUNT(*) AS x
              FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1),
        r AS (SELECT x, row_number() OVER (ORDER BY x, key) AS i FROM counts),
        agg AS (SELECT COUNT(*) AS n_keys, SUM(x) AS total, MAX(x) AS top1,
            SUM(i * x) AS six,
            SUM(x * CAST(round(ln(x) * 1e6) AS BIGINT)) AS sxlx
          FROM r)
        SELECT CAST(n_keys AS BIGINT) AS n_keys, CAST(total AS BIGINT) AS total,
          CAST(top1 AS BIGINT) AS top1,
          CAST(six * 2 - (n_keys + 1) * total AS BIGINT) AS gini_num,
          CAST(n_keys * total AS BIGINT) AS gini_den,
          CAST(six * 2 - (n_keys + 1) * total AS DOUBLE)
            / CAST(n_keys * total AS DOUBLE) AS gini,
          CAST(CAST(round(ln(total) * 1e6) AS BIGINT) AS DOUBLE)
            - CAST(sxlx AS DOUBLE) / total AS entropy_micro,
          CAST(top1 AS DOUBLE) / total AS top1_share
        FROM agg""")),

    // Newman modularity of the near-dup connected-components partition —
    // "are the dup clusters denser than random wiring?". Per-community
    // exact integers q_scaled = 4m·e_c − d_c² plus ONE total row
    // (community NULL) carrying the final Q division.
    "q171_modularity" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // pairs feed BOTH the CC fixpoint and the modularity joins —
        // the shared builder's cache keeps the LSH pipeline to one run
        val pairs = lshPairs(s, dir)
        val comps = Graphs.connectedComponents(pairs, "id_a", "id_b")
        Graphs.modularity(pairs, "id_a", "id_b", comps, "id", "component")
          .orderBy(col("community").asc_nulls_last)
      },
      Some(s"""WITH RECURSIVE ${nearDupEdgesCte(0.8)},
        walk(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst),
        comp AS (SELECT id, MIN(lbl) AS lbl FROM walk GROUP BY id),
        canon AS (SELECT id_a AS lo, id_b AS hi FROM prs),
        m AS (SELECT COUNT(*) AS m FROM canon),
        lab AS (SELECT c.lo, c.hi, ca.lbl AS la, cb.lbl AS lb FROM canon c
          JOIN comp ca ON ca.id = c.lo JOIN comp cb ON cb.id = c.hi),
        intra AS (SELECT la AS community, COUNT(*) AS intra_edges
          FROM lab WHERE la = lb GROUP BY 1),
        degsum AS (SELECT community, COUNT(*) AS degree_sum FROM (
            SELECT la AS community FROM lab
            UNION ALL SELECT lb FROM lab) GROUP BY 1),
        per AS (SELECT d.community,
            COALESCE(i.intra_edges, 0) AS intra_edges, d.degree_sum,
            4 * (SELECT m FROM m) * COALESCE(i.intra_edges, 0)
              - d.degree_sum * d.degree_sum AS q_scaled
          FROM degsum d LEFT JOIN intra i USING (community))
        SELECT CAST(community AS BIGINT) AS community,
          CAST(intra_edges AS BIGINT) AS intra_edges,
          CAST(degree_sum AS BIGINT) AS degree_sum,
          CAST(q_scaled AS BIGINT) AS q_scaled,
          CAST(NULL AS DOUBLE) AS modularity
        FROM per
        UNION ALL
        SELECT NULL, CAST(SUM(intra_edges) AS BIGINT),
          CAST(SUM(degree_sum) AS BIGINT), CAST(SUM(q_scaled) AS BIGINT),
          CAST(SUM(q_scaled) AS DOUBLE)
            / (4.0 * CAST((SELECT m FROM m) AS DOUBLE)
               * CAST((SELECT m FROM m) AS DOUBLE))
        FROM per
        ORDER BY community NULLS LAST""")),

    // Interpolated Kneser-Ney bigram probabilities (d = 3/4) for the 100
    // most frequent bigrams — continuation-count smoothing with the
    // discount cleared to exact integers: num/den gated as BIGINTs, p_kn
    // the single final division.
    "q172_kneser_ney" -> Q(
      (s, dir) => TextOps.knBigramLm(t(s, dir, "documents"), "text", 100),
      Some("""WITH toks AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS l
               FROM documents),
        g AS (SELECT unnest(list_transform(range(1, greatest(len(l), 1)),
                 i -> l[i] || ' ' || l[i+1])) AS g
               FROM toks WHERE len(l) >= 2),
        c AS (SELECT g, COUNT(*) AS c12 FROM g GROUP BY g),
        s AS (SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
              c12 FROM c),
        b AS (SELECT COUNT(*) AS b FROM s),
        w AS (SELECT w1, w2, c12,
               CAST(SUM(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
               CAST(COUNT(*) OVER (PARTITION BY w1) AS BIGINT) AS n1_fwd,
               CAST(COUNT(*) OVER (PARTITION BY w2) AS BIGINT) AS n1_bwd
              FROM s)
        SELECT w1, w2, c12, c1, n1_fwd, n1_bwd,
          CAST(greatest(4 * c12 - 3, 0) * (SELECT b FROM b)
            + 3 * n1_fwd * n1_bwd AS BIGINT) AS p_num,
          CAST(4 * (SELECT b FROM b) * c1 AS BIGINT) AS p_den,
          CAST(greatest(4 * c12 - 3, 0) * (SELECT b FROM b)
            + 3 * n1_fwd * n1_bwd AS DOUBLE)
            / CAST(4 * (SELECT b FROM b) * c1 AS DOUBLE) AS p_kn
        FROM w ORDER BY c12 DESC, w1, w2 LIMIT 100""")),

    // MMR diversity re-ranking over the exact top-50 pool for query
    // vector 0: greedy λ=0.7 selection on the exact micro-integer
    // relevance/similarity grid — every argmax compares integers, so the
    // oracle's unrolled greedy replays the identical selection sequence.
    "q173_mmr_rerank" -> Q(
      (s, dir) => Similarity.mmrRerank(t(s, dir, "embeddings"), "vec_id",
          "embedding", queryId = 0L, poolK = 50, selectK = 10,
          lambdaTenths = 7)
        .orderBy("step"),
      Some(mmrOracleSql(queryId = 0, poolK = 50, selectK = 10,
        lambdaTenths = 7))),

    // Unicode NFC normalization via the native codegen'd nfc_normalize
    // expression: deterministic decomposed suffixes (combining acute /
    // diaeresis) appended to each doc, normalized, and audited per source
    // — chars shrink exactly where composition fires. Exercises the
    // expression against DuckDB's utf8proc NFC (same Unicode normal
    // form).
    "q174_nfc_normalize" -> Q(
      (s, dir) => {
        // NOTE: Spark's chr() is ASCII-mod-256, NOT a code-point
        // constructor — the DECOMPOSED suffix (e+U+0301, x+U+0308, o) is a
        // unicode-escaped literal
        val aug = t(s, dir, "documents").select(col("source"),
          concat(substring(col("text"), 1, 40), lit("e\u0301x\u0308o"))
            .as("s"))
        aug.select(col("source"), col("s"),
            call_function("nfc_normalize", col("s")).as("n"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("s"))).as("chars_before"),
            sum(length(col("n"))).as("chars_after"),
            sum(when(col("s") =!= col("n"), 1L).otherwise(0L)).as("n_changed"))
          .orderBy("source")
      },
      Some("""WITH aug AS (SELECT source,
                substr(text, 1, 40) || 'e' || chr(769) || 'x' || chr(776) || 'o' AS s
              FROM documents),
        n AS (SELECT source, s, nfc_normalize(s) AS n FROM aug)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(length(s)) AS BIGINT) AS chars_before,
          CAST(SUM(length(n)) AS BIGINT) AS chars_after,
          CAST(SUM(CASE WHEN s <> n THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
        FROM n GROUP BY 1 ORDER BY 1""")),

    // Isotonic (PAV) calibration of the q166 reliability bins via the
    // closed-form minimax iso(i) = max_{j≤i} min_{k≥i} avg[j..k] — no
    // driver loop, three bounded grid joins; segment averages are single
    // IEEE divisions of exact cumulative BIGINTs, so min/max agree
    // across engines bit-for-bit.
    "q175_isotonic_calibration" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val f = TextOps.qualityFeatures(docs, "doc_id", "text")
          .select(col("doc_id"),
            least(lit(1000000L), col("stopword_ratio_micro") * 4).as("p"))
        val j = docs.select(col("doc_id"), col("lang")).join(f, "doc_id")
        val bins = Quality.calibrationBins(j, col("lang") === "en", col("p"), 10)
        Quality.isotonicCalibration(bins, "bin", "k", "n").orderBy("bin")
      },
      Some(s"""WITH ${qualityMicroSql("doc_id")},
        j AS (SELECT d.lang = 'en' AS y,
                least(1000000, q.stopword_ratio_micro * 4) AS p
              FROM __qm q JOIN documents d USING (doc_id)
              WHERE q.stopword_ratio_micro IS NOT NULL AND d.lang IS NOT NULL),
        bb AS (SELECT least(9, (p * 10) // 1000000) AS b,
                SUM(CASE WHEN y THEN 1 ELSE 0 END) AS k, COUNT(*) AS n
               FROM j GROUP BY 1),
        cum AS (SELECT b, k, n, SUM(k) OVER (ORDER BY b) AS ck,
                SUM(n) OVER (ORDER BY b) AS cn FROM bb),
        segs AS (SELECT a.b AS j, c.b AS kk,
            CAST(c.ck - a.ck + a.k AS DOUBLE)
              / CAST(c.cn - a.cn + a.n AS DOUBLE) AS avg
          FROM cum a JOIN cum c ON a.b <= c.b),
        mn AS (SELECT s.j, i.b AS i, MIN(s.avg) AS mn
          FROM segs s JOIN cum i ON s.j <= i.b AND i.b <= s.kk
          GROUP BY 1, 2),
        iso AS (SELECT i, MAX(mn) AS iso_rate FROM mn GROUP BY 1)
        SELECT CAST(cum.b AS BIGINT) AS bin, CAST(cum.n AS BIGINT) AS n,
          CAST(cum.k AS BIGINT) AS k,
          CAST(cum.k AS DOUBLE) / cum.n AS rate, iso_rate
        FROM cum JOIN iso ON iso.i = cum.b ORDER BY bin""")),

    // Market-basket association rules over lineitem baskets: same-order
    // part pairs with support ≥ 2, directed confidence, and lift — the
    // "bought X also bought Y" join whose fan-out is bounded by basket
    // size (Σ_b s_b²), never corpus size.
    "q176_copurchase_lift" -> Q(
      (s, dir) => Analytics.copurchasePairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2L, k = 50)
        .withColumnRenamed("item_a", "part_a")
        .withColumnRenamed("item_b", "part_b"),
      Some("""WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
              FROM lineitem
              WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        nb AS (SELECT COUNT(DISTINCT bk) AS n FROM items),
        marg AS (SELECT it, COUNT(*) AS n_item FROM items GROUP BY 1),
        pairs AS (SELECT a.it AS part_a, b.it AS part_b, COUNT(*) AS support
          FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
          GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        SELECT part_a, part_b, CAST(support AS BIGINT) AS support,
          CAST(ma.n_item AS BIGINT) AS n_a, CAST(mb.n_item AS BIGINT) AS n_b,
          CAST((SELECT n FROM nb) AS BIGINT) AS n_baskets,
          CAST(support AS DOUBLE) / CAST(ma.n_item AS DOUBLE) AS confidence_ab,
          CAST(support * (SELECT n FROM nb) AS DOUBLE)
            / CAST(ma.n_item * mb.n_item AS DOUBLE) AS lift
        FROM pairs JOIN marg ma ON ma.it = part_a
        JOIN marg mb ON mb.it = part_b
        ORDER BY support DESC, part_a, part_b LIMIT 50""")),

    // RFM segmentation of customers: recency/frequency/monetary with
    // deterministic strictly-below quintile codes — ties share a code,
    // windows run over distinct-value count grids only.
    "q177_rfm_segments" -> Q(
      (s, dir) => Analytics.rfmSegments(t(s, dir, "orders"),
          "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("o_custkey"),
      Some {
        def codeCte(metric: String): String =
          s"""${metric}_c AS (SELECT v, 1 + (cb * 5) // (SELECT n FROM nn) AS code
            FROM (SELECT v, COALESCE(SUM(cnt) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
              FROM (SELECT $metric AS v, COUNT(*) AS cnt FROM agg GROUP BY 1)))"""
        s"""WITH base AS (SELECT o_custkey AS c,
              CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) AS d,
              CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders WHERE o_custkey IS NOT NULL
              AND o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
          mx AS (SELECT MAX(d) AS mx FROM base),
          agg AS (SELECT c,
              MIN(date_diff('day', d, (SELECT mx FROM mx))) AS r_days,
              COUNT(*) AS f, CAST(SUM(cents) AS BIGINT) AS m_cents
            FROM base GROUP BY 1),
          nn AS (SELECT COUNT(*) AS n FROM agg),
          ${codeCte("r_days")},
          ${codeCte("f")},
          ${codeCte("m_cents")}
          SELECT c AS o_custkey, CAST(r_days AS BIGINT) AS r_days,
            CAST(f AS BIGINT) AS f, m_cents,
            CAST(rc.code AS BIGINT) AS r_days_code,
            CAST(fc.code AS BIGINT) AS f_code,
            CAST(mc.code AS BIGINT) AS m_cents_code
          FROM agg
          JOIN r_days_c rc ON rc.v = agg.r_days
          JOIN f_c fc ON fc.v = agg.f
          JOIN m_cents_c mc ON mc.v = agg.m_cents
          ORDER BY o_custkey"""
      }),

    // Normalization-aware dedup audit: prefix keys carrying DECOMPOSED
    // vs precomposed accent variants collapse only after the full
    // cleaning chain (trim → lower → whitespace-collapse → NFC via the
    // native expression) — distinct-count deltas quantify what raw
    // fingerprinting misses.
    "q178_normalize_dedup" -> Q(
      (s, dir) => {
        val aug = t(s, dir, "documents").select(col("doc_id"),
          concat(substring(col("text"), 1, 20),
            when(pmod(col("doc_id"), lit(3)) === 0, lit(" e\u0301"))
              .otherwise(lit(" \u00e9"))).as("s"))
        aug.select(col("s"),
            call_function("nfc_normalize",
              regexp_replace(lower(trim(col("s"))), "\\s+", " ")).as("t"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("s")).as("n_raw"),
            countDistinct(col("t")).as("n_norm"))
      },
      Some("""WITH aug AS (SELECT doc_id, substr(text, 1, 20) ||
                (CASE WHEN doc_id % 3 = 0 THEN ' e' || chr(769)
                      ELSE ' ' || chr(233) END) AS s
              FROM documents),
        norm AS (SELECT s,
            nfc_normalize(regexp_replace(lower(trim(s)), '\s+', ' ', 'g')) AS t
          FROM aug)
        SELECT COUNT(*) AS n_docs, COUNT(DISTINCT s) AS n_raw,
          COUNT(DISTINCT t) AS n_norm
        FROM norm""")),

    // Kaplan-Meier view→purchase conversion curve with right censoring
    // (users who never purchase are censored at the corpus horizon):
    // at-risk counts, events, and the log-survival curve as an exact
    // micro-log integer prefix sum — no float product chain, no libm
    // exp in the gate.
    "q179_kaplan_meier" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("v0"))
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("pt"))
        val firstBuy = views.join(buys, Seq("user_id"), "left")
          .groupBy("user_id", "v0")
          .agg(min(when(col("pt") >= col("v0"), col("pt"))).as("p1"))
        val mx = ev.agg(max(col("ts")).as("m"))
        val subjects = firstBuy.crossJoin(broadcast(mx))
          .select(
            when(col("p1").isNotNull,
              datediff(col("p1").cast("date"), col("v0").cast("date")))
              .otherwise(
                datediff(col("m").cast("date"), col("v0").cast("date")))
              .as("dur"),
            col("p1").isNotNull.as("ev"))
        Temporal.kaplanMeier(subjects, "dur", "ev").orderBy("t")
      },
      Some("""WITH v AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS v0
              FROM events WHERE event_type = 'view' GROUP BY 1),
        b AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pt FROM events
              WHERE event_type = 'purchase'),
        s0 AS (SELECT v.user_id, v.v0,
            MIN(CASE WHEN b.pt >= v.v0 THEN b.pt END) AS p1
          FROM v LEFT JOIN b ON b.user_id = v.user_id GROUP BY 1, 2),
        mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS m FROM events),
        subj AS (SELECT CASE WHEN p1 IS NOT NULL
              THEN date_diff('day', CAST(v0 AS DATE), CAST(p1 AS DATE))
              ELSE date_diff('day', CAST(v0 AS DATE),
                CAST((SELECT m FROM mx) AS DATE)) END AS t,
            p1 IS NOT NULL AS e FROM s0),
        grid AS (SELECT t, SUM(CASE WHEN e THEN 1 ELSE 0 END) AS d_event,
            SUM(CASE WHEN e THEN 0 ELSE 1 END) AS d_censored
          FROM subj GROUP BY 1),
        tot AS (SELECT SUM(d_event + d_censored) AS n FROM grid),
        risked AS (SELECT t, d_event, d_censored,
            (SELECT n FROM tot) - COALESCE(SUM(d_event + d_censored)
              OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) AS n_risk
          FROM grid),
        terms AS (SELECT t, n_risk, d_event, d_censored,
            CASE WHEN d_event > 0 THEN
              CASE WHEN n_risk - d_event > 0 THEN
                CAST(round(ln(n_risk - d_event) * 1e6) AS BIGINT)
                  - CAST(round(ln(n_risk) * 1e6) AS BIGINT)
              ELSE -1000000000000 END
            ELSE 0 END AS term FROM risked)
        SELECT CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
          CAST(d_event AS BIGINT) AS d_event,
          CAST(d_censored AS BIGINT) AS d_censored,
          CAST(SUM(term) OVER (ORDER BY t) AS BIGINT) AS log_surv_micro
        FROM terms ORDER BY t""")),

    // Chi-square test of independence lang × source (zero-observed cells
    // included) with Cramér's V — the significance face of q163's
    // mutual information. Micro-grid per-cell contributions summed as
    // BIGINT; V is one final sqrt/division chain.
    "q180_chi_square" -> Q(
      (s, dir) => Quality.chiSquare(t(s, dir, "documents"), "lang", "source"),
      Some("""WITH base AS (SELECT lang AS a, source AS b FROM documents
               WHERE lang IS NOT NULL AND source IS NOT NULL),
        nn AS (SELECT COUNT(*) AS n FROM base),
        joint AS (SELECT a, b, COUNT(*) AS o FROM base GROUP BY 1, 2),
        ma AS (SELECT a, COUNT(*) AS na FROM base GROUP BY 1),
        mb AS (SELECT b, COUNT(*) AS nb FROM base GROUP BY 1),
        ka AS (SELECT COUNT(*) AS k FROM ma),
        kb AS (SELECT COUNT(*) AS k FROM mb),
        cells AS (SELECT ma.na, mb.nb, COALESCE(j.o, 0) AS o
          FROM ma CROSS JOIN mb
          LEFT JOIN joint j ON j.a = ma.a AND j.b = mb.b),
        agg AS (SELECT CAST(SUM(CAST(round(
              (CAST(o AS DOUBLE) * (SELECT n FROM nn) - CAST(na AS DOUBLE) * nb)
              * (CAST(o AS DOUBLE) * (SELECT n FROM nn) - CAST(na AS DOUBLE) * nb)
              / (CAST(na AS DOUBLE) * nb * (SELECT n FROM nn)) * 1e6)
            AS BIGINT)) AS BIGINT) AS chi2,
            COUNT(*) AS n_cells FROM cells)
        SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n, n_cells,
          CAST(((SELECT k FROM ka) - 1) * ((SELECT k FROM kb) - 1) AS BIGINT)
            AS dof,
          chi2 AS chi2_micro_sum,
          CASE WHEN least((SELECT k FROM ka), (SELECT k FROM kb)) > 1 THEN
            sqrt(CAST(chi2 AS DOUBLE) / (1e6 * (SELECT n FROM nn)
              * least((SELECT k FROM ka) - 1, (SELECT k FROM kb) - 1)))
          END AS cramers_v
        FROM agg""")),

    // Semi-supervised label propagation over the near-dup graph: 10% of
    // docs seed their lang label; 2 frontier-extending iterations of
    // frozen-seed majority vote (ties → smallest label). The oracle
    // replays both iterations CTE-for-CTE.
    "q181_label_prop" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = lshPairs(s, dir)
        val seeds = docs.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(10)) === 0, col("lang")).as("seed"))
        Graphs.labelPropagation(seeds, "doc_id", "seed", pairs,
            "id_a", "id_b", iters = 2)
          .orderBy("doc_id")
      },
      Some {
        def iterCte(prev: Int, cur: Int): String =
          s"""v$cur AS (SELECT e.dst AS id, l.lbl, COUNT(*) AS c
              FROM edges e JOIN lp$prev l ON l.id = e.src
              WHERE l.lbl IS NOT NULL GROUP BY 1, 2),
            w$cur AS (SELECT id, lbl FROM (
                SELECT id, lbl, row_number() OVER (PARTITION BY id
                  ORDER BY c DESC, lbl) AS rn FROM v$cur) WHERE rn = 1),
            lp$cur AS MATERIALIZED (SELECT l.id, COALESCE(l.lbl, w.lbl) AS lbl
              FROM lp$prev l LEFT JOIN w$cur w ON w.id = l.id)"""
        s"""WITH ${nearDupEdgesCte(0.8)},
          lp0 AS MATERIALIZED (SELECT doc_id AS id,
              CASE WHEN doc_id % 10 = 0 THEN lang END AS lbl
            FROM documents),
          ${iterCte(0, 1)},
          ${iterCte(1, 2)}
          SELECT id AS doc_id, lbl AS label FROM lp2 ORDER BY doc_id"""
      }),

    // Two-sample Kolmogorov-Smirnov: does the quality-score distribution
    // of English docs differ from the rest? D as an exact integer
    // numerator over the merged distinct-score grid; at_value = smallest
    // score attaining the max.
    "q182_ks_test" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val f = TextOps.qualityFeatures(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality_score_micro"))
        val j = docs.select(col("doc_id"), col("lang")).join(f, "doc_id")
        Quality.ksTest(j, col("lang") === "en", col("quality_score_micro"))
      },
      Some(s"""WITH ${qualityMicroSql("doc_id")},
        j AS (SELECT d.lang = 'en' AS g,
                CAST(q.quality_score_micro AS BIGINT) AS v
              FROM __qm q JOIN documents d USING (doc_id)
              WHERE q.quality_score_micro IS NOT NULL AND d.lang IS NOT NULL),
        grid AS (SELECT v, SUM(CASE WHEN g THEN 1 ELSE 0 END) AS c1,
                 SUM(CASE WHEN g THEN 0 ELSE 1 END) AS c2
                 FROM j GROUP BY 1),
        tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM grid),
        cum AS (SELECT v, SUM(c1) OVER (ORDER BY v) AS k1,
                SUM(c2) OVER (ORDER BY v) AS k2 FROM grid),
        dev AS (SELECT v, abs(k1 * (SELECT n2 FROM tot)
                - k2 * (SELECT n1 FROM tot)) AS dev FROM cum),
        mx AS (SELECT MAX(dev) AS d_num FROM dev)
        SELECT CAST((SELECT n1 FROM tot) AS BIGINT) AS n1,
          CAST((SELECT n2 FROM tot) AS BIGINT) AS n2,
          CAST((SELECT d_num FROM mx) AS BIGINT) AS d_num,
          CASE WHEN (SELECT n1 FROM tot) > 0 AND (SELECT n2 FROM tot) > 0 THEN
            CAST((SELECT d_num FROM mx) AS DOUBLE)
              / (CAST((SELECT n1 FROM tot) AS DOUBLE) * (SELECT n2 FROM tot))
          END AS d,
          CAST(MIN(v) AS BIGINT) AS at_value
        FROM dev WHERE dev = (SELECT d_num FROM mx)""")),

    // Two-sample Anderson-Darling on q182's exact pair (en vs rest
    // quality scores) — the tail-weighted drift member beside KS (single
    // largest gap) and EMD (transport cost); per-grid-point terms
    // micro-rounded and summed order-free.
    "q360_anderson_darling" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val f = TextOps.qualityFeatures(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality_score_micro"))
        val j = docs.select(col("doc_id"), col("lang")).join(f, "doc_id")
        Quality.andersonDarling2(j, col("lang") === "en",
          col("quality_score_micro"))
      },
      Some {
        def dev(ki: String, ni: String) =
          s"(CAST(nn AS HUGEINT) * $ki - CAST($ni AS HUGEINT) * b)"
        def term(ki: String, ni: String) =
          s"""CAST(round(CAST(l AS DOUBLE) *
              CAST(${dev(ki, ni)} * ${dev(ki, ni)} AS DOUBLE)
            / (CAST(b AS DOUBLE) * CAST(nn - b AS DOUBLE)
              * CAST(nn AS DOUBLE) * CAST($ni AS DOUBLE)) * 1e6)
            AS BIGINT)"""
        s"""WITH ${qualityMicroSql("doc_id")},
        j AS (SELECT d.lang = 'en' AS g,
                CAST(q.quality_score_micro AS BIGINT) AS v
              FROM __qm q JOIN documents d USING (doc_id)
              WHERE q.quality_score_micro IS NOT NULL
                AND d.lang IS NOT NULL),
        grid AS (SELECT v,
            CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS c1,
            CAST(SUM(CASE WHEN g THEN 0 ELSE 1 END) AS BIGINT) AS c2
          FROM j GROUP BY 1),
        tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
            CAST(SUM(c2) AS BIGINT) AS n2 FROM grid),
        cum AS (SELECT v, c1 + c2 AS l,
            CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) AS k1,
            CAST(SUM(c2) OVER (ORDER BY v) AS BIGINT) AS k2
          FROM grid),
        f AS (SELECT l, k1, k2, n1, n2, n1 + n2 AS nn, k1 + k2 AS b
          FROM cum, tot WHERE k1 + k2 < n1 + n2),
        t AS (SELECT n1, n2,
            ${term("k1", "n1")} AS t1,
            ${term("k2", "n2")} AS t2
          FROM f),
        agg AS (SELECT n1, n2, CAST(COUNT(*) AS BIGINT) AS n_grid,
            CAST(SUM(t1) + SUM(t2) AS BIGINT) AS a2_micro_sum
          FROM t GROUP BY 1, 2)
        SELECT n1, n2, n_grid, a2_micro_sum,
          CASE WHEN n1 > 0 AND n2 > 0 THEN
            CAST(a2_micro_sum AS DOUBLE) / 1e6 END AS a2
        FROM agg"""
      }),

    // Unigram-LM (SentencePiece-class) subword tokenization over the
    // corpus word relation: the shipped piece table (trained by
    // UnigramTrainer's Viterbi-EM, driver ≡ distributed spec-pinned)
    // segments every distinct word by exact integer Viterbi, and the
    // per-source rollup aggregates piece counts / total log-prob /
    // fertility. The oracle replays the SAME DP in DuckDB: the piece
    // scores are spliced in as integer literals and the recursion
    // carries the last-4 DP states, so segmentation is value-checked
    // end to end, not trusted. Scale shape: the DP runs once per
    // DISTINCT word (cached, vocabulary-bounded), the corpus-sized word
    // relation only joins and aggregates.
    "q361_unigram_lm" -> Q(
      (s, dir) => {
        val tok = UnigramTokenizer.fromResource()
        val docs = t(s, dir, "documents")
        val words = docs.select(col("source"),
            explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
              .as("w"))
          .filter(length(col("w")).between(1, 24))
        val stats = graft.CacheScope.register(
          words.select("w").distinct()
            .select(col("w"), tok.statsExpr(col("w")).as("st"))
            .select(col("w"), col("st.s").as("sc"), col("st.n").as("np")))
        words.join(stats, "w")
          .groupBy("source").agg(
            count(lit(1)).as("n_words"),
            countDistinct(col("w")).as("n_distinct_words"),
            sum(length(col("w"))).cast("long").as("sum_chars"),
            sum(col("np")).as("sum_pieces"),
            sum(col("sc")).as("sum_score_micro"),
            (sum(col("np")).cast("double") / count(lit(1)))
              .as("avg_pieces_per_word"))
          .orderBy("source")
      },
      Some {
        val pieces = UnigramTokenizer.fromResource().piecesSqlValues
        // candidate ending at position i+1 with piece length k: the
        // piece starts at i+2-k; prev state s_{k-1}/n_{k-1} is dp[i+1-k]
        def key(k: Int) =
          s"(s${k - 1} + p$k.s) * 1048576 - (n${k - 1} + 1) * 256 + $k"
        val keys = (1 to 4).map(k => s"(${key(k)})")
        val best = keys.map(k => s"COALESCE($k, -4611686018427387904)")
          .mkString("greatest(", ", ", ")")
        def pick(expr: Int => String) =
          (1 to 4).map(k => s"WHEN ${keys(k - 1)} IS NOT NULL AND " +
            s"$best = ${keys(k - 1)} THEN ${expr(k)}")
            .mkString("CASE ", " ", " END")
        s"""WITH RECURSIVE pcs(p, s) AS (SELECT * FROM (VALUES $pieces)),
        wsrc AS (SELECT source,
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
          FROM documents),
        wmm AS (SELECT source, w FROM wsrc
          WHERE length(w) BETWEEN 1 AND 24),
        words AS (SELECT DISTINCT w FROM wmm),
        dp AS (
          SELECT w, 0 AS i,
            CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS n0,
            CAST(NULL AS BIGINT) AS s1, CAST(NULL AS BIGINT) AS n1,
            CAST(NULL AS BIGINT) AS s2, CAST(NULL AS BIGINT) AS n2,
            CAST(NULL AS BIGINT) AS s3, CAST(NULL AS BIGINT) AS n3
          FROM words
          UNION ALL
          SELECT dp.w, dp.i + 1,
            ${pick(k => s"s${k - 1} + p$k.s")},
            ${pick(k => s"n${k - 1} + 1")},
            dp.s0, dp.n0, dp.s1, dp.n1, dp.s2, dp.n2
          FROM dp
          LEFT JOIN pcs p1 ON p1.p = substr(dp.w, dp.i + 1, 1)
          LEFT JOIN pcs p2 ON dp.i >= 1 AND p2.p = substr(dp.w, dp.i, 2)
          LEFT JOIN pcs p3 ON dp.i >= 2 AND p3.p = substr(dp.w, dp.i - 1, 3)
          LEFT JOIN pcs p4 ON dp.i >= 3 AND p4.p = substr(dp.w, dp.i - 2, 4)
          WHERE dp.i < length(dp.w)),
        stats AS (SELECT w, s0 AS sc, n0 AS np FROM dp
          WHERE i = length(w))
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
          CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct_words,
          CAST(SUM(length(w)) AS BIGINT) AS sum_chars,
          CAST(SUM(np) AS BIGINT) AS sum_pieces,
          CAST(SUM(sc) AS BIGINT) AS sum_score_micro,
          CAST(SUM(np) AS DOUBLE) / COUNT(*) AS avg_pieces_per_word
        FROM wmm JOIN stats USING (w)
        GROUP BY source ORDER BY source"""
      }),

    // URL/host canonicalization + per-host dedup rollup — the web-corpus
    // first stage (r11 verdict #5). The corpus has no URL column, so
    // deterministic messy URLs are planted in-query (the q52 planted-PII
    // pattern): mixed-case scheme/host, default and explicit ports,
    // tracking params, unsorted query keys, fragments. UrlFns.canonical
    // (all codegen'd regexp/array expressions) folds them; the per-host
    // rollup joins the q19 exact-dup fingerprints for a dup-rate per
    // canonical host. The oracle replays the canonicalization from the
    // SAME regexes via UrlFns.canonicalSql — rule drift hash-fails.
    "q362_url_canonical" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val id = col("doc_id")
        val url = concat(
          when(id % 2 === 0, "HTTPS").otherwise("Http"), lit("://"),
          lit("WWW.Site-"), (id % 23).cast("string"), lit(".Example.COM"),
          when(id % 4 === 0, ":443").when(id % 4 === 1, ":80")
            .when(id % 4 === 2, ":8080").otherwise(""),
          lit("/Docs/"), (id % 11).cast("string"),
          lit("?utm_source=feed&b="), (id % 5).cast("string"),
          lit("&a="), (id % 7).cast("string"),
          when(id % 6 === 0, "&gclid=XYZ").otherwise(""),
          when(id % 5 === 0, concat(lit("#sec-"), (id % 3).cast("string")))
            .otherwise(""))
        val c = docs.select(col("doc_id"), col("text"),
          UrlFns.canonical(url).as("canonical_url"),
          UrlFns.host(url).as("host"))
        val g = c.withColumn("group_size", count(lit(1)).over(
          Window.partitionBy(TextFns.prefixFingerprint(col("text"), 80))))
        g.groupBy("host").agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("canonical_url")).as("n_distinct_urls"),
            sum(when(col("group_size") > 1, 1L).otherwise(0L))
              .as("n_dup_docs"),
            (sum(when(col("group_size") > 1, 1L).otherwise(0L))
              .cast("double") / count(lit(1))).as("dup_rate"),
            min(col("canonical_url")).as("sample_url"))
          .orderBy("host")
      },
      Some(s"""WITH u AS (SELECT doc_id, text,
          (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'Http' END)
          || '://WWW.Site-' || CAST(doc_id % 23 AS VARCHAR) || '.Example.COM'
          || (CASE doc_id % 4 WHEN 0 THEN ':443' WHEN 1 THEN ':80'
              WHEN 2 THEN ':8080' ELSE '' END)
          || '/Docs/' || CAST(doc_id % 11 AS VARCHAR)
          || '?utm_source=feed&b=' || CAST(doc_id % 5 AS VARCHAR)
          || '&a=' || CAST(doc_id % 7 AS VARCHAR)
          || (CASE WHEN doc_id % 6 = 0 THEN '&gclid=XYZ' ELSE '' END)
          || (CASE WHEN doc_id % 5 = 0
              THEN '#sec-' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END)
          AS url FROM documents),
        c AS (SELECT doc_id, text,
            ${UrlFns.canonicalSql("url")} AS canonical_url,
            ${UrlFns.hostSql("url")} AS host FROM u),
        g AS (SELECT *, COUNT(*) OVER (PARTITION BY
            md5(substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 80)))
            AS group_size FROM c)
        SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS n_distinct_urls,
          CAST(SUM(CASE WHEN group_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dup_docs,
          CAST(SUM(CASE WHEN group_size > 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*) AS dup_rate,
          MIN(canonical_url) AS sample_url
        FROM g GROUP BY host ORDER BY host""")),

    // Hidden partitioning + partition evolution probe (the q159-style
    // pruning gate for Warehouse.publishHiddenPartitioned): the events
    // table is published TWICE into a scratch versioned table — g1 with
    // day(ts), g2 (the live generation) with hour(ts) — and one range
    // read probes EACH generation under its OWN stored transform. Emits
    // per layout: total partition dirs, dirs kept by the range prune,
    // and the exact row count read through the pruned scan. The oracle
    // recomputes all three from the raw events (partitions are derived
    // purely from data, so the directory counts are value-checkable);
    // a pruning regression (kept == total) hash-fails, not just slows.
    "q363_hidden_partitioning" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("ts").isNotNull)
          .select("event_id", "user_id", "ts")
        val tbl = tmpWorkDir("graft_hidden", dir) + "/events"
        val g1 = Warehouse.publishHiddenPartitioned(s, ev, tbl,
          Warehouse.TimeTransform("ts", "day"))
        val g2 = Warehouse.publishHiddenPartitioned(s, ev, tbl,
          Warehouse.TimeTransform("ts", "hour"))
        val (lo, hi) = ("2024-01-10 06:00:00", "2024-01-12 18:00:00")
        def probe(gen: String, layout: String) = {
          val (kept, total) = Warehouse.hiddenRangePrune(tbl, gen, lo, hi)
          Warehouse.hiddenRangeRead(s, tbl, lo, hi, Some(gen))
            .agg(count(lit(1)).as("n_rows"))
            .select(lit(layout).as("layout"),
              lit(total.toLong).as("total_partitions"),
              lit(kept.size.toLong).as("kept_partitions"),
              col("n_rows"))
        }
        probe(g1, "day(ts)").unionAll(probe(g2, "hour(ts)"))
          .orderBy("layout")
      },
      Some("""WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS t FROM events
               WHERE ts IS NOT NULL),
        d AS (SELECT 'day(ts)' AS layout,
            CAST(COUNT(DISTINCT strftime(t, '%Y-%m-%d')) AS BIGINT)
              AS total_partitions,
            CAST(COUNT(DISTINCT CASE WHEN strftime(t, '%Y-%m-%d')
                BETWEEN '2024-01-10' AND '2024-01-12'
                THEN strftime(t, '%Y-%m-%d') END) AS BIGINT)
              AS kept_partitions,
            CAST(SUM(CASE WHEN t >= TIMESTAMP '2024-01-10 06:00:00'
                AND t <= TIMESTAMP '2024-01-12 18:00:00'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_rows
          FROM ev),
        h AS (SELECT 'hour(ts)' AS layout,
            CAST(COUNT(DISTINCT strftime(t, '%Y-%m-%d-%H')) AS BIGINT)
              AS total_partitions,
            CAST(COUNT(DISTINCT CASE WHEN strftime(t, '%Y-%m-%d-%H')
                BETWEEN '2024-01-10-06' AND '2024-01-12-18'
                THEN strftime(t, '%Y-%m-%d-%H') END) AS BIGINT)
              AS kept_partitions,
            CAST(SUM(CASE WHEN t >= TIMESTAMP '2024-01-10 06:00:00'
                AND t <= TIMESTAMP '2024-01-12 18:00:00'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_rows
          FROM ev)
        SELECT * FROM d UNION ALL SELECT * FROM h ORDER BY layout""")),

    // Batch face of the STREAMING ANN probe (ivfIndexProbeFlags — the
    // r11 verdict #8 stream-static fragment): at FULL probing the
    // flagged set is definitionally every (query, corpus) pair at
    // cos ≥ minCos, so the stateless fragment gets a value-level DuckDB
    // oracle (the q31b trick applied to q25's threshold form); the
    // cross-batch streaming equivalence is pinned in StreamingSpec.
    "q364_ann_stream_flags" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val (cellRel, centRel) = Similarity.ivfIndexRelations(emb,
          "vec_id", "embedding", nlist = 16, iters = 5)
        Similarity.ivfIndexProbeFlags(cellRel, centRel,
            emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            nProbe = 16, minCos = 0.3)
          .orderBy("query_id", "id")
      },
      Some("""WITH v AS (SELECT vec_id AS id,
            list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e7)) AS e
          FROM embeddings),
        n AS (SELECT id, e,
            list_aggregate(list_transform(e, x -> x * x), 'sum') AS n2
          FROM v),
        q AS (SELECT id AS query_id, e AS qe, n2 AS qn FROM n WHERE id < 10),
        scored AS (SELECT q.query_id, b.id,
            list_aggregate(list_transform(range(1, len(q.qe) + 1),
              i -> q.qe[i] * b.e[i]), 'sum') / SQRT(q.qn * b.n2) AS cos
          FROM q JOIN n b ON q.query_id <> b.id)
        SELECT query_id, id, cos FROM scored WHERE cos >= 0.3
        ORDER BY query_id, id""")),

    // Luhn-checksum PII audit — the validity check every card-number
    // scanner runs after its regex (a 16-digit hit failing Luhn is a
    // random number, not PII). Deterministic candidates planted from
    // doc_id (the q52/q362 pattern): half carry the TRUE check digit,
    // half an off-by-one; the audit must separate them exactly. The
    // checksum (and the check-digit construction) is the same unrolled
    // double-and-fold arithmetic in Spark and the DuckDB oracle.
    "q365_luhn_audit" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val id = col("doc_id")
        val base = concat(lit("4"),
          lpad(((id * 7919) % 100000000000000L).cast("string"), 14, "0"))
        val check = TextFns.luhnCheckDigit(base)
        val cand = concat(base,
          when(id % 2 === 0, check).otherwise((check + 1) % 10)
            .cast("string"))
        docs.select(col("source"), cand.as("cand"))
          .withColumn("valid", TextFns.luhnValid(col("cand")))
          .groupBy("source").agg(
            count(lit(1)).as("n_candidates"),
            sum(when(col("valid"), 1L).otherwise(0L)).as("n_luhn_valid"),
            sum(when(col("valid"), 0L).otherwise(1L)).as("n_luhn_invalid"))
          .orderBy("source")
      },
      Some(s"""WITH b AS (SELECT doc_id, source,
          '4' || lpad(CAST((doc_id * 7919) % 100000000000000 AS VARCHAR),
            14, '0') AS base
        FROM documents),
        c AS (SELECT doc_id, source, base || CAST(CASE
            WHEN doc_id % 2 = 0 THEN ${TextFns.luhnCheckDigitSql("base")}
            ELSE (${TextFns.luhnCheckDigitSql("base")} + 1) % 10 END
            AS VARCHAR) AS cand
          FROM b),
        v AS (SELECT source,
            (${TextFns.luhnSumSql("cand")} % 10 = 0) AS valid FROM c)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_candidates,
          CAST(SUM(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT)
            AS n_luhn_valid,
          CAST(SUM(CASE WHEN valid THEN 0 ELSE 1 END) AS BIGINT)
            AS n_luhn_invalid
        FROM v GROUP BY source ORDER BY source""")),

    // Sentence segmentation stats per source — the context-length facts
    // a packing/chunking stage reads in SENTENCES (q56/q59 count
    // tokens): RE2-safe terminator split shared verbatim with the
    // oracle, whitespace-token lengths per sentence, per-source rollup.
    "q366_sentence_stats" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        TextOps.sentenceStats(docs, "doc_id", "text")
          .join(docs.select("doc_id", "source"), "doc_id")
          .groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_sentences")).as("n_sentences"),
            sum(col("n_sentence_tokens")).as("n_sentence_tokens"),
            max(col("max_sentence_tokens")).as("max_sentence_tokens"),
            (sum(col("n_sentence_tokens")).cast("double") /
              sum(col("n_sentences"))).as("avg_sentence_tokens"))
          .orderBy("source")
      },
      Some("""WITH s AS (SELECT doc_id, source,
          list_filter(string_split_regex(
            regexp_replace(trim(text), '[.!?]+\s*$', ''), '[.!?]+\s+'),
            x -> trim(x) <> '') AS sents
        FROM documents),
        p AS (SELECT source, len(sents) AS ns,
            COALESCE(list_aggregate(list_transform(sents,
              x -> len(string_split_regex(trim(x), '\s+'))), 'sum'), 0) AS nt,
            COALESCE(list_aggregate(list_transform(sents,
              x -> len(string_split_regex(trim(x), '\s+'))), 'max'), 0) AS mx
          FROM s)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(ns) AS BIGINT) AS n_sentences,
          CAST(SUM(nt) AS BIGINT) AS n_sentence_tokens,
          CAST(MAX(mx) AS BIGINT) AS max_sentence_tokens,
          CAST(SUM(nt) AS DOUBLE) / SUM(ns) AS avg_sentence_tokens
        FROM p GROUP BY source ORDER BY source""")),

    // ROUGE-N eval scoring (Lin 2004) — the n-gram overlap metric
    // summarization/distillation pipelines grade model outputs with,
    // over a deterministic (candidate, reference) pairing (adjacent
    // doc_ids within a source — the pairing is an INPUT to the
    // operator; eval sets arrive pre-paired). Clipped multiset overlap
    // as exact BIGINTs; ROUGE-1 and ROUGE-2 P/R/F per pair.
    "q367_rouge_overlap" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val w = Window.partitionBy("source").orderBy("doc_id")
        val pairs = graft.CacheScope.register(
          docs.select(col("source"), col("doc_id").as("id_a"),
              lead(col("doc_id"), 1).over(w).as("id_b"))
            .filter(col("id_b").isNotNull).select("id_a", "id_b"))
        val r1 = TextOps.rougeOverlap(docs, "doc_id", "text", pairs, 1)
          .select(col("id_a"), col("id_b"),
            col("overlap").as("n1_overlap"), col("cand_n").as("n1_cand"),
            col("ref_n").as("n1_ref"), col("p").as("rouge1_p"),
            col("r").as("rouge1_r"), col("f").as("rouge1_f"))
        val r2 = TextOps.rougeOverlap(docs, "doc_id", "text", pairs, 2)
          .select(col("id_a"), col("id_b"),
            col("overlap").as("n2_overlap"), col("p").as("rouge2_p"),
            col("r").as("rouge2_r"), col("f").as("rouge2_f"))
        r1.join(r2, Seq("id_a", "id_b")).orderBy("id_a")
      },
      Some("""WITH toks AS (SELECT doc_id, source,
            string_split_regex(lower(trim(text)), '\s+') AS l
          FROM documents),
        prs AS (SELECT doc_id AS id_a,
            lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS id_b
          FROM toks QUALIFY id_b IS NOT NULL),
        g1 AS (SELECT doc_id, unnest(l) AS g FROM toks),
        c1 AS (SELECT doc_id, g, COUNT(*) AS c FROM g1 GROUP BY 1, 2),
        t1 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tot FROM c1
               GROUP BY 1),
        g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(l)),
            i -> l[i] || ' ' || l[i + 1])) AS g
          FROM toks WHERE len(l) >= 2),
        c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
        t2 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tot FROM c2
               GROUP BY 1),
        o1 AS (SELECT p.id_a, p.id_b,
            CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS ov
          FROM prs p JOIN c1 a ON a.doc_id = p.id_a
          JOIN c1 b ON b.doc_id = p.id_b AND b.g = a.g GROUP BY 1, 2),
        o2 AS (SELECT p.id_a, p.id_b,
            CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS ov
          FROM prs p JOIN c2 a ON a.doc_id = p.id_a
          JOIN c2 b ON b.doc_id = p.id_b AND b.g = a.g GROUP BY 1, 2),
        f AS (SELECT p.id_a, p.id_b,
            COALESCE(o1.ov, 0) AS n1_overlap,
            COALESCE(ta.tot, 0) AS n1_cand, COALESCE(tb.tot, 0) AS n1_ref,
            COALESCE(o2.ov, 0) AS n2_overlap,
            COALESCE(t2a.tot, 0) AS n2_cand, COALESCE(t2b.tot, 0) AS n2_ref
          FROM prs p
          LEFT JOIN o1 ON o1.id_a = p.id_a AND o1.id_b = p.id_b
          LEFT JOIN t1 ta ON ta.doc_id = p.id_a
          LEFT JOIN t1 tb ON tb.doc_id = p.id_b
          LEFT JOIN o2 ON o2.id_a = p.id_a AND o2.id_b = p.id_b
          LEFT JOIN t2 t2a ON t2a.doc_id = p.id_a
          LEFT JOIN t2 t2b ON t2b.doc_id = p.id_b),
        m AS (SELECT *,
            CASE WHEN n1_cand > 0
              THEN CAST(n1_overlap AS DOUBLE) / n1_cand ELSE 0.0 END AS p1,
            CASE WHEN n1_ref > 0
              THEN CAST(n1_overlap AS DOUBLE) / n1_ref ELSE 0.0 END AS r1,
            CASE WHEN n2_cand > 0
              THEN CAST(n2_overlap AS DOUBLE) / n2_cand ELSE 0.0 END AS p2,
            CASE WHEN n2_ref > 0
              THEN CAST(n2_overlap AS DOUBLE) / n2_ref ELSE 0.0 END AS r2
          FROM f)
        SELECT id_a, id_b, n1_overlap, n1_cand, n1_ref,
          p1 AS rouge1_p, r1 AS rouge1_r,
          CASE WHEN p1 + r1 > 0 THEN 2.0 * p1 * r1 / (p1 + r1)
            ELSE 0.0 END AS rouge1_f,
          n2_overlap, p2 AS rouge2_p, r2 AS rouge2_r,
          CASE WHEN p2 + r2 > 0 THEN 2.0 * p2 * r2 / (p2 + r2)
            ELSE 0.0 END AS rouge2_f
        FROM m ORDER BY id_a""")),

    // 7×24 seasonality profile of the event stream — per (dow, hod)
    // cell: count, weekday calendar days, exact micro events/day mean
    // and deviation from the global events/hour grand mean. Absent
    // cells are genuine zeros from the calendar spine.
    "q183_seasonality_profile" -> Q(
      (s, dir) => Analytics.seasonalityProfile(t(s, dir, "events"), "ts")
        .orderBy("dow", "hod"),
      Some("""WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS t FROM events
               WHERE ts IS NOT NULL),
        bounds AS (SELECT CAST(MIN(t) AS DATE) AS lo,
                   CAST(MAX(t) AS DATE) AS hi FROM ev),
        dates AS (SELECT CAST(g.h AS DATE) AS d FROM
          (SELECT unnest(generate_series(
              CAST((SELECT lo FROM bounds) AS TIMESTAMP),
              CAST((SELECT hi FROM bounds) AS TIMESTAMP),
              INTERVAL 1 DAY)) AS h) g),
        dd AS (SELECT dayofweek(d) + 1 AS dow, COUNT(*) AS n_days
               FROM dates GROUP BY 1),
        nh AS (SELECT COUNT(*) * 24 AS n_hours FROM dates),
        nn AS (SELECT COUNT(*) AS n FROM ev),
        cnt AS (SELECT dayofweek(CAST(t AS DATE)) + 1 AS dow,
                hour(t) AS hod, COUNT(*) AS n_events FROM ev GROUP BY 1, 2),
        cells AS (SELECT dd.dow, g.hod, dd.n_days,
            COALESCE(c.n_events, 0) AS n_events
          FROM dd CROSS JOIN (SELECT unnest(range(0, 24)) AS hod) g
          LEFT JOIN cnt c ON c.dow = dd.dow AND c.hod = g.hod)
        SELECT CAST(dow AS BIGINT) AS dow, CAST(hod AS BIGINT) AS hod,
          CAST(n_events AS BIGINT) AS n_events,
          CAST(n_days AS BIGINT) AS n_days,
          CAST(floor((n_events * 2000000 + n_days) / (2 * n_days)) AS BIGINT)
            AS mean_micro,
          CAST(floor(((SELECT n FROM nn) * 2000000 + (SELECT n_hours FROM nh))
            / (2 * (SELECT n_hours FROM nh))) AS BIGINT) AS grand_mean_micro,
          CAST(floor((n_events * 2000000 + n_days) / (2 * n_days)) AS BIGINT)
            - CAST(floor(((SELECT n FROM nn) * 2000000 + (SELECT n_hours FROM nh))
              / (2 * (SELECT n_hours FROM nh))) AS BIGINT) AS deviation_micro
        FROM cells ORDER BY dow, hod""")),

    // Conditional entropy rate H(next | current) of the per-user event
    // process — the predictability scalar over q127's transition matrix
    // (micro-log identity, per-state rows + one total row with the
    // final division).
    "q184_entropy_rate" -> Q(
      (s, dir) => {
        val counts = Analytics.transitionMatrix(t(s, dir, "events"),
          "user_id", "event_type", "ts", "event_id")
        Quality.entropyRate(counts, "from_type", "n")
          .withColumnRenamed("state", "from_type")
          .orderBy(col("from_type").asc_nulls_last)
      },
      Some("""WITH ordered AS (SELECT event_type AS f,
            lead(event_type) OVER (PARTITION BY user_id
              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS t2
          FROM events),
        c AS (SELECT f AS from_type, t2 AS to_type, COUNT(*) AS n
              FROM ordered WHERE t2 IS NOT NULL GROUP BY 1, 2),
        w AS (SELECT from_type, n,
              SUM(n) OVER (PARTITION BY from_type) AS ni FROM c),
        per AS (SELECT from_type, CAST(MAX(ni) AS BIGINT) AS n_from,
            CAST(SUM(n * (CAST(round(ln(ni) * 1e6) AS BIGINT)
              - CAST(round(ln(n) * 1e6) AS BIGINT))) AS BIGINT)
              AS h_micro_sum
          FROM w GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_from) AS BIGINT) AS n,
                CAST(SUM(h_micro_sum) AS BIGINT) AS h FROM per)
        SELECT from_type, n_from, h_micro_sum,
          CAST(NULL AS DOUBLE) AS entropy_rate FROM per
        UNION ALL
        SELECT NULL, (SELECT n FROM tot), (SELECT h FROM tot),
          CAST((SELECT h FROM tot) AS DOUBLE)
            / ((SELECT n FROM tot) * 1000000.0)
        ORDER BY from_type NULLS LAST""")),

    // HITS hubs & authorities on the customer→part purchase graph —
    // integer fixed point (1e9 grid, truncating renormalization; the
    // pageRank contract), 2 unrolled rounds in the oracle.
    "q185_hits" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
        val edges = o.join(li, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
        Graphs.hits(edges, "src", "dst", iters = 2)
          .orderBy("side", "id")
      },
      Some {
        def half(src: String, dst: String, score: String, prev: String,
            cur: String): String =
          s"""${cur}r AS (SELECT e.$dst AS id, SUM(p.$score) AS v
              FROM e JOIN $prev p ON p.id = e.$src GROUP BY 1),
            ${cur}t AS (SELECT SUM(v) AS t FROM ${cur}r),
            $cur AS MATERIALIZED (SELECT id,
              (v * 1000000000) // (SELECT t FROM ${cur}t) AS v FROM ${cur}r)"""
        s"""WITH e AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS src,
              l.l_partkey AS dst
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE o.o_custkey IS NOT NULL AND l.l_partkey IS NOT NULL),
          nh AS (SELECT COUNT(DISTINCT src) AS n FROM e),
          h0 AS MATERIALIZED (SELECT DISTINCT src AS id,
            1000000000 // (SELECT n FROM nh) AS v FROM e),
          ${half("src", "dst", "v", "h0", "a1")},
          ${half("dst", "src", "v", "a1", "h1")},
          ${half("src", "dst", "v", "h1", "a2")},
          ${half("dst", "src", "v", "a2", "h2")}
          SELECT id, side, score_scaled FROM (
            SELECT id, 'hub' AS side, CAST(v AS BIGINT) AS score_scaled
            FROM h2
            UNION ALL
            SELECT id, 'authority', CAST(v AS BIGINT) FROM a2)
          ORDER BY side, id"""
      }),

    // Fano factor (var/mean of hourly counts) per event type on the
    // shared dense hour grid — the burstiness audit: Poisson ≈ 1,
    // bursty ≫ 1. Exact cleared-form (n·Q − S²)/(n·S).
    "q186_fano_burstiness" -> Q(
      (s, dir) => Temporal.hourlyFano(t(s, dir, "events"),
          "event_type", "ts")
        .orderBy("event_type"),
      Some("""WITH ev AS (SELECT event_type AS k,
                date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
              FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        counts AS (SELECT k, h, COUNT(*) AS x FROM ev GROUP BY 1, 2),
        nh AS (SELECT date_diff('hour', MIN(h), MAX(h)) + 1 AS n FROM ev),
        agg AS (SELECT k, CAST(SUM(x) AS BIGINT) AS s,
                CAST(SUM(x * x) AS BIGINT) AS q FROM counts GROUP BY 1)
        SELECT k AS event_type, CAST((SELECT n FROM nh) AS BIGINT) AS n_hours,
          s, q AS sum_sq,
          CAST((SELECT n FROM nh) * q - s * s AS DOUBLE)
            / CAST((SELECT n FROM nh) * s AS DOUBLE) AS fano
        FROM agg ORDER BY event_type""")),

    // Lead-lag cross-correlation view ↔ purchase at lags −12..12 hours
    // — the aggregate-level conversion-latency face of q130. q168's
    // exactness scheme lifted to two series.
    "q187_lead_lag" -> Q(
      (s, dir) => Temporal.crossCorrHourly(t(s, dir, "events"), "ts",
        "event_type", "view", "purchase", 12),
      Some("""WITH obs AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cx,
                SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cy
              FROM events
              WHERE ts IS NOT NULL AND event_type IN ('view', 'purchase')
              GROUP BY 1),
        bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM obs),
        grid AS (SELECT g.h, COALESCE(o.cx, 0) AS x, COALESCE(o.cy, 0) AS y
          FROM (SELECT unnest(generate_series((SELECT lo FROM bounds),
                  (SELECT hi FROM bounds), INTERVAL 1 HOUR)) AS h) g
          LEFT JOIN obs o ON o.h = g.h),
        tot AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy FROM grid),
        cen AS (SELECT h,
            (SELECT n FROM tot) * x - (SELECT sx FROM tot) AS ex,
            (SELECT n FROM tot) * y - (SELECT sy FROM tot) AS ey
          FROM grid),
        dens AS (SELECT SUM(ex * ex) AS dx, SUM(ey * ey) AS dy FROM cen),
        pairs AS (SELECT k.lag, SUM(a.ex * b.ey) AS num, COUNT(*) AS n_pairs
          FROM (SELECT unnest(range(-12, 13)) AS lag) k
          CROSS JOIN cen a
          JOIN cen b ON b.h = a.h + k.lag * INTERVAL 1 HOUR
          GROUP BY 1)
        SELECT CAST(lag AS BIGINT) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
          CAST(num AS BIGINT) AS num_scaled,
          CASE WHEN (SELECT dx FROM dens) <> 0
               AND (SELECT dy FROM dens) <> 0 THEN
            CAST(num AS DOUBLE) / sqrt(CAST((SELECT dx FROM dens) AS DOUBLE)
              * CAST((SELECT dy FROM dens) AS DOUBLE))
          END AS r
        FROM pairs ORDER BY lag""")),

    // Nearest-centroid (Rocchio) classifier confusion matrix over the
    // labeled embeddings: per-label grid-mean centroids (the kmeans
    // re-quantization), exact integer-product distances, ties to the
    // smaller label.
    "q188_nearest_centroid" -> Q(
      (s, dir) => Similarity.nearestCentroidConfusion(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .orderBy("label", "predicted"),
      Some("""WITH q AS (SELECT vec_id, label,
            list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e7)) AS qv
          FROM embeddings WHERE label IS NOT NULL),
        dims AS (SELECT label, unnest(list_transform(range(0, len(qv)),
            i -> {'pos': i, 'v': qv[i + 1]})) AS u FROM q),
        cm AS (SELECT label, u.pos AS pos, round(SUM(u.v) / COUNT(*)) AS gm
               FROM dims GROUP BY 1, 2),
        cl AS (SELECT label AS cid, list(gm ORDER BY pos) AS cv
               FROM cm GROUP BY 1),
        scored AS (SELECT q.vec_id, q.label, c.cid,
            list_sum(list_transform(c.cv, x -> x * x))
              - 2.0 * list_inner_product(q.qv, c.cv) AS d2
          FROM q CROSS JOIN cl c),
        pred AS (SELECT vec_id, label, cid FROM (
            SELECT vec_id, label, cid,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY d2, cid) AS rn
            FROM scored) WHERE rn = 1)
        SELECT CAST(label AS BIGINT) AS label, CAST(cid AS BIGINT) AS predicted,
          COUNT(*) AS n
        FROM pred GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Near-dup component-size histogram — the dedup shape summary: how
    // many pair-clusters vs giant template families. Composes the gated
    // CC fixpoint; output is (size, n_components).
    "q189_component_sizes" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = lshPairs(s, dir)
        Graphs.connectedComponents(pairs, "id_a", "id_b")
          .groupBy("component").agg(count(lit(1)).as("size"))
          .groupBy("size").agg(count(lit(1)).as("n_components"))
          .orderBy("size")
      },
      Some(s"""WITH RECURSIVE ${nearDupEdgesCte(0.8)},
        walk(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst),
        comp AS (SELECT id, MIN(lbl) AS component FROM walk GROUP BY id),
        csizes AS (SELECT component, COUNT(*) AS size FROM comp GROUP BY 1)
        SELECT CAST(size AS BIGINT) AS size, COUNT(*) AS n_components
        FROM csizes GROUP BY 1 ORDER BY 1""")),

    // Degree distribution of the near-dup graph with a power-law slope
    // fitted on the micro-log grid over the HISTOGRAM rows (q138's
    // Zipf machinery): histogram rows + one total row (degree NULL)
    // carrying the OLS slope of ln(n_nodes) on ln(degree).
    "q190_degree_powerlaw" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = lshPairs(s, dir)
        val deg = pairs
          .select(explode(array(col("id_a"), col("id_b"))).as("id"))
          .groupBy("id").agg(count(lit(1)).as("degree"))
        val hist = graft.CacheScope.register(
          deg.groupBy("degree").agg(count(lit(1)).as("n_nodes")))
        def lnM(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          round(log(c.cast("double")) * 1e6).cast("long")
        val fit = hist
          .select(lnM(col("degree")).as("x"), lnM(col("n_nodes")).as("y"),
            col("n_nodes"))
          .agg(count(lit(1)).as("np"), sum(col("n_nodes")).as("tot"),
            sum(col("x").cast("decimal(38,0)")).cast("decimal(38,0)").as("sx"),
            sum(col("y").cast("decimal(38,0)")).cast("decimal(38,0)").as("sy"),
            sum((col("x") * col("x")).cast("decimal(38,0)"))
              .cast("decimal(38,0)").as("sxx"),
            sum((col("x") * col("y")).cast("decimal(38,0)"))
              .cast("decimal(38,0)").as("sxy"))
          .select(lit(null).cast("long").as("degree"), col("tot").as("n_nodes"),
            when(col("np") >= 2 &&
              (col("np") * col("sxx") - col("sx") * col("sx")) =!= 0,
              (col("np") * col("sxy") - col("sx") * col("sy")).cast("double") /
                (col("np") * col("sxx") - col("sx") * col("sx")).cast("double"))
              .as("slope"))
        hist.select(col("degree"), col("n_nodes"),
            lit(null).cast("double").as("slope"))
          .unionByName(fit)
          .orderBy(col("degree").asc_nulls_last)
      },
      Some(s"""WITH ${nearDupEdgesCte(0.8)},
        deg AS (SELECT id, COUNT(*) AS degree FROM (
            SELECT id_a AS id FROM prs UNION ALL SELECT id_b FROM prs)
          GROUP BY 1),
        hist AS (SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY 1),
        pts AS (SELECT CAST(round(ln(degree) * 1e6) AS BIGINT) AS x,
                CAST(round(ln(n_nodes) * 1e6) AS BIGINT) AS y, n_nodes
                FROM hist),
        fit AS (SELECT COUNT(*) AS np, SUM(n_nodes) AS tot,
                SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx,
                SUM(x * y) AS sxy FROM pts)
        SELECT CAST(degree AS BIGINT) AS degree,
          CAST(n_nodes AS BIGINT) AS n_nodes, CAST(NULL AS DOUBLE) AS slope
        FROM hist
        UNION ALL
        SELECT NULL, CAST(tot AS BIGINT),
          CASE WHEN np >= 2 AND np * sxx - sx * sx <> 0 THEN
            CAST(np * sxy - sx * sy AS DOUBLE)
              / CAST(np * sxx - sx * sx AS DOUBLE)
          END
        FROM fit
        ORDER BY degree NULLS LAST""")),

    // Degree assortativity of the near-dup graph — do high-degree docs
    // link to high-degree docs (template families, r > 0) or to leaves
    // (hub-and-spoke boilerplate, r < 0)? Pearson over the symmetrized
    // edge endpoint degrees, exact DECIMAL moments, one final IEEE
    // chain.
    "q191_assortativity" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = lshPairs(s, dir)
        val deg = pairs
          .select(explode(array(col("id_a"), col("id_b"))).as("id"))
          .groupBy("id").agg(count(lit(1)).as("d"))
        val pts = pairs
          .join(deg.select(col("id").as("id_a"), col("d").as("da")), "id_a")
          .join(deg.select(col("id").as("id_b"), col("d").as("db")), "id_b")
          .select(explode(array(
            struct(col("da").as("x"), col("db").as("y")),
            struct(col("db").as("x"), col("da").as("y")))).as("p"))
          .select(col("p.x").as("x"), col("p.y").as("y"))
        def dsum(c: org.apache.spark.sql.Column) =
          sum(c.cast("decimal(38,0)")).cast("decimal(38,0)")
        pts.agg(count(lit(1)).as("n_points"),
            dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
            dsum(col("x") * col("x")).as("sxx"),
            dsum(col("y") * col("y")).as("syy"),
            dsum(col("x") * col("y")).as("sxy"))
          .select(col("n_points"),
            col("sx").cast("long").as("sx"), col("sxy").cast("long").as("sxy"),
            col("sxx").cast("long").as("sxx"),
            when((col("n_points") * col("sxx") - col("sx") * col("sy")) =!= 0,
              (col("n_points") * col("sxy") - col("sx") * col("sy"))
                .cast("double") /
                sqrt((col("n_points") * col("sxx") - col("sx") * col("sx"))
                  .cast("double") *
                  (col("n_points") * col("syy") - col("sy") * col("sy"))
                    .cast("double"))).as("assortativity"))
      },
      Some(s"""WITH ${nearDupEdgesCte(0.8)},
        deg AS (SELECT id, COUNT(*) AS d FROM (
            SELECT id_a AS id FROM prs UNION ALL SELECT id_b FROM prs)
          GROUP BY 1),
        pts AS (SELECT da.d AS x, db.d AS y FROM prs
            JOIN deg da ON da.id = prs.id_a JOIN deg db ON db.id = prs.id_b
          UNION ALL
          SELECT db.d, da.d FROM prs
            JOIN deg da ON da.id = prs.id_a JOIN deg db ON db.id = prs.id_b),
        agg AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
                FROM pts)
        SELECT CAST(n AS BIGINT) AS n_points, CAST(sx AS BIGINT) AS sx,
          CAST(sxy AS BIGINT) AS sxy, CAST(sxx AS BIGINT) AS sxx,
          CASE WHEN n * sxx - sx * sy <> 0 THEN
            CAST(n * sxy - sx * sy AS DOUBLE)
              / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE))
          END AS assortativity
        FROM agg""")),

    // Source concentration (Lorenz) curve: sources ranked by token mass
    // with exact cumulative tokens and share — "90% of the corpus is 3
    // domains" in one relation. Windows over the |sources| grid only.
    "q192_source_concentration" -> Q(
      (s, dir) => {
        val perSource = t(s, dir, "documents")
          .select(col("source"),
            size(graft.functions.TextFns.tokens(col("text"))).cast("long")
              .as("tk"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("tk").as("n_tokens"))
        val w = Window.orderBy(col("n_tokens").desc, col("source"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = perSource.agg(sum("n_tokens").as("t"))
        perSource.crossJoin(broadcast(tot))
          .select(
            row_number().over(Window.orderBy(col("n_tokens").desc,
              col("source"))).cast("long").as("rank"),
            col("source"), col("n_docs"), col("n_tokens"),
            sum("n_tokens").over(w).as("cum_tokens"),
            (sum("n_tokens").over(w).cast("double") / col("t").cast("double"))
              .as("cum_share"))
          .orderBy("rank")
      },
      Some("""WITH ps AS (SELECT source, COUNT(*) AS n_docs,
              CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT)
                AS n_tokens
            FROM documents GROUP BY 1),
        tot AS (SELECT SUM(n_tokens) AS t FROM ps)
        SELECT CAST(row_number() OVER (ORDER BY n_tokens DESC, source) AS BIGINT)
            AS rank,
          source, n_docs, n_tokens,
          CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_tokens,
          CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            / CAST((SELECT t FROM tot) AS DOUBLE) AS cum_share
        FROM ps ORDER BY rank""")),

    // Media dedup CLUSTERS: q136's pHash near-dup pairs → connected
    // components → per-cluster size + min-id survivor — the multimodal
    // face of q55's text clustering (payloads never shuffle; only
    // 16-byte signatures and the pair relation move).
    "q193_phash_clusters" -> Q(
      (s, dir) => {
        val pairs = Multimodal.phashNearDup(
          Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text"), 7)
        Graphs.connectedComponents(pairs, "doc_a", "doc_b")
          .groupBy("component")
          .agg(count(lit(1)).as("n_members"), min(col("id")).as("survivor"))
          .orderBy("component")
      },
      Some("""WITH RECURSIVE hx AS (SELECT doc_id, hex(encode(text)) AS h,
              octet_length(encode(text)) AS n FROM documents),
        cells AS (SELECT doc_id, list_transform(range(64), j ->
            16 * (strpos('0123456789ABCDEF',
                         substring(h, 2*(1 + (j*n)//64) - 1, 1)) - 1)
               + (strpos('0123456789ABCDEF',
                         substring(h, 2*(1 + (j*n)//64), 1)) - 1)) AS cells
          FROM hx),
        tot AS (SELECT doc_id, cells, list_aggregate(cells, 'sum') AS total
          FROM cells),
        bands AS (SELECT doc_id, list_transform(range(8), b ->
            list_aggregate(list_transform(range(8), k ->
              CASE WHEN cells[8*b + k + 1] * 64 > total
                   THEN (1 << k) ELSE 0 END), 'sum')) AS bands
          FROM tot),
        prs2 AS MATERIALIZED (SELECT doc_a, doc_b FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(bit_count(xor(a.bands[1]::BIGINT, b.bands[1]::BIGINT))
               + bit_count(xor(a.bands[2]::BIGINT, b.bands[2]::BIGINT))
               + bit_count(xor(a.bands[3]::BIGINT, b.bands[3]::BIGINT))
               + bit_count(xor(a.bands[4]::BIGINT, b.bands[4]::BIGINT))
               + bit_count(xor(a.bands[5]::BIGINT, b.bands[5]::BIGINT))
               + bit_count(xor(a.bands[6]::BIGINT, b.bands[6]::BIGINT))
               + bit_count(xor(a.bands[7]::BIGINT, b.bands[7]::BIGINT))
               + bit_count(xor(a.bands[8]::BIGINT, b.bands[8]::BIGINT))
              AS INTEGER) AS hamming
          FROM bands a JOIN bands b ON a.doc_id < b.doc_id)
          WHERE hamming <= 7),
        edges2 AS (SELECT doc_a AS src, doc_b AS dst FROM prs2
                   UNION SELECT doc_b, doc_a FROM prs2),
        walk(id, lbl) AS (
          SELECT src, src FROM edges2
          UNION
          SELECT e.src, w.lbl FROM edges2 e JOIN walk w ON w.id = e.dst),
        comp AS (SELECT id, MIN(lbl) AS component FROM walk GROUP BY id)
        SELECT component, COUNT(*) AS n_members,
          MIN(id) AS survivor
        FROM comp GROUP BY 1 ORDER BY 1""")),

    // Joint text+embedding curation gate: a doc survives only if its
    // heuristic quality clears the bar AND its embedding is not a
    // centroid-distance outlier — the cross-modal filter rule (bad text
    // OR off-manifold embedding both disqualify). Composes the two
    // gated families; inner join = docs with an embedding.
    "q194_joint_curation_gate" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val emb = t(s, dir, "embeddings")
        val outliers = Similarity.embeddingOutliers(emb, "vec_id",
            "embedding", k = 8, maxD2 = 1.9e14)
          .select(col("id").as("doc_id"), col("is_outlier"))
        val feats = TextOps.qualityFeatures(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality_score_micro"))
        docs.select(col("doc_id")).join(feats, "doc_id")
          .join(outliers, "doc_id")
          .select(col("doc_id"),
            (col("quality_score_micro") >= 500000L).as("pass_quality"),
            (!col("is_outlier")).as("pass_embedding"),
            ((col("quality_score_micro") >= 500000L) && !col("is_outlier"))
              .as("kept"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${qualityMicroSql("doc_id")},
        q AS (SELECT vec_id,
            list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e7)) AS qv
          FROM embeddings),
        seeds AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < 8),
        scored AS (SELECT q.vec_id, s.cid,
            list_sum(list_transform(q.qv, x -> x*x)) AS vn,
            list_sum(list_transform(s.cv, x -> x*x))
              - 2.0 * list_inner_product(q.qv, s.cv) AS d2p
          FROM q CROSS JOIN seeds s),
        best AS (SELECT vec_id, vn + d2p AS d2 FROM (
            SELECT vec_id, vn, d2p,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY d2p, cid) AS rn
            FROM scored) WHERE rn = 1),
        eg AS (SELECT vec_id AS doc_id, d2 > 1.9e14 AS is_outlier FROM best)
        SELECT d.doc_id,
          qm.quality_score_micro >= 500000 AS pass_quality,
          NOT e.is_outlier AS pass_embedding,
          (qm.quality_score_micro >= 500000 AND NOT e.is_outlier) AS kept
        FROM documents d
        JOIN __qm qm USING (doc_id)
        JOIN eg e USING (doc_id)
        ORDER BY doc_id""")),

    // Strict in-session funnel view→click→purchase (30-min gap
    // sessions): each stage must follow the previous one INSIDE the
    // session — the conversion question q124's global funnel can't
    // answer. One row of exact session counts.
    "q195_session_funnel" -> Q(
      (s, dir) => Temporal.sessionFunnel(t(s, dir, "events"), "user_id",
        "ts", "event_id", "view", "click", "purchase", "event_type", 30),
      Some("""WITH ev AS (SELECT user_id, event_id, event_type,
                epoch_us(CAST(ts AS TIMESTAMP)) AS t
              FROM events WHERE ts IS NOT NULL
                AND event_type IN ('view', 'click', 'purchase')),
        tagged AS (SELECT *, CASE WHEN t - lag(t) OVER
              (PARTITION BY user_id ORDER BY t, event_id) > 1800000000
            THEN 1 ELSE 0 END AS nw
          FROM ev),
        sess AS (SELECT *, SUM(nw) OVER (PARTITION BY user_id
            ORDER BY t, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM tagged),
        st1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN t END)
            OVER (PARTITION BY user_id, sid ORDER BY t, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rv
          FROM sess),
        st2 AS (SELECT *, CASE WHEN event_type = 'click'
            AND rv IS NOT NULL THEN t END AS qc FROM st1),
        st3 AS (SELECT *, MIN(qc) OVER (PARTITION BY user_id, sid
            ORDER BY t, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rqc
          FROM st2),
        per AS (SELECT user_id, sid,
            MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1,
            MAX(CASE WHEN qc IS NOT NULL THEN 1 ELSE 0 END) AS s2,
            MAX(CASE WHEN event_type = 'purchase' AND rqc IS NOT NULL
                THEN 1 ELSE 0 END) AS s3
          FROM st3 GROUP BY 1, 2)
        SELECT COUNT(*) AS n_sessions, CAST(SUM(s1) AS BIGINT) AS n_stage1,
          CAST(SUM(s2) AS BIGINT) AS n_stage2,
          CAST(SUM(s3) AS BIGINT) AS n_stage3
        FROM per""")),

    // Weighted PageRank over the near-dup graph — Jaccard-micro edge
    // weights pull rank proportionally ((r·w) div W_out, truncating
    // integer fixed point); 3 unrolled weighted iterations in the
    // oracle.
    "q196_weighted_pagerank" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = lshPairs(s, dir)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard") * 1e6).cast("long").as("w_micro"))
        Graphs.weightedPageRank(docs.select(col("doc_id")), "doc_id",
            pairs, "id_a", "id_b", "w_micro", iters = 3)
          .orderBy("doc_id")
      },
      Some {
        def iter(prev: String, cur: String): String =
          s"""d$cur AS (SELECT COALESCE(SUM(r), 0) AS dt
              FROM r$prev LEFT JOIN outw USING (id) WHERE w_out IS NULL),
            in$cur AS (SELECT e.dst AS id, SUM((rp.r * e.w) // ow.w_out) AS s
              FROM ew e
              JOIN r$prev rp ON e.src = rp.id
              JOIN outw ow ON e.src = ow.id
              GROUP BY 1),
            r$cur AS MATERIALIZED (SELECT u.id,
                (15 * (1000000000000 // (SELECT n FROM nn))) // 100
                + (85 * (COALESCE(i.s, 0)
                         + (SELECT dt FROM d$cur) // (SELECT n FROM nn))) // 100 AS r
              FROM r0 u LEFT JOIN in$cur i USING (id))"""
        s"""WITH ${nearDupEdgesCte(0.8)},
          wp AS (SELECT id_a, id_b,
              CAST(round(jaccard * 1e6) AS BIGINT) AS w FROM prs),
          ew AS MATERIALIZED (SELECT src, dst, MAX(w) AS w FROM (
              SELECT id_a AS src, id_b AS dst, w FROM wp
              UNION ALL SELECT id_b, id_a, w FROM wp)
            WHERE w > 0 GROUP BY 1, 2),
          outw AS (SELECT src AS id, SUM(w) AS w_out FROM ew GROUP BY 1),
          nn AS (SELECT COUNT(*) AS n FROM documents),
          r0 AS (SELECT doc_id AS id,
              1000000000000 // (SELECT n FROM nn) AS r FROM documents),
          ${iter("0", "1")},
          ${iter("1", "2")},
          ${iter("2", "3")}
          SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_micro
          FROM r3 ORDER BY doc_id"""
      }),

    // Discount elasticity: per order-priority OLS of quantity on
    // discount — "does discounting move volume, and where" (q132's
    // exact-moment machinery pointed at the pricing question).
    "q197_discount_elasticity" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .join(t(s, dir, "orders").select(col("o_orderkey"),
            col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
        Quality.olsRegression(li, "o_orderpriority", "l_discount",
            "l_quantity")
          .orderBy("o_orderpriority")
      },
      Some {
        def m(c: String) = s"CAST(CAST(round($c * 1e6) AS BIGINT) AS DECIMAL(19,0))"
        def v(c: String) = s"$c IS NOT NULL AND isfinite(CAST($c AS DOUBLE)) " +
          s"AND abs(CAST($c AS DOUBLE)) < 1e9"
        val f = s"FILTER (WHERE ${v("l_discount")} AND ${v("l_quantity")})"
        val n = "CAST(n AS DOUBLE)"
        val sx = "CAST(sx AS DOUBLE)"; val sy = "CAST(sy AS DOUBLE)"
        val sxx = "CAST(sxx AS DOUBLE)"; val syy = "CAST(syy AS DOUBLE)"
        val sxy = "CAST(sxy AS DOUBLE)"
        val varx = s"($n * $sxx - $sx * $sx)"
        val vary = s"($n * $syy - $sy * $sy)"
        val cov = s"($n * $sxy - $sx * $sy)"
        s"""WITH li AS (SELECT o.o_orderpriority, l.l_discount, l.l_quantity
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
          a AS (SELECT o_orderpriority,
            COUNT(*) $f AS n,
            CAST(SUM(${m("l_discount")}) $f AS DECIMAL(38,0)) AS sx,
            CAST(SUM(${m("l_quantity")}) $f AS DECIMAL(38,0)) AS sy,
            CAST(SUM(${m("l_discount")} * ${m("l_discount")}) $f AS DECIMAL(38,0)) AS sxx,
            CAST(SUM(${m("l_quantity")} * ${m("l_quantity")}) $f AS DECIMAL(38,0)) AS syy,
            CAST(SUM(${m("l_discount")} * ${m("l_quantity")}) $f AS DECIMAL(38,0)) AS sxy
          FROM li GROUP BY 1)
        SELECT o_orderpriority, n,
          CASE WHEN $varx > 0 THEN $cov / $varx END AS slope,
          CASE WHEN $varx > 0
            THEN (($sy - ($cov / $varx) * $sx) / $n) / 1e6 END AS intercept,
          CASE WHEN $varx > 0 AND $vary > 0
            THEN ($cov * $cov) / ($varx * $vary) END AS r2
        FROM a ORDER BY o_orderpriority"""
      }),

    // ABC inventory classification: parts ranked by exact micro revenue,
    // cumulative share, and the classic A (≤70%), B (≤90%), C buckets —
    // the warehouse curation rule for stocking attention. Windows over
    // the |parts| dimension grid only; classification thresholds compare
    // exact integers (cum·100 vs total·k), never float shares.
    "q198_inventory_abc" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val perPart = li.groupBy(col("l_partkey"))
          .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 1e2).cast("long")).as("rev_cents"))
        val wOrd = Window.orderBy(col("rev_cents").desc, col("l_partkey"))
        val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = perPart.agg(sum("rev_cents").as("t"))
        perPart.crossJoin(broadcast(tot))
          .select(
            row_number().over(wOrd).cast("long").as("rank"),
            col("l_partkey"), col("rev_cents"),
            sum("rev_cents").over(wCum).as("cum_cents"), col("t"))
          .select(col("rank"), col("l_partkey"), col("rev_cents"),
            col("cum_cents"),
            when(col("cum_cents") * 100L <= col("t") * 70L, "A")
              .when(col("cum_cents") * 100L <= col("t") * 90L, "B")
              .otherwise("C").as("abc_class"))
          .orderBy("rank")
      },
      Some("""WITH pp AS (SELECT l_partkey,
              CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 1e2)
                AS BIGINT)) AS BIGINT) AS rev_cents
            FROM lineitem GROUP BY 1),
        tot AS (SELECT SUM(rev_cents) AS t FROM pp),
        r AS (SELECT CAST(row_number() OVER
              (ORDER BY rev_cents DESC, l_partkey) AS BIGINT) AS rank,
            l_partkey, rev_cents,
            CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cum_cents
          FROM pp)
        SELECT rank, l_partkey, rev_cents, cum_cents,
          CASE WHEN cum_cents * 100 <= (SELECT t FROM tot) * 70 THEN 'A'
               WHEN cum_cents * 100 <= (SELECT t FROM tot) * 90 THEN 'B'
               ELSE 'C' END AS abc_class
        FROM r ORDER BY rank""")),

    // Cross-source duplication matrix — "which sources copy from which":
    // near-dup pairs joined to both endpoints' sources, counted per
    // ordered (source_a ≤ source_b) cell. The provenance face of the
    // dedup family.
    "q199_cross_source_dups" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = lshPairs(s, dir)
        val src = docs.select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")),
            "id_a")
          .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")),
            "id_b")
          .groupBy(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH ${nearDupEdgesCte(0.8)},
        src AS (SELECT doc_id, source FROM documents)
        SELECT least(sa.source, sb.source) AS source_a,
          greatest(sa.source, sb.source) AS source_b,
          COUNT(*) AS n_pairs
        FROM prs
        JOIN src sa ON sa.doc_id = prs.id_a
        JOIN src sb ON sb.doc_id = prs.id_b
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Rolling exact-median anomaly: per event_type daily volumes vs the
    // trailing-7-observed-days median — robust alerting (a spike day
    // cannot drag its own baseline). median×2 via sorted-window-list
    // extraction keeps even-n averaging in the integers; anomaly tests
    // are pure BIGINT (4·cnt vs 1|3·median×2). No doubles anywhere.
    "q200_rolling_median" -> Q(
      (s, dir) => Temporal.rollingMedianAnomaly(t(s, dir, "events"),
          "event_type", "ts", 7)
        .orderBy("event_type", "day"),
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
              COUNT(*) AS cnt
            FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
            GROUP BY 1, 2),
        win AS (SELECT event_type, day, cnt,
            list_sort(list(cnt) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS l
          FROM daily),
        med AS (SELECT event_type, day, cnt,
            CAST(len(l) AS BIGINT) AS n_window,
            CAST(l[CAST((len(l) + 1) // 2 AS INT)]
               + l[CAST((len(l) + 2) // 2 AS INT)] AS BIGINT) AS median_x2
          FROM win)
        SELECT event_type, day, cnt, n_window, median_x2,
          (n_window >= 4 AND (cnt * 4 > median_x2 * 3
            OR cnt * 4 < median_x2)) AS is_anomaly
        FROM med ORDER BY event_type, day""")),

    // Spearman rank correlation per return flag: quantity vs extended
    // price — the monotone-association twin of q99's Pearson. Tie-aware
    // doubled-average-rank integers (2r̄ = 2·rank + ties − 1); exact
    // DECIMAL moments; one pinned IEEE division/sqrt.
    "q201_spearman" -> Q(
      (s, dir) => Quality.spearman(t(s, dir, "lineitem"), "l_returnflag",
          "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag"),
      Some {
        def v(c: String) = s"$c IS NOT NULL AND isfinite(CAST($c AS DOUBLE)) " +
          s"AND abs(CAST($c AS DOUBLE)) < 1e9"
        val n = "CAST(n AS DOUBLE)"
        val sx = "CAST(sx AS DOUBLE)"; val sy = "CAST(sy AS DOUBLE)"
        val sxx = "CAST(sxx AS DOUBLE)"; val syy = "CAST(syy AS DOUBLE)"
        val sxy = "CAST(sxy AS DOUBLE)"
        s"""WITH base AS (SELECT l_returnflag AS g,
            CAST(round(CAST(l_quantity AS DOUBLE) * 1e6) AS BIGINT) AS xm,
            CAST(round(CAST(l_extendedprice AS DOUBLE) * 1e6) AS BIGINT) AS ym
          FROM lineitem
          WHERE ${v("l_quantity")} AND ${v("l_extendedprice")}),
        r AS (SELECT g,
            CAST(rank() OVER (PARTITION BY g ORDER BY xm) AS BIGINT) * 2
              + CAST(COUNT(*) OVER (PARTITION BY g, xm) AS BIGINT) - 1 AS rx2,
            CAST(rank() OVER (PARTITION BY g ORDER BY ym) AS BIGINT) * 2
              + CAST(COUNT(*) OVER (PARTITION BY g, ym) AS BIGINT) - 1 AS ry2
          FROM base),
        a AS (SELECT g, COUNT(*) AS n,
            CAST(SUM(rx2 * ry2) AS DOUBLE) AS sxy,
            CAST(SUM(rx2 * rx2) AS DOUBLE) AS sxx,
            CAST(SUM(ry2 * ry2) AS DOUBLE) AS syy,
            CAST(SUM(rx2) AS DOUBLE) AS sx,
            CAST(SUM(ry2) AS DOUBLE) AS sy
          FROM r GROUP BY 1)
        SELECT g AS l_returnflag, n,
          CASE WHEN ($n * $sxx - $sx * $sx) > 0
                AND ($n * $syy - $sy * $sy) > 0 THEN
            ($n * $sxy - $sx * $sy)
              / sqrt(($n * $sxx - $sx * $sx) * ($n * $syy - $sy * $sy)) END
            AS rho
        FROM a ORDER BY l_returnflag"""
      }),

    // Retrieval evaluation over the embedding index: MRR@10 and P@10 per
    // label (relevance = label match, queries = every 50th vector) —
    // "is the ANN stack actually retrieving the right neighborhood", the
    // eval face the kNN family (q24/q31/q102) computes but never grades.
    // Reciprocal ranks and precision on the integer micro grid (floor
    // division) — no float accumulation.
    "q202_retrieval_mrr" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val lab = emb.select(col("vec_id"), col("label"))
        val qs = emb.filter(col("vec_id") % 50 === 0)
        val top = Similarity.knnExactAgg(emb, qs, "vec_id", "embedding", 10)
        val wr = Window.partitionBy("query_id")
          .orderBy(col("cos").desc_nulls_last, col("id"))
        // the ranked relation is |queries|×10 rows — broadcast IT into
        // the label joins (labels are corpus-sized, never broadcast)
        val ranked = broadcast(top.withColumn("rn",
          row_number().over(wr).cast("long")))
        val perq = ranked
          .join(lab.select(col("vec_id").as("id"), col("label").as("lc")), "id")
          .join(broadcast(lab.select(col("vec_id").as("query_id"),
            col("label").as("lq"))), "query_id")
          .groupBy("query_id", "lq")
          .agg(min(when(col("lc") === col("lq"), col("rn"))).as("fr"),
            sum(when(col("lc") === col("lq"), 1L).otherwise(0L)).as("hits"))
        perq.groupBy(col("lq").as("label"))
          .agg(count(lit(1)).as("n_queries"),
            sum(coalesce(expr("1000000 div fr"), lit(0L))).as("sum_rr_micro"),
            sum("hits").as("n_hits"))
          .select(col("label"), col("n_queries"), col("sum_rr_micro"),
            col("n_hits"),
            expr("(n_hits * 1000000) div (n_queries * 10)").as("prec10_micro"))
          .orderBy("label")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS lq
              FROM embeddings WHERE vec_id % 50 = 0),
        c AS (SELECT vec_id AS id, embedding AS cv, label AS lc FROM embeddings),
        scored AS (SELECT query_id, lq, id, lc,
          list_aggregate(list_transform(range(1, len(qv) + 1),
            i -> round(CAST(qv[i] AS DOUBLE) * 1e7) * round(CAST(cv[i] AS DOUBLE) * 1e7)), 'sum')
          / SQRT(
            list_aggregate(list_transform(range(1, len(qv) + 1),
              i -> round(CAST(qv[i] AS DOUBLE) * 1e7) * round(CAST(qv[i] AS DOUBLE) * 1e7)), 'sum')
            * list_aggregate(list_transform(range(1, len(cv) + 1),
              i -> round(CAST(cv[i] AS DOUBLE) * 1e7) * round(CAST(cv[i] AS DOUBLE) * 1e7)), 'sum')) AS cos
          FROM q JOIN c ON query_id <> id),
        ranked AS (SELECT query_id, lq, lc,
            row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS rn
          FROM scored
          QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) <= 10),
        perq AS (SELECT query_id, lq,
            MIN(CASE WHEN lc = lq THEN rn END) AS fr,
            SUM(CASE WHEN lc = lq THEN 1 ELSE 0 END) AS hits
          FROM ranked GROUP BY 1, 2)
        SELECT lq AS label, COUNT(*) AS n_queries,
          CAST(SUM(COALESCE(1000000 // fr, 0)) AS BIGINT) AS sum_rr_micro,
          CAST(SUM(hits) AS BIGINT) AS n_hits,
          CAST((SUM(hits) * 1000000) // (COUNT(*) * 10) AS BIGINT) AS prec10_micro
        FROM perq GROUP BY 1 ORDER BY label""")),

    // Suppliers who kept multi-supplier orders waiting (the TPC-H Q21
    // shape): the order shipped >60 days after placement by EXACTLY this
    // supplier, among orders with ≥2 suppliers. The Spark plan is ONE
    // per-order aggregation (distinct-supplier and late-supplier counts)
    // + a dimension join — no correlated re-scans; the oracle states the
    // same semantics the classic way (EXISTS / NOT EXISTS), so the two
    // formulations check each other.
    "q203_waiting_suppliers" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .join(t(s, dir, "orders").select(col("o_orderkey"),
            col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_suppkey"),
            (col("l_shipdate") > col("o_orderdate")
              + expr("INTERVAL 60 DAYS")).as("late"))
        val perOrder = li.groupBy("l_orderkey").agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"),
          min(when(col("late"), col("l_suppkey"))).as("late_supp"))
        perOrder.filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
          .join(broadcast(t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_name"))),
            col("late_supp") === col("s_suppkey"))
          .groupBy("s_name").agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(20)
      },
      Some("""SELECT s_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name LIMIT 20""")),

    // Kendall τ-b per event type between daily distinct users and daily
    // event volume — "is growth breadth or whale-driven": τ≈1 means the
    // two series move together rank-for-rank; low τ with q201-high ρ
    // flags outlier-driven agreement. Pair join over the calendar-bounded
    // daily grid only (never raw events).
    "q204_kendall_tau" -> Q(
      (s, dir) => {
        val daily = t(s, dir, "events")
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"), col("ts").cast("date").as("day"))
          .agg(countDistinct(col("user_id")).as("du"),
            count(lit(1)).as("ne"))
        Quality.kendallTau(daily, "event_type", "day", "du", "ne")
          .orderBy("event_type")
      },
      Some("""WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS o,
            CAST(COUNT(DISTINCT user_id) AS BIGINT) * 1000000 AS x,
            CAST(COUNT(*) AS BIGINT) * 1000000 AS y
          FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
          GROUP BY 1, 2),
        p AS (SELECT a.g,
            CASE WHEN a.x < b.x THEN -1 WHEN a.x > b.x THEN 1 ELSE 0 END AS cx,
            CASE WHEN a.y < b.y THEN -1 WHEN a.y > b.y THEN 1 ELSE 0 END AS cy
          FROM daily a JOIN daily b ON a.g = b.g AND a.o < b.o),
        agg AS (SELECT g AS event_type, COUNT(*) AS n_pairs,
            COUNT(CASE WHEN cx * cy = 1 THEN 1 END) AS concordant,
            COUNT(CASE WHEN cx * cy = -1 THEN 1 END) AS discordant,
            COUNT(CASE WHEN cx = 0 THEN 1 END) AS tied_x,
            COUNT(CASE WHEN cy = 0 THEN 1 END) AS tied_y
          FROM p GROUP BY 1)
        SELECT event_type, n_pairs, concordant, discordant, tied_x, tied_y,
          CASE WHEN (CAST(n_pairs - tied_x AS DOUBLE)
                   * CAST(n_pairs - tied_y AS DOUBLE)) > 0 THEN
            CAST(concordant - discordant AS DOUBLE)
              / sqrt(CAST(n_pairs - tied_x AS DOUBLE)
                   * CAST(n_pairs - tied_y AS DOUBLE)) END AS tau_b
        FROM agg ORDER BY event_type""")),

    // Flesch-style readability per source from deterministic surface
    // counts (vowel-group syllable proxy) — the reading-ease face of the
    // quality family; integer-coefficient milli output keeps the IEEE op
    // sequence engine-identical.
    "q205_readability" -> Q(
      (s, dir) => TextOps.readability(t(s, dir, "documents"), "source",
          "text")
        .orderBy("source"),
      Some("""WITH d AS (SELECT source,
            greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
              1) AS s,
            CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS w,
            CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT)
              AS v
          FROM documents WHERE text IS NOT NULL),
        a AS (SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(s) AS BIGINT) AS n_sentences,
            CAST(SUM(w) AS BIGINT) AS n_words,
            CAST(SUM(v) AS BIGINT) AS n_vowel_groups
          FROM d GROUP BY 1)
        SELECT source, n_docs, n_sentences, n_words, n_vowel_groups,
          CASE WHEN n_words > 0 THEN
            CAST(206835 AS DOUBLE)
              - CAST(1015 AS DOUBLE)
                * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
              - CAST(84600 AS DOUBLE)
                * (CAST(n_vowel_groups AS DOUBLE) / CAST(n_words AS DOUBLE))
            END AS flesch_milli
        FROM a ORDER BY source""")),

    // Top collocations by PMI over adjacent bigrams (min support 5) —
    // the association face of the bigram family (q105 scores sequences;
    // this ranks pairs). Micro-log integer identity, engine-exact.
    "q206_bigram_pmi" -> Q(
      (s, dir) => TextOps.bigramPmi(t(s, dir, "documents"), "text", 5L, 30),
      Some {
        def lnM(x: String) = s"CAST(round(ln(CAST($x AS DOUBLE)) * 1e6) AS BIGINT)"
        s"""WITH toks AS (SELECT string_split_regex(lower(trim(text)), '\\s+') AS l
            FROM documents WHERE text IS NOT NULL),
        d AS (SELECT l FROM toks WHERE len(l) >= 2),
        tot AS (SELECT CAST(SUM(len(l)) AS BIGINT) AS n_tok,
            CAST(SUM(len(l) - 1) AS BIGINT) AS n_big FROM d),
        uni AS (SELECT unnest(l) AS w FROM d),
        uc AS (SELECT w, COUNT(*) AS nw FROM uni GROUP BY 1),
        g AS (SELECT unnest(list_transform(range(1, len(l)),
            i -> l[i] || ' ' || l[i+1])) AS bg FROM d),
        bc AS (SELECT bg, COUNT(*) AS nab FROM g GROUP BY 1
               HAVING COUNT(*) >= 5),
        sp AS (SELECT split_part(bg, ' ', 1) AS w1,
            split_part(bg, ' ', 2) AS w2, nab FROM bc),
        j AS (SELECT w1, w2, nab, a.nw AS na, b.nw AS nb FROM sp
          JOIN uc a ON a.w = sp.w1 JOIN uc b ON b.w = sp.w2)
        SELECT w1, w2, nab, na, nb,
          ${lnM("nab")} + 2 * ${lnM("(SELECT n_tok FROM tot)")}
            - ${lnM("(SELECT n_big FROM tot)")}
            - ${lnM("na")} - ${lnM("nb")} AS pmi_micro
        FROM j ORDER BY pmi_micro DESC, w1, w2 LIMIT 30"""
      }),

    // Laspeyres price index by ship month: Σp_t·q₀ / Σp₀·q₀ over parts
    // traded in both the base (first) month and month t — "what do the
    // SAME goods cost now". Unit prices are pinned IEEE divisions of
    // exact micro sums; each index term is rounded to an integer before
    // summation, so the aggregation is order-independent; the index is
    // one final pinned division.
    "q207_price_index" -> Q(
      (s, dir) => {
        val pm = graft.CacheScope.register(
          t(s, dir, "lineitem").filter(col("l_shipdate").isNotNull)
            .groupBy(col("l_partkey").as("pk"),
              trunc(col("l_shipdate").cast("date"), "month").as("month"))
            .agg(sum(round(col("l_quantity") * 1e6).cast("long")).as("qty_micro"),
              sum(round(col("l_extendedprice") * 1e6).cast("long")).as("ext_micro")))
        val m0 = pm.agg(min("month").as("m0"))
        val base = pm.join(broadcast(m0), col("month") === col("m0"))
          .select(col("pk"), col("qty_micro").as("q0"),
            (col("ext_micro").cast("double") / col("qty_micro").cast("double"))
              .as("p0"))
        pm.join(base, "pk")
          .select(col("month"),
            round((col("ext_micro").cast("double")
                / col("qty_micro").cast("double"))
              * col("q0").cast("double")).cast("long").as("__num"),
            round(col("p0") * col("q0").cast("double")).cast("long").as("__den"))
          .groupBy("month")
          .agg(count(lit(1)).as("n_parts"),
            sum("__num").as("num_micro"), sum("__den").as("den_micro"))
          .select(col("month"), col("n_parts"), col("num_micro"),
            col("den_micro"),
            (col("num_micro").cast("double") / col("den_micro").cast("double"))
              .as("index"))
          .orderBy("month")
      },
      Some("""WITH pm AS (SELECT l_partkey AS pk,
            CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
            CAST(SUM(CAST(round(l_quantity * 1e6) AS BIGINT)) AS BIGINT)
              AS qty_micro,
            CAST(SUM(CAST(round(l_extendedprice * 1e6) AS BIGINT)) AS BIGINT)
              AS ext_micro
          FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1, 2),
        m0 AS (SELECT min(month) AS m0 FROM pm),
        base AS (SELECT pk, qty_micro AS q0,
            CAST(ext_micro AS DOUBLE) / CAST(qty_micro AS DOUBLE) AS p0
          FROM pm WHERE month = (SELECT m0 FROM m0)),
        terms AS (SELECT pm.month,
            CAST(round((CAST(pm.ext_micro AS DOUBLE)
                / CAST(pm.qty_micro AS DOUBLE))
              * CAST(base.q0 AS DOUBLE)) AS BIGINT) AS num,
            CAST(round(base.p0 * CAST(base.q0 AS DOUBLE)) AS BIGINT) AS den
          FROM pm JOIN base ON pm.pk = base.pk)
        SELECT month, COUNT(*) AS n_parts,
          CAST(SUM(num) AS BIGINT) AS num_micro,
          CAST(SUM(den) AS BIGINT) AS den_micro,
          CAST(SUM(num) AS DOUBLE) / CAST(SUM(den) AS DOUBLE) AS index
        FROM terms GROUP BY 1 ORDER BY month""")),

    // Month-over-month and year-over-year revenue deltas on the calendar
    // month grid — gap-safe: the comparison joins on add_months
    // arithmetic, not row adjacency, so a silent empty month cannot
    // shift the YoY base. Cents-exact integers; growth is one pinned
    // division.
    "q208_mom_growth" -> Q(
      (s, dir) => {
        val rev = graft.CacheScope.register(
          t(s, dir, "lineitem").filter(col("l_shipdate").isNotNull)
            .groupBy(trunc(col("l_shipdate").cast("date"), "month").as("month"))
            .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * 1e2).cast("long")).as("rev_cents")))
        rev
          .join(rev.select(add_months(col("month"), 1).as("month"),
            col("rev_cents").as("prev_cents")), Seq("month"), "left")
          .join(rev.select(add_months(col("month"), 12).as("month"),
            col("rev_cents").as("yoy_cents")), Seq("month"), "left")
          .select(col("month"), col("rev_cents"), col("prev_cents"),
            (col("rev_cents") - col("prev_cents")).as("mom_diff_cents"),
            when(col("prev_cents") > 0, col("rev_cents").cast("double")
              / col("prev_cents").cast("double")).as("mom_ratio"),
            col("yoy_cents"),
            (col("rev_cents") - col("yoy_cents")).as("yoy_diff_cents"))
          .orderBy("month")
      },
      Some("""WITH rev AS (SELECT
            CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
            CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 1e2)
              AS BIGINT)) AS BIGINT) AS rev_cents
          FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1)
        SELECT r.month, r.rev_cents, p.rev_cents AS prev_cents,
          r.rev_cents - p.rev_cents AS mom_diff_cents,
          CASE WHEN p.rev_cents > 0 THEN
            CAST(r.rev_cents AS DOUBLE) / CAST(p.rev_cents AS DOUBLE) END
            AS mom_ratio,
          y.rev_cents AS yoy_cents,
          r.rev_cents - y.rev_cents AS yoy_diff_cents
        FROM rev r
        LEFT JOIN rev p ON r.month = p.month + INTERVAL 1 MONTH
        LEFT JOIN rev y ON r.month = y.month + INTERVAL 12 MONTH
        ORDER BY r.month""")),

    // Simpson's-paradox audit: per-priority discount→quantity slope vs
    // the pooled slope — flags groups whose within-group trend CONTRADICTS
    // the aggregate trend (the aggregation-bias trap every dashboard
    // rollup invites). Pure composition of q197's exact-moment OLS run
    // grouped and ungrouped; the flip test is a sign product on exact
    // doubles.
    "q209_simpson_paradox" -> Q(
      (s, dir) => {
        val li = graft.CacheScope.register(
          t(s, dir, "lineitem")
            .join(t(s, dir, "orders").select(col("o_orderkey"),
              col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
            .select(col("o_orderpriority"), col("l_discount"),
              col("l_quantity")))
        val grouped = Quality.olsRegression(li, "o_orderpriority",
          "l_discount", "l_quantity")
        val pooled = Quality.olsRegression(li.withColumn("__all", lit("ALL")),
          "__all", "l_discount", "l_quantity")
          .select(col("slope").as("pooled_slope"))
        grouped.crossJoin(broadcast(pooled))
          .select(col("o_orderpriority"), col("n"), col("slope"),
            col("pooled_slope"),
            when(col("slope").isNotNull && col("pooled_slope").isNotNull,
              col("slope") * col("pooled_slope") < 0).as("sign_flip"))
          .orderBy("o_orderpriority")
      },
      Some {
        def m(c: String) = s"CAST(CAST(round($c * 1e6) AS BIGINT) AS DECIMAL(19,0))"
        def v(c: String) = s"$c IS NOT NULL AND isfinite(CAST($c AS DOUBLE)) " +
          s"AND abs(CAST($c AS DOUBLE)) < 1e9"
        val f = s"FILTER (WHERE ${v("l_discount")} AND ${v("l_quantity")})"
        def momentCte(name: String, groupExpr: String) =
          s"""$name AS (SELECT $groupExpr AS g,
            COUNT(*) $f AS n,
            CAST(SUM(${m("l_discount")}) $f AS DECIMAL(38,0)) AS sx,
            CAST(SUM(${m("l_quantity")}) $f AS DECIMAL(38,0)) AS sy,
            CAST(SUM(${m("l_discount")} * ${m("l_discount")}) $f AS DECIMAL(38,0)) AS sxx,
            CAST(SUM(${m("l_discount")} * ${m("l_quantity")}) $f AS DECIMAL(38,0)) AS sxy
          FROM li GROUP BY 1)"""
        val slope = "CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
          "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0 THEN " +
          "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) " +
          "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) " +
          "/ (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
          "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END"
        s"""WITH li AS (SELECT o.o_orderpriority, l.l_discount, l.l_quantity
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
          ${momentCte("ga", "o_orderpriority")},
          ${momentCte("pa", "'ALL'")},
          gs AS (SELECT g AS o_orderpriority, n, $slope AS slope FROM ga),
          ps AS (SELECT $slope AS pooled_slope FROM pa)
        SELECT o_orderpriority, n, slope, pooled_slope,
          CASE WHEN slope IS NOT NULL AND pooled_slope IS NOT NULL
            THEN slope * pooled_slope < 0 END AS sign_flip
        FROM gs CROSS JOIN ps ORDER BY o_orderpriority"""
      }),

    // Lexical richness per source: type/token counts, hapax and dis
    // legomena (once/twice words), TTR and hapax share on the integer
    // micro grid — the classic vocabulary-tail profile (q137's growth
    // curve says how fast vocab grows; this says how thin its tail is,
    // the strongest single signal of templated/bot text).
    "q210_hapax_richness" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val wc = docs.filter(col("text").isNotNull)
          .select(col("source"),
            explode(TextFns.tokens(col("text"))).as("w"))
          .groupBy("source", "w").agg(count(lit(1)).as("c"))
        wc.groupBy("source")
          .agg(count(lit(1)).as("n_types"),
            sum("c").as("n_tokens"),
            count(when(col("c") === 1, lit(1))).as("hapax"),
            count(when(col("c") === 2, lit(1))).as("dis"))
          .select(col("source"), col("n_types"), col("n_tokens"),
            col("hapax"), col("dis"),
            expr("(n_types * 1000000) div n_tokens").as("ttr_micro"),
            expr("(hapax * 1000000) div n_types").as("hapax_share_micro"))
          .orderBy("source")
      },
      Some("""WITH toks AS (SELECT source,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents WHERE text IS NOT NULL),
        wc AS (SELECT source, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        a AS (SELECT source, COUNT(*) AS n_types,
            CAST(SUM(c) AS BIGINT) AS n_tokens,
            COUNT(CASE WHEN c = 1 THEN 1 END) AS hapax,
            COUNT(CASE WHEN c = 2 THEN 1 END) AS dis
          FROM wc GROUP BY 1)
        SELECT source, n_types, n_tokens, hapax, dis,
          (n_types * 1000000) // n_tokens AS ttr_micro,
          (hapax * 1000000) // n_types AS hapax_share_micro
        FROM a ORDER BY source""")),

    // Estimator quality as a first-class query: precision/recall/F1 of
    // the SimHash hamming≤3 detector against exact trigram-Jaccard ≥0.8
    // ground truth — the dedup family grading its own cheap detector
    // (DedupSpec pins the MinHash estimator; this gates the SimHash one
    // in the driver loop, so a hash-family regression fails correctness,
    // not just a spec). Full-outer pair join; counts and rates on the
    // integer micro grid.
    "q211_estimator_pr" -> Q(
      (s, dir) => {
        val docs = graft.CacheScope.register(t(s, dir, "documents"))
        val truth = lshPairs(s, dir)
          .select(col("id_a"), col("id_b"), lit(1).as("t"))
        val pred = Dedup.simhashNearDups(
            Dedup.simhash(docs, "doc_id", "text"), 3, 4)
          .select(col("id_a"), col("id_b"), lit(1).as("p"))
        truth.join(pred, Seq("id_a", "id_b"), "full_outer")
          .agg(sum(coalesce(col("p"), lit(0))).as("n_pred"),
            sum(coalesce(col("t"), lit(0))).as("n_truth"),
            count(when(col("p").isNotNull && col("t").isNotNull, lit(1)))
              .as("tp"))
          .select(col("n_pred"), col("n_truth"), col("tp"),
            when(col("n_pred") > 0, expr("(tp * 1000000) div n_pred"))
              .as("precision_micro"),
            when(col("n_truth") > 0, expr("(tp * 1000000) div n_truth"))
              .as("recall_micro"),
            when(col("n_pred") + col("n_truth") > 0,
              expr("(2 * tp * 1000000) div (n_pred + n_truth)"))
              .as("f1_micro"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
               FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 1)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
               FROM toks WHERE len(l) >= 3),
        sh AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        truth AS (SELECT id_a, id_b FROM inter
                  JOIN sizes sa ON id_a = sa.doc_id
                  JOIN sizes sb ON id_b = sb.doc_id
                  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8),
        tw AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
               FROM documents),
        th AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tw),
        bits AS (SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
                 FROM th CROSS JOIN range(60) r(j) GROUP BY 1, 2),
        sig AS (SELECT doc_id, CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
                FROM bits GROUP BY doc_id),
        pred AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM sig a JOIN sig b ON a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        u AS (SELECT COALESCE(t.id_a, p.id_a) AS id_a,
                COALESCE(t.id_b, p.id_b) AS id_b,
                (p.id_a IS NOT NULL) AS in_pred,
                (t.id_a IS NOT NULL) AS in_truth
              FROM truth t
              FULL OUTER JOIN pred p ON t.id_a = p.id_a AND t.id_b = p.id_b),
        agg AS (SELECT
            CAST(COUNT(CASE WHEN in_pred THEN 1 END) AS BIGINT) AS n_pred,
            CAST(COUNT(CASE WHEN in_truth THEN 1 END) AS BIGINT) AS n_truth,
            CAST(COUNT(CASE WHEN in_pred AND in_truth THEN 1 END) AS BIGINT) AS tp
          FROM u)
        SELECT n_pred, n_truth, tp,
          CASE WHEN n_pred > 0 THEN (tp * 1000000) // n_pred END
            AS precision_micro,
          CASE WHEN n_truth > 0 THEN (tp * 1000000) // n_truth END
            AS recall_micro,
          CASE WHEN n_pred + n_truth > 0
            THEN (2 * tp * 1000000) // (n_pred + n_truth) END AS f1_micro
        FROM agg""")),

    // Time-decay multi-touch attribution: q149's linear credit with a
    // one-day half-life — weights are dyadic integers (1e6 >> days), so
    // the decay is exact with no libm pow; per-cell credit is one pinned
    // IEEE multiply+divide rounded back to the micro grid.
    "q212_decay_attribution" -> Q(
      (s, dir) => Analytics.decayAttribution(t(s, dir, "events"),
          "user_id", "ts", "event_type", "value", "view", "purchase", 7)
        .orderBy("view_hour"),
      Some("""WITH v AS (SELECT user_id AS u,
            epoch_us(CAST(ts AS TIMESTAMP)) AS vt,
            hour(CAST(ts AS TIMESTAMP)) AS view_hour
          FROM events WHERE event_type = 'view'),
        p AS (SELECT user_id AS u, event_id AS pid,
            epoch_us(CAST(ts AS TIMESTAMP)) AS pt,
            CAST(round(value * 1e6) AS BIGINT) AS v_micro
          FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        pairs AS (SELECT p.pid, p.v_micro, v.view_hour,
            1000000 // (CAST(1 AS BIGINT)
              << CAST((p.pt - v.vt) // 86400000000 AS INT)) AS w
          FROM p JOIN v ON p.u = v.u AND v.vt <= p.pt
            AND v.vt >= p.pt - 604800000000),
        per_purchase AS (SELECT pid, v_micro,
            CAST(SUM(w) AS BIGINT) AS w_tot
          FROM pairs GROUP BY 1, 2),
        per_cell AS (SELECT pr.view_hour,
            CAST(round(CAST(pp.v_micro AS DOUBLE) * CAST(pr.w_h AS DOUBLE)
              / CAST(pp.w_tot AS DOUBLE)) AS BIGINT) AS credit_micro
          FROM (SELECT pid, view_hour, CAST(SUM(w) AS BIGINT) AS w_h
                FROM pairs GROUP BY 1, 2) pr
          JOIN per_purchase pp USING (pid))
        SELECT CAST(view_hour AS INTEGER) AS view_hour,
          CAST(COUNT(*) AS BIGINT) AS n_cells,
          CAST(SUM(credit_micro) AS BIGINT) AS attributed_micro
        FROM per_cell GROUP BY 1 ORDER BY 1""")),

    // Pairwise earth mover's distance between source length
    // distributions — the transport-cost drift measure (PSI/KS/KL are
    // already in the family; EMD charges by how far the mass moved).
    // Cross-multiplied integer CDFs on a 20-bucket grid; two pinned
    // divisions at the end.
    "q213_emd_lengths" -> Q(
      (s, dir) => Quality.emdPairwise(t(s, dir, "documents"), "source",
          "n_chars", 20)
        .orderBy("group_a", "group_b"),
      Some("""WITH base AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS x
            FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        bounds AS (SELECT min(x) AS lo, max(x) AS hi FROM base),
        counts AS (SELECT g, ((x - (SELECT lo FROM bounds)) * 20)
              // ((SELECT hi FROM bounds) - (SELECT lo FROM bounds) + 1) AS b,
            COUNT(*) AS c
          FROM base GROUP BY 1, 2),
        totals AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1),
        grid AS (SELECT t.g, t.n, r.b, COALESCE(c.c, 0) AS c
          FROM totals t CROSS JOIN (SELECT unnest(range(20)) AS b) r
          LEFT JOIN counts c ON c.g = t.g AND c.b = r.b),
        cum AS (SELECT g, n, b,
            CAST(SUM(c) OVER (PARTITION BY g ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cum
          FROM grid),
        pairs AS (SELECT a.g AS group_a, b.g AS group_b,
            a.n AS n_a, b.n AS n_b,
            CAST(SUM(abs(a.cum * b.n - b.cum * a.n)) AS DECIMAL(38,0)) AS s
          FROM cum a JOIN cum b ON a.b = b.b AND a.g < b.g
          GROUP BY 1, 2, 3, 4)
        SELECT group_a, group_b, n_a, n_b,
          CAST(s AS DOUBLE)
            / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / 20.0 AS emd
        FROM pairs ORDER BY group_a, group_b""")),

    // Pairwise two-proportion z-tests between languages on the quality
    // pass rate (score ≥ 0.5 on the micro grid) — the proportions member
    // of the A/B family (q134 Welch compares means, q150 Wilson
    // intervals one rate; this tests rate differences). Exact (n, k)
    // counts; z is a pinned IEEE sequence; degenerate pooled rates null.
    "q214_quality_ztest" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val scored = TextOps.qualityFeatures(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality_score_micro"))
        val withLang = docs.select(col("doc_id"), col("lang"))
          .join(scored, "doc_id")
        Quality.twoProportionZ(withLang, "lang",
            col("quality_score_micro") >= 500000L)
          .orderBy("group_a", "group_b")
      },
      Some(s"""WITH ${qualityMicroSql("doc_id, lang")},
        per AS (SELECT lang AS g, COUNT(*) AS n,
            COUNT(CASE WHEN quality_score_micro >= 500000 THEN 1 END) AS k
          FROM __qm WHERE lang IS NOT NULL GROUP BY 1)
        SELECT a.g AS group_a, b.g AS group_b,
          a.n AS n_a, a.k AS k_a, b.n AS n_b, b.k AS k_b,
          CASE WHEN (CAST(a.k + b.k AS DOUBLE) / CAST(a.n + b.n AS DOUBLE))
                 * (1.0 - CAST(a.k + b.k AS DOUBLE) / CAST(a.n + b.n AS DOUBLE))
                 * (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE)) > 0
            THEN (CAST(a.k AS DOUBLE) / CAST(a.n AS DOUBLE)
                  - CAST(b.k AS DOUBLE) / CAST(b.n AS DOUBLE))
              / sqrt((CAST(a.k + b.k AS DOUBLE) / CAST(a.n + b.n AS DOUBLE))
                 * (1.0 - CAST(a.k + b.k AS DOUBLE) / CAST(a.n + b.n AS DOUBLE))
                 * (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE)))
            END AS z
        FROM per a JOIN per b ON a.g < b.g
        ORDER BY group_a, group_b""")),

    // Out-of-vocabulary audit of the holdout: per language, what
    // fraction of test-split tokens (and distinct types) never appear in
    // the train split — the coverage number that decides whether a
    // tokenizer/vocab trained on 90% generalizes to the held-out 10%.
    // Composes q51's SQL-replayable md5 split with the token relation;
    // rates on the integer micro grid. One vocab-keyed equi join; the
    // train vocabulary is reduced to distinct types before joining.
    "q215_oov_rate" -> Q(
      (s, dir) => {
        val toks = graft.CacheScope.register(
          Sampling.hashSplit(t(s, dir, "documents"), "doc_id", "exp1",
              Seq("train" -> 0.90, "val" -> 0.05, "test" -> 0.05))
            .filter(col("text").isNotNull)
            .select(col("lang"), col("split"),
              explode(TextFns.tokens(col("text"))).as("w")))
        val trainVocab = toks.filter(col("split") === "train")
          .select("w").distinct().withColumn("__in", lit(1))
        toks.filter(col("split") === "test")
          .join(trainVocab, Seq("w"), "left")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_test_tokens"),
            count(when(col("__in").isNull, lit(1))).as("n_oov_tokens"),
            countDistinct(col("w")).as("n_test_types"),
            countDistinct(when(col("__in").isNull, col("w")))
              .as("n_oov_types"))
          .select(col("lang"), col("n_test_tokens"), col("n_oov_tokens"),
            col("n_test_types"), col("n_oov_types"),
            expr("(n_oov_tokens * 1000000) div n_test_tokens")
              .as("oov_token_rate_micro"),
            expr("(n_oov_types * 1000000) div n_test_types")
              .as("oov_type_rate_micro"))
          .orderBy("lang")
      },
      Some("""WITH sp AS (SELECT doc_id, lang, text,
            CAST('0x' || substr(md5('exp1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS bkt
          FROM documents WHERE text IS NOT NULL),
        a AS (SELECT lang,
            CASE WHEN bkt < 9000 THEN 'train' WHEN bkt < 9500 THEN 'val'
                 ELSE 'test' END AS split,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM sp),
        tv AS (SELECT DISTINCT w FROM a WHERE split = 'train'),
        te AS (SELECT lang, a.w, (tv.w IS NOT NULL) AS seen
          FROM a LEFT JOIN tv ON a.w = tv.w WHERE split = 'test')
        SELECT lang, COUNT(*) AS n_test_tokens,
          COUNT(CASE WHEN NOT seen THEN 1 END) AS n_oov_tokens,
          COUNT(DISTINCT w) AS n_test_types,
          COUNT(DISTINCT CASE WHEN NOT seen THEN w END) AS n_oov_types,
          (COUNT(CASE WHEN NOT seen THEN 1 END) * 1000000) // COUNT(*)
            AS oov_token_rate_micro,
          (COUNT(DISTINCT CASE WHEN NOT seen THEN w END) * 1000000)
            // COUNT(DISTINCT w) AS oov_type_rate_micro
        FROM te GROUP BY 1 ORDER BY lang""")),

    // Small-quantity-order revenue (the TPC-H Q17 shape): revenue from
    // lineitems whose quantity is below 50% of that part's average
    // quantity — the correlated-scalar-subquery plan. Spark formulates
    // it as ONE per-part aggregate joined back (no correlated re-scan);
    // the oracle states the classic correlated form, so the two
    // formulations check each other. The threshold compares exact
    // micro integers (2·qty·n vs sum), never a float average.
    "q216_small_qty_revenue" -> Q(
      (s, dir) => {
        val li = graft.CacheScope.register(t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_quantity"),
            col("l_extendedprice"),
            round(col("l_quantity") * 1e6).cast("long").as("__qm")))
        val perPart = li.groupBy("l_partkey")
          .agg(sum("__qm").as("__sq"), count(lit(1)).as("__nq"))
        li.join(perPart, "l_partkey")
          // qty < 0.5·avg ⇔ 2·qty·n < sum — exact integers
          .filter(col("__qm") * 2L * col("__nq") < col("__sq"))
          .agg(count(lit(1)).as("n_items"),
            sum(round(col("l_extendedprice") * 1e2).cast("long"))
              .as("revenue_cents"))
      },
      Some("""SELECT COUNT(*) AS n_items,
          CAST(SUM(CAST(round(l_extendedprice * 1e2) AS BIGINT)) AS BIGINT)
            AS revenue_cents
        FROM lineitem l1
        WHERE CAST(round(l1.l_quantity * 1e6) AS BIGINT) * 2 *
            (SELECT COUNT(*) FROM lineitem l2
             WHERE l2.l_partkey = l1.l_partkey)
          < (SELECT CAST(SUM(CAST(round(l3.l_quantity * 1e6) AS BIGINT))
                AS BIGINT) FROM lineitem l3
             WHERE l3.l_partkey = l1.l_partkey)""")),

    // Entity-resolution clusters: q156's Jaro-Winkler record links →
    // connected components → canonical (min-id) representative per
    // entity — the "golden record" step record linkage exists for; A~B
    // and B~C must merge {A,B,C} even when A~C misses the bar. The
    // oracle replays the JW links with DuckDB's own jaro_winkler and the
    // q55 recursive min-label closure.
    "q217_entity_clusters" -> Q(
      (s, dir) => {
        val links = Dedup.jaroWinklerLinkage(t(s, dir, "documents"),
          "doc_id", "text", 3, 0.5, 0.9)
        Graphs.connectedComponents(links, "id_a", "id_b")
          .select(col("id").as("doc_id"), col("component").as("entity_id"),
            count(lit(1)).over(Window.partitionBy(col("component")))
              .as("entity_size"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${nearDupEdgesCte(0.5)},
        nt AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
               FROM documents),
        links AS (SELECT p.id_a, p.id_b
          FROM prs p JOIN nt a ON a.doc_id = p.id_a
                     JOIN nt b ON b.doc_id = p.id_b
          WHERE jaro_winkler_similarity(a.t, b.t) >= 0.9),
        jedges AS (SELECT id_a AS src, id_b AS dst FROM links
                   UNION SELECT id_b, id_a FROM links),
        walk(id, lbl) AS (
          SELECT src, src FROM jedges
          UNION
          SELECT e.src, w.lbl FROM jedges e JOIN walk w ON w.id = e.dst),
        comp AS (SELECT id AS doc_id, MIN(lbl) AS entity_id FROM walk
                 GROUP BY id)
        SELECT doc_id, entity_id,
          COUNT(*) OVER (PARTITION BY entity_id) AS entity_size
        FROM comp ORDER BY doc_id""")),

    // Weekly churn accounting: per week, active users, churned (active
    // previous week, absent this week) and new (first-ever week) — the
    // retention dashboard's flow face (q126's cohort matrix is the stock
    // face). Presence reduces to the (user, week) grid before any join;
    // week pairs join on exact 7-day date arithmetic (gap-safe).
    "q218_churn" -> Q(
      (s, dir) => {
        val pres = graft.CacheScope.register(
          t(s, dir, "events").filter(col("ts").isNotNull)
            .select(col("user_id"),
              date_trunc("week", col("ts")).cast("date").as("week"))
            .distinct())
        val first = pres.groupBy("user_id").agg(min("week").as("__fw"))
        // churn INTO week w = users present at w−7d, absent at w; the
        // left join below keeps only observed activity weeks, so the +7
        // shift past the last week cannot invent a row
        val churned = pres.select(col("user_id"),
            date_add(col("week"), 7).as("week")).as("p")
          .join(pres.as("c"), Seq("user_id", "week"), "left_anti")
          .groupBy("week").agg(count(lit(1)).as("n_churned"))
        pres.join(first, "user_id")
          .groupBy("week")
          .agg(count(lit(1)).as("n_active"),
            count(when(col("week") === col("__fw"), lit(1))).as("n_new"))
          .join(churned, Seq("week"), "left")
          .select(col("week"), col("n_active"), col("n_new"),
            coalesce(col("n_churned"), lit(0L)).as("n_churned"))
          .orderBy("week")
      },
      Some("""WITH pres AS (SELECT DISTINCT user_id,
            CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week
          FROM events WHERE ts IS NOT NULL),
        first AS (SELECT user_id, MIN(week) AS fw FROM pres GROUP BY 1),
        churn AS (SELECT p.week + 7 AS week, COUNT(*) AS n_churned
          FROM pres p
          WHERE NOT EXISTS (SELECT 1 FROM pres c
            WHERE c.user_id = p.user_id AND c.week = p.week + 7)
          GROUP BY 1),
        act AS (SELECT week, COUNT(*) AS n_active,
            COUNT(CASE WHEN week = fw THEN 1 END) AS n_new
          FROM pres JOIN first USING (user_id) GROUP BY week)
        SELECT a.week, a.n_active, a.n_new,
          COALESCE(c.n_churned, 0) AS n_churned
        FROM act a LEFT JOIN churn c ON c.week = a.week
        ORDER BY a.week""")),

    // Dedup threshold-sensitivity sweep: pair counts and affected-doc
    // counts at Jaccard ≥ 0.5/0.6/0.7/0.8/0.9 from ONE exact-pair pass —
    // the policy curve behind choosing τ (the single most consequential
    // dedup knob: too low merges topical neighbors, too high keeps
    // templated spam). Thresholds compare the already-gated exact
    // jaccard doubles; no re-scan per threshold.
    "q219_threshold_sweep" -> Q(
      (s, dir) => {
        val pairs = graft.CacheScope.register(
          // direct inverted-index count, not the prefix filter: both are
          // exact (identical pair set), and at t=0.5 the prefix path's
          // candidate set is ~1600x its survivor count so its confirm
          // re-join dominates (r12 measured 7.5 s prefix vs 2.2 s direct)
          Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id",
            "text", 3, 0.5, prefixFilter = false))
        val ids = pairs.select(explode(array(col("id_a"), col("id_b")))
          .as("id"), col("jaccard"))
        val pc = pairs.agg(
          count(lit(1)).as("pairs_050"),
          count(when(col("jaccard") >= 0.6, lit(1))).as("pairs_060"),
          count(when(col("jaccard") >= 0.7, lit(1))).as("pairs_070"),
          count(when(col("jaccard") >= 0.8, lit(1))).as("pairs_080"),
          count(when(col("jaccard") >= 0.9, lit(1))).as("pairs_090"))
        val dc = ids.agg(
          countDistinct(col("id")).as("docs_050"),
          countDistinct(when(col("jaccard") >= 0.7, col("id"))).as("docs_070"),
          countDistinct(when(col("jaccard") >= 0.9, col("id"))).as("docs_090"))
        pc.crossJoin(broadcast(dc))
      },
      Some(s"""WITH ${nearDupEdgesCte(0.5)},
        ids AS (SELECT id_a AS id, jaccard FROM prs
                UNION ALL SELECT id_b, jaccard FROM prs)
        SELECT
          (SELECT COUNT(*) FROM prs) AS pairs_050,
          (SELECT COUNT(CASE WHEN jaccard >= 0.6 THEN 1 END) FROM prs) AS pairs_060,
          (SELECT COUNT(CASE WHEN jaccard >= 0.7 THEN 1 END) FROM prs) AS pairs_070,
          (SELECT COUNT(CASE WHEN jaccard >= 0.8 THEN 1 END) FROM prs) AS pairs_080,
          (SELECT COUNT(CASE WHEN jaccard >= 0.9 THEN 1 END) FROM prs) AS pairs_090,
          (SELECT COUNT(DISTINCT id) FROM ids) AS docs_050,
          (SELECT COUNT(DISTINCT CASE WHEN jaccard >= 0.7 THEN id END) FROM ids) AS docs_070,
          (SELECT COUNT(DISTINCT CASE WHEN jaccard >= 0.9 THEN id END) FROM ids) AS docs_090""")),

    // Sample-ratio-mismatch check of the q51 hash split: observed
    // train/val/test counts vs the declared 90/5/5 expectation, with the
    // goodness-of-fit chi-square statistic — the A/B-infrastructure
    // alarm that catches a broken bucketing function before any metric
    // is read (q180 tests independence; this tests FIT to a declared
    // ratio). Expected counts and the statistic are pinned IEEE ops over
    // exact integers.
    "q220_srm_check" -> Q(
      (s, dir) => {
        val counts = graft.CacheScope.register(
          Sampling.hashSplit(t(s, dir, "documents"), "doc_id", "exp1",
              Seq("train" -> 0.90, "val" -> 0.05, "test" -> 0.05))
            .groupBy("split").agg(count(lit(1)).as("n")))
        val tot = counts.agg(sum("n").as("t"))
        val frac = when(col("split") === "train", lit(0.90))
          .when(col("split") === "val", lit(0.05)).otherwise(lit(0.05))
        counts.crossJoin(broadcast(tot))
          .select(col("split"), col("n"), col("t"),
            (col("t").cast("double") * frac).as("expected"))
          .select(col("split"), col("n"),
            col("expected"),
            ((col("n").cast("double") - col("expected"))
              * (col("n").cast("double") - col("expected"))
              / col("expected")).as("chi2_term"))
          .orderBy("split")
      },
      Some("""WITH b AS (SELECT doc_id,
            CAST('0x' || substr(md5('exp1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS bkt
          FROM documents),
        a AS (SELECT CASE WHEN bkt < 9000 THEN 'train'
                          WHEN bkt < 9500 THEN 'val'
                          ELSE 'test' END AS split FROM b),
        counts AS (SELECT split, COUNT(*) AS n FROM a GROUP BY 1),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
        SELECT split, n,
          CAST((SELECT t FROM tot) AS DOUBLE)
            * (CASE WHEN split = 'train' THEN 0.90
                    WHEN split = 'val' THEN 0.05 ELSE 0.05 END) AS expected,
          (CAST(n AS DOUBLE) - CAST((SELECT t FROM tot) AS DOUBLE)
             * (CASE WHEN split = 'train' THEN 0.90
                     WHEN split = 'val' THEN 0.05 ELSE 0.05 END))
          * (CAST(n AS DOUBLE) - CAST((SELECT t FROM tot) AS DOUBLE)
             * (CASE WHEN split = 'train' THEN 0.90
                     WHEN split = 'val' THEN 0.05 ELSE 0.05 END))
          / (CAST((SELECT t FROM tot) AS DOUBLE)
             * (CASE WHEN split = 'train' THEN 0.90
                     WHEN split = 'val' THEN 0.05 ELSE 0.05 END)) AS chi2_term
        FROM counts ORDER BY split""")),

    // Stationary distribution of the q127 event-transition Markov chain
    // — where the user-flow matrix settles at equilibrium ("what share
    // of attention each surface ultimately owns"). q155's truncating
    // integer fixed point without damping, 3 unrolled iterations over
    // the |event_types| state grid; the oracle replays every iteration
    // bit-for-bit.
    "q221_markov_stationary" -> Q(
      (s, dir) => {
        val counts = Analytics.transitionMatrix(t(s, dir, "events"),
          "user_id", "event_type", "ts", "event_id")
        Graphs.markovStationary(counts, "from_type", "to_type", "n", 3)
          .withColumnRenamed("from_type", "event_type")
          .orderBy("event_type")
      },
      Some {
        def iter(p: Int, c: Int) =
          s"""in$c AS (SELECT c.dst AS st,
              CAST(SUM((CAST(rp.r AS HUGEINT) * c.n) // rt.tot) AS BIGINT) AS s
            FROM c JOIN r$p rp ON rp.st = c.src
                   JOIN rowtot rt ON rt.src = c.src GROUP BY 1),
          d$c AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS d
            FROM r$p LEFT JOIN rowtot ON st = src WHERE tot IS NULL),
          r$c AS (SELECT s.st,
              COALESCE(i.s, 0) + (SELECT d FROM d$c) // (SELECT k FROM nn) AS r
            FROM states s LEFT JOIN in$c i USING (st))"""
        s"""WITH pairs AS (SELECT event_type AS src0,
              lead(event_type) OVER (PARTITION BY user_id
                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS dst0
            FROM events),
          c AS (SELECT src0 AS src, dst0 AS dst, COUNT(*) AS n FROM pairs
            WHERE dst0 IS NOT NULL GROUP BY 1, 2),
          states AS (SELECT src AS st FROM c UNION SELECT dst FROM c),
          nn AS (SELECT COUNT(*) AS k FROM states),
          rowtot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1),
          r0 AS (SELECT st, 1000000000000 // (SELECT k FROM nn) AS r FROM states),
          ${iter(0, 1)}, ${iter(1, 2)}, ${iter(2, 3)}
          SELECT st AS event_type, r AS pi_scaled,
            CAST(r AS DOUBLE) / 1000000000000 AS pi
          FROM r3 ORDER BY event_type"""
      }),

    // Conversion-delay quantiles: p25/p50/p90 of first-view → first-
    // purchase latency per converting user — the "how long does the
    // funnel take" number q124's conversion RATE can't give. Delays are
    // exact integer microseconds; percentile ≡ quantile_cont keeps the
    // interpolation engine-identical (q37's contract). One per-user
    // aggregate, then a quantile over the |converters| relation.
    "q222_conversion_delay" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val per = ev.filter(col("event_type").isin("view", "purchase"))
          .groupBy("user_id")
          .agg(min(when(col("event_type") === "view",
              unix_micros(col("ts").cast("timestamp")))).as("fv"),
            min(when(col("event_type") === "purchase",
              unix_micros(col("ts").cast("timestamp")))).as("fp"))
          .filter(col("fv").isNotNull && col("fp").isNotNull
            && col("fp") >= col("fv"))
          .select((col("fp") - col("fv")).as("delay_us"))
        per.agg(count(lit(1)).as("n_converters"),
          expr("percentile(delay_us, 0.25)").as("p25_us"),
          expr("percentile(delay_us, 0.5)").as("p50_us"),
          expr("percentile(delay_us, 0.9)").as("p90_us"))
      },
      Some("""WITH per AS (SELECT user_id,
            MIN(CASE WHEN event_type = 'view'
              THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS fv,
            MIN(CASE WHEN event_type = 'purchase'
              THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS fp
          FROM events WHERE event_type IN ('view', 'purchase')
          GROUP BY 1),
        d AS (SELECT fp - fv AS delay_us FROM per
          WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv)
        SELECT COUNT(*) AS n_converters,
          quantile_cont(delay_us, 0.25) AS p25_us,
          quantile_cont(delay_us, 0.5) AS p50_us,
          quantile_cont(delay_us, 0.9) AS p90_us
        FROM d""")),

    // Cumulative conversion curve: share of converters whose first-view →
    // first-purchase delay fits within 1 hour / 1 day / 7 days — the CDF
    // checkpoints that turn q222's quantiles into SLA numbers. One pass
    // over the per-user delay relation; shares on the integer micro grid.
    "q223_conversion_curve" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val per = ev.filter(col("event_type").isin("view", "purchase"))
          .groupBy("user_id")
          .agg(min(when(col("event_type") === "view",
              unix_micros(col("ts").cast("timestamp")))).as("fv"),
            min(when(col("event_type") === "purchase",
              unix_micros(col("ts").cast("timestamp")))).as("fp"))
          .filter(col("fv").isNotNull && col("fp").isNotNull
            && col("fp") >= col("fv"))
          .select((col("fp") - col("fv")).as("d"))
        per.agg(count(lit(1)).as("n_converters"),
            count(when(col("d") <= 3600L * 1000000L, lit(1))).as("within_1h"),
            count(when(col("d") <= 86400L * 1000000L, lit(1))).as("within_1d"),
            count(when(col("d") <= 7L * 86400L * 1000000L, lit(1)))
              .as("within_7d"))
          .select(col("n_converters"), col("within_1h"), col("within_1d"),
            col("within_7d"),
            expr("(within_1h * 1000000) div n_converters").as("share_1h_micro"),
            expr("(within_1d * 1000000) div n_converters").as("share_1d_micro"),
            expr("(within_7d * 1000000) div n_converters").as("share_7d_micro"))
      },
      Some("""WITH per AS (SELECT user_id,
            MIN(CASE WHEN event_type = 'view'
              THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS fv,
            MIN(CASE WHEN event_type = 'purchase'
              THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS fp
          FROM events WHERE event_type IN ('view', 'purchase')
          GROUP BY 1),
        d AS (SELECT fp - fv AS d FROM per
          WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv)
        SELECT COUNT(*) AS n_converters,
          COUNT(CASE WHEN d <= 3600000000 THEN 1 END) AS within_1h,
          COUNT(CASE WHEN d <= 86400000000 THEN 1 END) AS within_1d,
          COUNT(CASE WHEN d <= 604800000000 THEN 1 END) AS within_7d,
          (COUNT(CASE WHEN d <= 3600000000 THEN 1 END) * 1000000) // COUNT(*)
            AS share_1h_micro,
          (COUNT(CASE WHEN d <= 86400000000 THEN 1 END) * 1000000) // COUNT(*)
            AS share_1d_micro,
          (COUNT(CASE WHEN d <= 604800000000 THEN 1 END) * 1000000) // COUNT(*)
            AS share_7d_micro
        FROM d""")),

    // DSIR importance weights: hashed-unigram log-likelihood ratio of the
    // English-target distribution vs the raw corpus (Xie et al. 2023) —
    // the "make the crawl look like the reference" selector. Micro-log
    // integer arithmetic end to end (the q62 trick), h60 buckets, so the
    // oracle replays logw_micro bit-exactly.
    "q224_dsir_weights" -> Q(
      (s, dir) => TextOps.dsirWeights(t(s, dir, "documents"), "doc_id",
          "text", col("lang") === "en", 512)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id, lang = 'en' AS tgt,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        tb AS (SELECT doc_id, tgt,
            CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 512 AS b,
            CAST(COUNT(*) AS BIGINT) AS c
          FROM toks GROUP BY 1, 2, 3),
        model AS (SELECT b,
            CAST(SUM(CASE WHEN tgt THEN c ELSE 0 END) AS BIGINT) AS ct,
            CAST(SUM(c) AS BIGINT) AS cr
          FROM tb GROUP BY 1),
        tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
            CAST(SUM(cr) AS BIGINT) AS nr FROM model)
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
          CAST(SUM(c * (CAST(round(ln(ct + 1) * 1e6) AS BIGINT)
            - CAST(round(ln(nt + 512) * 1e6) AS BIGINT)
            - CAST(round(ln(cr + 1) * 1e6) AS BIGINT)
            + CAST(round(ln(nr + 512) * 1e6) AS BIGINT))) AS BIGINT)
            AS logw_micro,
          CAST(SUM(c * (CAST(round(ln(ct + 1) * 1e6) AS BIGINT)
            - CAST(round(ln(nt + 512) * 1e6) AS BIGINT)
            - CAST(round(ln(cr + 1) * 1e6) AS BIGINT)
            + CAST(round(ln(nr + 512) * 1e6) AS BIGINT))) AS BIGINT) > 0
            AS selected
        FROM tb JOIN model USING (b), tot
        GROUP BY doc_id ORDER BY doc_id""")),

    // k-anonymity + l-diversity release audit over the event log:
    // QI = (event_type, hour-of-day), sensitive = user_id. Pure counts —
    // bit-exact on any engine; the verdict booleans re-derive from the
    // same counts, so they hold at every scale factor.
    "q225_k_anonymity" -> Q(
      (s, dir) => Quality.kAnonymityAudit(
          t(s, dir, "events")
            .select(col("event_type"),
              hour(col("ts").cast("timestamp")).as("hour_of_day"),
              col("user_id")),
          Seq("event_type", "hour_of_day"), "user_id", k = 200L, l = 100L)
        .orderBy("event_type", "hour_of_day"),
      Some("""SELECT event_type,
          CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INT) AS hour_of_day,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_sensitive,
          COUNT(*) >= 200 AS k_anonymous,
          COUNT(DISTINCT user_id) >= 100 AS l_diverse
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // k-core of the near-dup graph (k = 2): the cyclic duplication
    // nuclei that survive iterative peeling — members with ≥2 neighbors
    // INSIDE the core (chains and pendants peel away; triangles and
    // larger cycles remain). k = 2 (not 3) so the checked result is
    // NON-VACUOUS at sf0.01 (a 3-doc triangle survives; the k=3 core is
    // empty there, and an empty hash-match gates nothing). The oracle
    // unrolls the peel the same fixed number of rounds the operator is
    // bounded to (stable sets make extra rounds the identity; the
    // operator REQUIRES convergence within the bound — k=2 converges in
    // 1 round at both checked scales).
    "q226_kcore" -> Q(
      (s, dir) => Graphs.kCore(lshPairs(s, dir), "id_a", "id_b",
          k = 2, maxRounds = 6)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some(kCoreOracleSql(2, 6))),

    // Centroid silhouette of sources in embedding space: "are source
    // labels separated, or does source X duplicate Y's region?" — the
    // mixture-design diagnostic. Micro-grid centroids, exact BIGINT d²,
    // one pinned IEEE (sqrt, divide, round) per vector, exact integer
    // sums — oracle-replayable (q144's centroid contract).
    "q227_source_silhouette" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
        val emb = t(s, dir, "embeddings")
          .join(docs, col("vec_id") === col("doc_id"))
        Similarity.sourceSilhouette(emb, "source", "embedding")
          .withColumnRenamed("grp", "source")
          .orderBy("source")
      },
      Some("""WITH e AS (SELECT d.source, m.vec_id, m.embedding
            FROM embeddings m JOIN documents d ON m.vec_id = d.doc_id),
        vv AS (SELECT vec_id, source AS own, u.pos AS pos, u.v AS v FROM (
            SELECT vec_id, source, unnest(list_transform(range(0, len(embedding)),
              i -> {'pos': i,
                    'v': CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1e7)
                         AS BIGINT)})) AS u
            FROM e)),
        cent AS (SELECT own AS source, pos,
            CAST(round(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mu
          FROM vv GROUP BY 1, 2),
        d2 AS (SELECT vv.vec_id, vv.own, c.source AS cand,
            CAST(SUM((vv.v - c.mu) * (vv.v - c.mu)) AS BIGINT) AS d2
          FROM vv JOIN cent c ON vv.pos = c.pos GROUP BY 1, 2, 3),
        ab AS (SELECT vec_id, own,
            MIN(CASE WHEN cand = own THEN d2 END) AS d2own,
            MIN(CASE WHEN cand <> own THEN d2 END) AS d2oth
          FROM d2 GROUP BY 1, 2),
        s AS (SELECT own AS source,
            CAST(round(CASE
              WHEN greatest(sqrt(CAST(d2own AS DOUBLE)), sqrt(CAST(d2oth AS DOUBLE))) > 0
              THEN (sqrt(CAST(d2oth AS DOUBLE)) - sqrt(CAST(d2own AS DOUBLE)))
                / greatest(sqrt(CAST(d2own AS DOUBLE)), sqrt(CAST(d2oth AS DOUBLE)))
              ELSE 0 END * 1e6) AS BIGINT) AS sm
          FROM ab)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_vecs,
          CAST(SUM(sm) AS BIGINT) AS sum_sil_micro,
          CAST(SUM(sm) AS DOUBLE) / (COUNT(*) * 1e6) AS mean_silhouette
        FROM s GROUP BY source ORDER BY source""")),

    // Incremental materialized-view maintenance: the per-customer order
    // rollup kept fresh from a CDC delta (inserts o_orderkey%7=0,
    // deletes %11=0 retracted with −1 weights) WITHOUT rescanning the
    // base facts — one full-outer coalesce-add on the key over AGGREGATE
    // rows only, groups whose count retracts to 0 vanish. The oracle is
    // the full recompute over the equivalent live set, so the gate pins
    // the self-maintainability identity itself.
    "q228_incremental_view" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders").select(col("o_custkey"),
          col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
        val baseFacts = o.filter(col("o_orderkey") % 7 =!= 0)
        val view0 = Warehouse.viewPartialAgg(baseFacts, Seq("o_custkey"),
          Seq("price_cents"), lit(1))
        val delta = o.filter(col("o_orderkey") % 7 === 0)
          .withColumn("__op", lit(1))
          .unionByName(baseFacts.filter(col("o_orderkey") % 11 === 0)
            .withColumn("__op", lit(-1)))
        val deltaAgg = Warehouse.viewPartialAgg(delta, Seq("o_custkey"),
          Seq("price_cents"), col("__op"))
        Warehouse.incrementalViewMerge(view0, deltaAgg, Seq("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""WITH live AS (SELECT o_custkey,
            CAST(round(o_totalprice * 100) AS BIGINT) AS pc
          FROM orders
          WHERE o_orderkey % 7 = 0 OR o_orderkey % 11 <> 0)
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt,
          CAST(SUM(pc) AS BIGINT) AS sum_price_cents
        FROM live GROUP BY 1 ORDER BY 1""")),

    // EXACT percentiles with NO sort: iterative histogram selection over
    // lineitem's price grid — each level is one map-side-combined
    // 65536-bin histogram and the range narrows 65536×, so any 64-bit
    // domain resolves in ≤ 4 scans (the third point of the quantile
    // triangle: q37 exact-but-buffering, q73 fixed-memory-but-approx,
    // this one exact AND fixed-memory). The oracle pays the full sort.
    "q229_order_statistics" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(round(col("l_extendedprice") * 100).cast("long").as("v"))
        val n = li.count()
        def k(p: Int): Long = (p * n + 99) / 100
        Quality.exactOrderStatistics(li, "v",
          Seq(k(25), k(50), k(75), k(99)).distinct)
      },
      Some("""WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
            FROM lineitem),
        r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
        n AS (SELECT COUNT(*) AS n FROM v),
        ks AS (SELECT DISTINCT (p * n + 99) // 100 AS k
          FROM (VALUES (25), (50), (75), (99)) t(p), n)
        SELECT CAST(k AS BIGINT) AS rank_pos, v AS value_at
        FROM r JOIN ks ON rn = k ORDER BY rank_pos, value_at""")),

    // Reciprocal-rank fusion of the lexical (BM25 top-50) and vector
    // (exact-cosine top-50 around vec 0) retrievers — the standard
    // hybrid-search combiner; both ranks are deterministic ((score desc,
    // id)), the contribution ⌊10⁶/(60+r)⌋ is one integer division, so
    // the fused score is an order-independent BIGINT both engines agree
    // on bit-exactly.
    "q230_rrf_fusion" -> Q(
      (s, dir) => {
        val lex = TextOps.bm25Search(t(s, dir, "documents"),
            "doc_id", "text", Seq("hash", "join", "vector"), 50)
          .select(col("id"), col("score_micro").cast("double").as("score"))
        val emb = t(s, dir, "embeddings")
        val vec = Similarity.knnExactAgg(emb,
            emb.filter(col("vec_id") === 0), "vec_id", "embedding", 50)
          .select(col("id"), col("cos").as("score"))
        Similarity.rrfFuse(Seq(lex, vec), "id", "score", 60, 20)
          .withColumnRenamed("id", "doc_id")
      },
      Some("""WITH base AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS l
          FROM documents),
        d AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS dl, l FROM base),
        nn AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS s FROM d),
        hits AS (SELECT doc_id, dl, unnest(l) AS term FROM d),
        tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM hits
               WHERE term IN ('hash', 'join', 'vector')
               GROUP BY 1, 2, 3),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        idf AS (SELECT term,
            CAST(round(ln((((CAST((SELECT n FROM nn) AS DOUBLE) - CAST(df AS DOUBLE)) + 0.5)
                           / (CAST(df AS DOUBLE) + 0.5)) + 1.0) * 1e6) AS BIGINT) AS idf_micro
          FROM df),
        scored AS (SELECT tf.doc_id,
            CAST(round((CAST(idf_micro AS DOUBLE) * ((22.0 * CAST(tf AS DOUBLE)) * CAST((SELECT s FROM nn) AS DOUBLE)))
              / ((((10.0 * CAST((SELECT s FROM nn) AS DOUBLE)) * CAST(tf AS DOUBLE))
                  + (3.0 * CAST((SELECT s FROM nn) AS DOUBLE)))
                 + ((9.0 * CAST((SELECT n FROM nn) AS DOUBLE)) * CAST(dl AS DOUBLE)))) AS BIGINT) AS c
          FROM tf JOIN idf USING (term)),
        lex AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score_micro
          FROM scored GROUP BY 1
          ORDER BY score_micro DESC, doc_id LIMIT 50),
        lexr AS (SELECT doc_id AS id,
            row_number() OVER (ORDER BY score_micro DESC, doc_id) AS r
          FROM lex),
        vq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        vs AS (SELECT vec_id AS id,
            list_aggregate(list_transform(range(1, len(qv) + 1),
              i -> round(CAST(qv[i] AS DOUBLE) * 1e7) * round(CAST(embedding[i] AS DOUBLE) * 1e7)), 'sum')
            / SQRT(
              list_aggregate(list_transform(range(1, len(qv) + 1),
                i -> round(CAST(qv[i] AS DOUBLE) * 1e7) * round(CAST(qv[i] AS DOUBLE) * 1e7)), 'sum')
              * list_aggregate(list_transform(range(1, len(embedding) + 1),
                i -> round(CAST(embedding[i] AS DOUBLE) * 1e7) * round(CAST(embedding[i] AS DOUBLE) * 1e7)), 'sum')) AS cos
          FROM embeddings, vq WHERE vec_id <> 0
          ORDER BY cos DESC, id LIMIT 50),
        vr AS (SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS r
          FROM vs),
        c AS (SELECT id, 1000000 // (r + 60) AS c FROM lexr
              UNION ALL
              SELECT id, 1000000 // (r + 60) AS c FROM vr)
        SELECT id AS doc_id, CAST(SUM(c) AS BIGINT) AS rrf_micro,
          CAST(COUNT(*) AS BIGINT) AS n_lists
        FROM c GROUP BY 1
        ORDER BY rrf_micro DESC, doc_id LIMIT 20""")),

    // Grouped HLL distincts with the MERGE proof: per-event-type user
    // sketches, global distinct from hll_union_agg over those sketches
    // alone — the rollup-without-raw-data property that replaces
    // COUNT(DISTINCT) at 100 TB. Sketch registers are engine-specific,
    // so the row emits the error contract next to the exact count (the
    // q46 pattern); the ALL row's estimate came only from the merge.
    "q231_hll_sketch_merge" -> Q(
      (s, dir) => Sketches.distinctSketchMerged(
        t(s, dir, "events"), "event_type", "user_id"),
      Some("""SELECT CAST(event_type AS VARCHAR) AS g,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
          true AS bound_ok
        FROM events WHERE event_type IS NOT NULL GROUP BY 1
        UNION ALL
        SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT), true
        FROM events WHERE event_type IS NOT NULL
        ORDER BY g""")),

    // Holt linear-trend smoothing of daily order revenue (α = 1/2,
    // β = 1/4 dyadic gains, truncating integer division) — level+trend
    // forecasting between q157's EWMA and q183's seasonality. The
    // distributed work is one calendar-bounded day-grid aggregate; the
    // oracle replays the recurrence exactly with a recursive CTE.
    "q232_holt_linear" -> Q(
      (s, dir) => Temporal.holtLinear(t(s, dir, "orders"),
        "o_orderdate", "o_totalprice"),
      Some("""WITH RECURSIVE obs AS (SELECT CAST(o_orderdate AS DATE) AS d,
            CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT) AS s
          FROM orders GROUP BY 1),
        mm AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM obs),
        rec AS (
          SELECT o.d, o.s, o.s AS l, CAST(0 AS BIGINT) AS b
          FROM obs o, mm WHERE o.d = mm.lo
          UNION ALL
          SELECT r.d + 1, COALESCE(o.s, 0),
            (COALESCE(o.s, 0) + r.l + r.b) // 2,
            (((COALESCE(o.s, 0) + r.l + r.b) // 2) - r.l + 3 * r.b) // 4
          FROM rec r
          LEFT JOIN obs o ON o.d = r.d + 1, mm
          WHERE r.d < mm.hi)
        SELECT d AS day, s AS actual_micro, l AS level_micro,
          b AS trend_micro, l + b AS forecast_next_micro
        FROM rec ORDER BY day""")),

    // Bucketed-layout aggregation: lineitem is published bucketed by
    // l_orderkey ([[Warehouse.writeBucketed]]), so the per-order rollup
    // plans with ZERO shuffle exchanges below the final presentation
    // sort — the storage layout already satisfies the aggregation's
    // hash-distribution requirement (a plain scan pays one full-data
    // exchange here; plan_stats pins the difference). The write-once /
    // aggregate-shuffle-free trade is THE bucketing story at 100 TB.
    "q233_bucketed_agg" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
        val path = s"${sys.props("java.io.tmpdir")}/graft_bucketed/" +
          s"li_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
        Warehouse.writeBucketed(s, li, "graft_li_bucketed", path,
          "l_orderkey", 16)
        s.table("graft_li_bucketed")
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_items"),
            sum(col("cents")).as("revenue_cents"))
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
            AS revenue_cents
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // Mann-Whitney U between two sources' length distributions — exact
    // doubled-U + tie cubes on the distinct-value grid, z assembled from
    // the exact integers (pinned IEEE); the nonparametric A/B answer to
    // "is src1 stochastically longer than src0?".
    "q234_mann_whitney" -> Q(
      (s, dir) => Quality.mannWhitneyU(t(s, dir, "documents"),
        "source", "n_chars", "src0", "src1"),
      Some("""WITH base AS (SELECT source AS g, n_chars AS v FROM documents
            WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL),
          grid AS (SELECT v,
            COUNT(*) FILTER (WHERE g = 'src0') AS na,
            COUNT(*) FILTER (WHERE g = 'src1') AS nb
            FROM base GROUP BY v),
          cum AS (SELECT v, na, nb,
            SUM(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) - nb AS blt
            FROM grid),
          agg AS (SELECT CAST(SUM(na) AS BIGINT) AS n_a,
            CAST(SUM(nb) AS BIGINT) AS n_b,
            CAST(SUM(na * (blt * 2 + nb)) AS BIGINT) AS u2_a,
            CAST(SUM(CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb)
              - (na + nb)) AS BIGINT) AS tie_cubes
            FROM cum)
        SELECT 'src0' AS group_a, 'src1' AS group_b, n_a, n_b, u2_a,
          tie_cubes,
          CASE WHEN n_a > 0 AND n_b > 0 AND
              CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
                ((CAST(n_a + n_b AS DOUBLE) + 1)
                 - CAST(tie_cubes AS DOUBLE)
                   / (CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1))) > 0
            THEN (CAST(u2_a AS DOUBLE)
                  - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / 2.0
              / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
                ((CAST(n_a + n_b AS DOUBLE) + 1)
                 - CAST(tie_cubes AS DOUBLE)
                   / (CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1))))
          END AS z
        FROM agg""")),

    // One-way ANOVA F across return-flag groups of l_quantity — exact
    // per-group integer moments, chiSquare-convention micro-rounded
    // group contributions, pinned final divisions.
    "q235_anova_f" -> Q(
      (s, dir) => Quality.anovaF(t(s, dir, "lineitem"),
        "l_returnflag", "l_quantity"),
      Some("""WITH base AS (SELECT l_returnflag AS g,
            CAST(round(l_quantity * 1e6) AS BIGINT) AS x
          FROM lineitem
          WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL),
        pg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
            CAST(SUM(x) AS BIGINT) AS sg,
            SUM(CAST(x AS HUGEINT) * x) AS qg
          FROM base GROUP BY g),
        terms AS (SELECT ng, sg,
            CAST(round(CAST(sg AS DOUBLE) / 1e6 * (CAST(sg AS DOUBLE) / 1e6)
              / CAST(ng AS DOUBLE) * 1e6) AS BIGINT) AS bterm,
            CAST(round((CAST(qg AS DOUBLE) / 1e12
              - CAST(sg AS DOUBLE) / 1e6 * (CAST(sg AS DOUBLE) / 1e6)
                / CAST(ng AS DOUBLE)) * 1e6) AS BIGINT) AS wterm
          FROM pg),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
            CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(sg) AS BIGINT) AS s,
            CAST(SUM(bterm) AS BIGINT) AS bm,
            CAST(SUM(wterm) AS BIGINT) AS ssw_micro
          FROM terms),
        fin AS (SELECT k, n,
            bm - CAST(round(CAST(s AS DOUBLE) / 1e6 * (CAST(s AS DOUBLE) / 1e6)
              / CAST(n AS DOUBLE) * 1e6) AS BIGINT) AS ssb_micro,
            ssw_micro, k - 1 AS df_between, n - k AS df_within
          FROM tot)
        SELECT k, n, ssb_micro, ssw_micro, df_between, df_within,
          CASE WHEN df_between > 0 AND df_within > 0 AND ssw_micro > 0
            THEN (CAST(ssb_micro AS DOUBLE) / CAST(df_between AS DOUBLE))
               / (CAST(ssw_micro AS DOUBLE) / CAST(df_within AS DOUBLE))
          END AS f
        FROM fin""")),

    // Referential-integrity audit of the star schema's four FK edges —
    // orphan child rows / childless parents per relationship, the
    // post-load warehouse constraint sweep.
    "q236_fk_orphans" -> Q(
      (s, dir) => Seq(
          ("orders.custkey", "orders", "o_custkey", "customer", "c_custkey"),
          ("lineitem.orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
          ("lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey"),
          ("lineitem.suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"))
        .map { case (name, c, ck, p, pk) =>
          Quality.referentialAudit(t(s, dir, c), ck, t(s, dir, p), pk, name)
        }
        .reduce(_ unionByName _)
        .orderBy("relationship"),
      Some {
        def rel(name: String, c: String, ck: String, p: String, pk: String) =
          s"""SELECT '$name' AS relationship,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM $c) AS n_child,
            (SELECT CAST(COUNT(*) - COUNT($ck) AS BIGINT) FROM $c) AS n_null_fk,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM $c
              WHERE $ck IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM $p WHERE $pk = $ck))
              AS n_orphan_rows,
            (SELECT CAST(COUNT(DISTINCT $ck) AS BIGINT) FROM $c
              WHERE $ck IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM $p WHERE $pk = $ck))
              AS n_distinct_orphan_keys,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT DISTINCT $pk AS k FROM $p) pp
              WHERE NOT EXISTS (SELECT 1 FROM $c WHERE $ck = pp.k))
              AS n_childless_parents"""
        Seq(
          rel("orders.custkey", "orders", "o_custkey", "customer", "c_custkey"),
          rel("lineitem.orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
          rel("lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey"),
          rel("lineitem.suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"))
          .mkString("", " UNION ALL ", " ORDER BY relationship")
      }),

    // Theil-Sen robust slope of daily revenue — exact median of the
    // calendar-bounded pairwise-slope grid, doubled to stay integral.
    "q237_theil_sen" -> Q(
      (s, dir) => Temporal.theilSen(t(s, dir, "orders"),
        "o_orderdate", "o_totalprice"),
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
            CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT) AS s
          FROM orders
          WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
          GROUP BY 1),
        sl AS (SELECT CAST((CAST(b.s AS HUGEINT) - a.s) * 1000
              // date_diff('day', a.d, b.d) AS BIGINT) AS sl
          FROM daily a JOIN daily b ON a.d < b.d),
        r AS (SELECT sl, row_number() OVER (ORDER BY sl) AS rn,
            COUNT(*) OVER () AS np FROM sl),
        med AS (SELECT CASE WHEN COUNT(*) = 1 THEN CAST(SUM(sl) * 2 AS BIGINT)
            ELSE CAST(SUM(sl) AS BIGINT) END AS slope2x_millimicro
          FROM r WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2)
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM sl) AS n_pairs,
          slope2x_millimicro,
          CAST(slope2x_millimicro AS DOUBLE) / 2.0 / 1e9 AS slope_per_day
        FROM med""")),

    // Pairwise Jensen-Shannon divergence between source vocabularies —
    // micro-log grid over exact count products, exact directional sums.
    "q238_js_divergence" -> Q(
      (s, dir) => TextOps.jsDivergencePairwise(t(s, dir, "documents"),
        "source", "text"),
      Some("""WITH toks AS (SELECT source AS g,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents WHERE source IS NOT NULL),
        counts AS (SELECT g, w, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks GROUP BY 1, 2),
        totals AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n
          FROM counts GROUP BY 1),
        dir AS (SELECT ta.g AS ga, tb.g AS gb, ta.n AS na, tb.n AS nb,
            a.w AS w, a.c AS c, COALESCE(b.c, 0) AS cb
          FROM counts a
          JOIN totals ta ON a.g = ta.g
          JOIN totals tb ON ta.g <> tb.g
          LEFT JOIN counts b ON b.g = tb.g AND b.w = a.w),
        sums AS (SELECT ga, gb, na, nb,
            CAST(SUM(c * (CAST(round(ln(CAST(c * 2 * nb AS DOUBLE)) * 1e6) AS BIGINT)
              - CAST(round(ln(CAST(c * nb + cb * na AS DOUBLE)) * 1e6) AS BIGINT)))
              AS BIGINT) AS s
          FROM dir GROUP BY 1, 2, 3, 4)
        SELECT f.ga AS group_a, f.gb AS group_b, f.na AS n_tokens_a,
          f.nb AS n_tokens_b, f.s AS js_sum_a_micro, r.s AS js_sum_b_micro,
          (CAST(f.s AS DOUBLE) / CAST(f.na AS DOUBLE)
           + CAST(r.s AS DOUBLE) / CAST(f.nb AS DOUBLE)) / 2.0 / 1e6 AS js_nats
        FROM sums f JOIN sums r ON f.ga = r.gb AND f.gb = r.ga
        WHERE f.ga < f.gb ORDER BY group_a, group_b""")),

    // Resource-allocation link prediction on the co-purchase graph
    // (support ≥ 2 edges): the top predicted "next co-purchase" pairs —
    // non-adjacent parts whose co-purchase neighborhoods overlap
    // (1/deg on the exact 1e12 integer grid, no logs/floats). The
    // near-dup graph is pure cliques (every in-cluster pair is already
    // an edge), so the basket graph is where RA has real candidates.
    "q239_ra_links" -> Q(
      (s, dir) => {
        val items = t(s, dir, "lineitem")
          .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
          .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
          .distinct()
        val pairs = items.as("a").join(items.as("b"),
            col("a.bk") === col("b.bk") && col("a.it") < col("b.it"))
          .groupBy(col("a.it").as("pa"), col("b.it").as("pb"))
          .agg(count(lit(1)).as("sup")).filter(col("sup") >= 2)
        Graphs.resourceAllocation(pairs, "pa", "pb", 50, exact = true)
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
            FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
          prs AS (SELECT a.it AS id_a, b.it AS id_b
            FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
          edges AS (SELECT id_a AS src, id_b AS dst FROM prs
            UNION SELECT id_b, id_a FROM prs),
          deg AS (SELECT src AS z, CAST(COUNT(*) AS BIGINT) AS dz
            FROM edges GROUP BY 1),
          wed AS (SELECT x.dst AS u, y.dst AS v, x.src AS z
            FROM edges x JOIN edges y ON x.src = y.src AND x.dst < y.dst),
          cand AS (SELECT w.u, w.v, w.z FROM wed w
            WHERE NOT EXISTS (SELECT 1 FROM prs p
              WHERE p.id_a = w.u AND p.id_b = w.v)),
          scored AS (SELECT cand.u, cand.v,
              CAST(COUNT(*) AS BIGINT) AS common_neighbors,
              CAST(SUM(1000000000000 // dz) AS BIGINT) AS ra_score_micro
            FROM cand JOIN deg ON cand.z = deg.z GROUP BY 1, 2)
          SELECT u AS id_a, v AS id_b, common_neighbors, ra_score_micro,
            CAST(ra_score_micro AS DOUBLE) / 1e12 AS ra_score
          FROM scored
          ORDER BY ra_score_micro DESC, id_a, id_b LIMIT 50""")),

    // Capped twin of q239 (r10 verdict #2): the SAME RA ranking computed
    // through the scale-safe plan — degreeCap keeps, per wedge CENTER,
    // only the cap lowest-id neighbors, bounding wedge volume at
    // Σ min(deg,cap)² ≤ E·cap (uncapped is Σ deg², superlinear on a
    // skewed hub: 15.6× wall at 10× edges on the skewed MicroGraph vs
    // 8.1× capped). cap = 8 — NOT 64 — because the oracle must exercise
    // the cap where it binds: the basket graph's max degree is 13 at
    // sf0.01 / 51 at sf0.001, so 64 would be a bit-identical no-op and
    // the row would prove nothing. The k-lowest-id cap replays exactly
    // in SQL (row_number over dst per src); degrees/weights stay TRUE
    // values per the capAdjacency contract, so scores are lower bounds.
    "q239b_ra_links_capped" -> Q(
      (s, dir) => {
        val items = t(s, dir, "lineitem")
          .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
          .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
          .distinct()
        val pairs = items.as("a").join(items.as("b"),
            col("a.bk") === col("b.bk") && col("a.it") < col("b.it"))
          .groupBy(col("a.it").as("pa"), col("b.it").as("pb"))
          .agg(count(lit(1)).as("sup")).filter(col("sup") >= 2)
        Graphs.resourceAllocation(pairs, "pa", "pb", 50, degreeCap = 8)
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
            FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
          prs AS (SELECT a.it AS id_a, b.it AS id_b
            FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
          edges AS (SELECT id_a AS src, id_b AS dst FROM prs
            UNION SELECT id_b, id_a FROM prs),
          deg AS (SELECT src AS z, CAST(COUNT(*) AS BIGINT) AS dz
            FROM edges GROUP BY 1),
          cedges AS (SELECT src, dst FROM (SELECT src, dst,
              row_number() OVER (PARTITION BY src ORDER BY dst) AS rk
            FROM edges) WHERE rk <= 8),
          wed AS (SELECT x.dst AS u, y.dst AS v, x.src AS z
            FROM cedges x JOIN cedges y ON x.src = y.src AND x.dst < y.dst),
          cand AS (SELECT w.u, w.v, w.z FROM wed w
            WHERE NOT EXISTS (SELECT 1 FROM prs p
              WHERE p.id_a = w.u AND p.id_b = w.v)),
          scored AS (SELECT cand.u, cand.v,
              CAST(COUNT(*) AS BIGINT) AS common_neighbors,
              CAST(SUM(1000000000000 // dz) AS BIGINT) AS ra_score_micro
            FROM cand JOIN deg ON cand.z = deg.z GROUP BY 1, 2)
          SELECT u AS id_a, v AS id_b, common_neighbors, ra_score_micro,
            CAST(ra_score_micro AS DOUBLE) / 1e12 AS ra_score
          FROM scored
          ORDER BY ra_score_micro DESC, id_a, id_b LIMIT 50""")),

    // Per-node local clustering coefficient of the near-dup graph —
    // wedge enumeration + edge semi-join, lcc on the exact micro grid.
    "q240_local_clustering" -> Q(
      (s, dir) => Graphs.localClustering(lshPairs(s, dir), "id_a", "id_b")
        .orderBy("id"),
      Some(s"""WITH ${nearDupEdgesCte(0.8)},
          deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS degree
            FROM edges GROUP BY 1),
          wed AS (SELECT x.src AS id, x.dst AS u, y.dst AS v
            FROM edges x JOIN edges y ON x.src = y.src AND x.dst < y.dst),
          tri AS (SELECT w.id, CAST(COUNT(*) AS BIGINT) AS t
            FROM wed w JOIN prs p ON w.u = p.id_a AND w.v = p.id_b
            GROUP BY 1)
          SELECT d.id, d.degree,
            COALESCE(t.t, 0) AS triangles,
            CASE WHEN d.degree >= 2
              THEN (2 * COALESCE(t.t, 0) * 1000000)
                // (d.degree * (d.degree - 1))
              ELSE 0 END AS lcc_micro,
            CAST(CASE WHEN d.degree >= 2
              THEN (2 * COALESCE(t.t, 0) * 1000000)
                // (d.degree * (d.degree - 1))
              ELSE 0 END AS DOUBLE) / 1e6 AS lcc
          FROM deg d LEFT JOIN tri t ON d.id = t.id ORDER BY d.id""")),

    // Holt-Winters additive weekly smoothing of daily event value — the
    // rotating 7-slot seasonal register as recursive-CTE columns.
    "q241_holt_winters" -> Q(
      (s, dir) => Temporal.holtWinters(t(s, dir, "events"), "ts", "value", 7),
      Some {
        val y = "COALESCE(o.s, 0)"
        val l2 = s"(($y - r.s1) + r.l + r.b) // 2"
        val b2 = s"($l2 - r.l + 3 * r.b) // 4"
        val snew = s"($y - $l2 + r.s1) // 2"
        s"""WITH RECURSIVE obs AS (SELECT CAST(ts AS DATE) AS d,
              CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS s
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
            GROUP BY 1),
          mm AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM obs),
          rec AS (
            SELECT o.d, o.s AS y, o.s AS l, CAST(0 AS BIGINT) AS b,
              CAST(0 AS BIGINT) AS sea,
              CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2,
              CAST(0 AS BIGINT) AS s3, CAST(0 AS BIGINT) AS s4,
              CAST(0 AS BIGINT) AS s5, CAST(0 AS BIGINT) AS s6,
              CAST(0 AS BIGINT) AS s7
            FROM obs o, mm WHERE o.d = mm.lo
            UNION ALL
            SELECT r.d + 1, $y, $l2, $b2, $snew,
              r.s2, r.s3, r.s4, r.s5, r.s6, r.s7, $snew
            FROM rec r LEFT JOIN obs o ON o.d = r.d + 1, mm
            WHERE r.d < mm.hi)
          SELECT d AS day, y AS actual_micro, l AS level_micro,
            b AS trend_micro, sea AS seasonal_micro,
            l + b + s1 AS forecast_next_micro
          FROM rec ORDER BY day"""
      }),

    // Compaction (OPTIMIZE) planning over day-slice units of the event
    // stream: deterministic cumulative next-fit into 2000-row bins.
    "q242_compaction_plan" -> Q(
      (s, dir) => Warehouse.compactionPlan(
        t(s, dir, "events").filter(col("ts").isNotNull)
          .groupBy(col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("n")),
        "day", "n", 2000L),
      Some("""WITH units AS (SELECT CAST(ts AS DATE) AS k,
            CAST(COUNT(*) AS BIGINT) AS sz
          FROM events WHERE ts IS NOT NULL GROUP BY 1),
        c AS (SELECT k, sz,
            SUM(sz) OVER (ORDER BY sz DESC, k ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS cum
          FROM units)
        SELECT CAST((cum - sz) // 2000 AS BIGINT) AS bin,
          CAST(COUNT(*) AS BIGINT) AS n_units,
          CAST(SUM(sz) AS BIGINT) AS total_size,
          MIN(k) AS min_key, MAX(k) AS max_key
        FROM c GROUP BY 1 ORDER BY 1""")),

    // Page-Hinkley drift statistic over daily revenue — adaptive-mean
    // cumulative deviation + prefix-min, all exact micro integers.
    "q243_page_hinkley" -> Q(
      (s, dir) => Temporal.pageHinkley(t(s, dir, "orders"),
        "o_orderdate", "o_totalprice", 0L, 10000000000000L),
      Some("""WITH obs AS (SELECT CAST(o_orderdate AS DATE) AS d,
            CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT) AS s
          FROM orders
          WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
          GROUP BY 1),
        mm AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM obs),
        g AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
            AS DATE) AS d FROM mm),
        gx AS (SELECT g.d, COALESCE(o.s, 0) AS x
          FROM g LEFT JOIN obs o ON o.d = g.d),
        w1 AS (SELECT d, x,
            row_number() OVER (ORDER BY d) AS t,
            SUM(x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS cx
          FROM gx),
        w2 AS (SELECT d, x, CAST(cx // t AS BIGINT) AS mean_micro FROM w1),
        w3 AS (SELECT d, x, mean_micro,
            CAST(SUM(x - mean_micro - 0) OVER (ORDER BY d ROWS BETWEEN
              UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m_micro
          FROM w2),
        w4 AS (SELECT d, x, mean_micro, m_micro,
            CAST(m_micro - MIN(m_micro) OVER (ORDER BY d ROWS BETWEEN
              UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ph_micro
          FROM w3)
        SELECT d AS day, x AS x_micro, mean_micro, m_micro, ph_micro,
          ph_micro > 10000000000000 AS alarm
        FROM w4 ORDER BY day""")),

    // Nelson-Aalen cumulative hazard of view→purchase conversion — the
    // hazard-sum sibling of q179's Kaplan-Meier (same subjects relation),
    // all exact integer quotients, no logs.
    "q244_nelson_aalen" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("v0"))
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("pt"))
        val firstBuy = views.join(buys, Seq("user_id"), "left")
          .groupBy("user_id", "v0")
          .agg(min(when(col("pt") >= col("v0"), col("pt"))).as("p1"))
        val mx = ev.agg(max(col("ts")).as("m"))
        val subjects = firstBuy.crossJoin(broadcast(mx))
          .select(
            when(col("p1").isNotNull,
              datediff(col("p1").cast("date"), col("v0").cast("date")))
              .otherwise(
                datediff(col("m").cast("date"), col("v0").cast("date")))
              .as("dur"),
            col("p1").isNotNull.as("ev"))
        Temporal.nelsonAalen(subjects, "dur", "ev").orderBy("t")
      },
      Some("""WITH v AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS v0
              FROM events WHERE event_type = 'view' GROUP BY 1),
        b AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pt FROM events
              WHERE event_type = 'purchase'),
        s0 AS (SELECT v.user_id, v.v0,
            MIN(CASE WHEN b.pt >= v.v0 THEN b.pt END) AS p1
          FROM v LEFT JOIN b ON b.user_id = v.user_id GROUP BY 1, 2),
        mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS m FROM events),
        subj AS (SELECT CASE WHEN p1 IS NOT NULL
              THEN date_diff('day', CAST(v0 AS DATE), CAST(p1 AS DATE))
              ELSE date_diff('day', CAST(v0 AS DATE),
                CAST((SELECT m FROM mx) AS DATE)) END AS t,
            p1 IS NOT NULL AS e FROM s0),
        grid AS (SELECT t, SUM(CASE WHEN e THEN 1 ELSE 0 END) AS d_event,
            SUM(CASE WHEN e THEN 0 ELSE 1 END) AS d_censored
          FROM subj GROUP BY 1),
        tot AS (SELECT SUM(d_event + d_censored) AS n FROM grid),
        risked AS (SELECT t, d_event, d_censored,
            (SELECT n FROM tot) - COALESCE(SUM(d_event + d_censored)
              OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) AS n_risk
          FROM grid),
        terms AS (SELECT t, n_risk, d_event, d_censored,
            (d_event * 1000000) // n_risk AS hazard_micro FROM risked)
        SELECT CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
          CAST(d_event AS BIGINT) AS d_event,
          CAST(d_censored AS BIGINT) AS d_censored,
          CAST(hazard_micro AS BIGINT) AS hazard_micro,
          CAST(SUM(hazard_micro) OVER (ORDER BY t) AS BIGINT)
            AS cum_hazard_micro
        FROM terms ORDER BY t""")),

    // CUPED variance-reduced A/B readout over the event stream: pre-period
    // (before Jan 16) value as covariate, post-period as metric, h60 arm
    // split, pooled θ from one exact-integer moment row.
    "q245_cuped" -> Q(
      (s, dir) => Analytics.cupedAdjust(t(s, dir, "events"), "user_id",
        "ts", "value", "2024-01-16 00:00:00", "cuped1"),
      Some(s"""WITH base AS (SELECT user_id AS u,
            CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00' AS pre,
            CAST(round(value * 1e6) AS BIGINT) AS v
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND value IS NOT NULL),
        pu AS (SELECT u,
            CAST(SUM(CASE WHEN pre THEN v ELSE 0 END) AS BIGINT) AS x,
            CAST(SUM(CASE WHEN pre THEN 0 ELSE v END) AS BIGINT) AS y
          FROM base GROUP BY 1),
        mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
            SUM(CAST(x AS HUGEINT) * y) AS sxy,
            SUM(CAST(x AS HUGEINT) * x) AS sxx FROM pu),
        th AS (SELECT n, sx,
            CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
              THEN CAST(((CAST(n AS HUGEINT) * sxy
                    - CAST(sx AS HUGEINT) * sy) * 1000000)
                  // (CAST(n AS HUGEINT) * sxx
                    - CAST(sx AS HUGEINT) * sx) AS BIGINT)
              ELSE 0 END AS theta_micro
          FROM mom),
        arms AS (SELECT CASE WHEN
              ${graft.functions.Hashing.h60Sql("'cuped1:' || u")} % 2 = 0
              THEN 'a' ELSE 'b' END AS arm,
            CAST(COUNT(*) AS BIGINT) AS n_users,
            CAST(SUM(x) AS BIGINT) AS sum_x_micro,
            CAST(SUM(y) AS BIGINT) AS sum_y_micro
          FROM pu GROUP BY 1)
        SELECT arm, n_users, sum_x_micro, sum_y_micro,
          CAST(sum_y_micro AS DOUBLE) / CAST(n_users AS DOUBLE) / 1e6
            AS mean_y,
          CAST(theta_micro AS DOUBLE) / 1e6 AS theta,
          CAST(sum_y_micro AS DOUBLE) / CAST(n_users AS DOUBLE) / 1e6
          - (CAST(theta_micro AS DOUBLE) / 1e6)
            * (CAST(sum_x_micro AS DOUBLE) / CAST(n_users AS DOUBLE) / 1e6
               - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1e6) AS mean_y_adj
        FROM arms CROSS JOIN th ORDER BY arm""")),

    // Poisson-bootstrap 95% CI for mean document length — the
    // distributed bootstrap (per-row hash-deterministic Poisson(1)
    // weights, integer-threshold sampler, exact replicate means).
    "q246_poisson_bootstrap" -> Q(
      (s, dir) => Quality.poissonBootstrapMeanCi(t(s, dir, "documents"),
        "doc_id", "n_chars", 64, "boot1"),
      Some {
        val kCase = Quality.poissonCdf60
          .map(t => s"(CASE WHEN h >= $t THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH base AS (SELECT CAST(doc_id AS VARCHAR) AS id,
              CAST(n_chars AS BIGINT) AS x FROM documents
            WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
          f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST((SUM(CAST(x AS HUGEINT)) * 1000000) // COUNT(*) AS BIGINT)
                AS mean_micro FROM base),
          rep AS (SELECT b, x,
              ${graft.functions.Hashing.h60Sql("'boot1:' || b || ':' || id")}
                AS h
            FROM base CROSS JOIN (SELECT unnest(range(0, 64)) AS b)),
          kk AS (SELECT b, x, $kCase AS k FROM rep),
          rs AS (SELECT b, SUM(CAST(k AS HUGEINT) * x) AS skx,
              CAST(SUM(k) AS BIGINT) AS sk FROM kk GROUP BY b),
          means AS (SELECT b, CASE WHEN sk > 0
              THEN CAST((skx * 1000000) // sk AS BIGINT)
              ELSE (SELECT mean_micro FROM f) END AS m FROM rs),
          r AS (SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM means)
          SELECT n_rows, CAST(64 AS BIGINT) AS b_reps, mean_micro,
            (SELECT m FROM r WHERE rn = 2) AS ci_lo_micro,
            (SELECT m FROM r WHERE rn = 63) AS ci_hi_micro
          FROM f"""
      }),

    // k-truss (k = 3) of the near-dup graph: edges in ≥ 1 triangle after
    // iterative peel — the edge-level cohesion core (q226's kCore peels
    // vertices; this peels edges, so triangle-free bridge edges between
    // cliques drop). k = 3 because the sf0.01 dup clusters are mostly
    // 3-cliques (per-edge support 1): k = 4 peels the whole graph there.
    "q247_ktruss" -> Q(
      (s, dir) => Graphs.kTruss(lshPairs(s, dir), "id_a", "id_b",
        k = 3, maxRounds = 4),
      Some(kTrussOracleSql(3, 4))),

    // Personalized PageRank from the doc_id < 100 seed set over the
    // near-dup graph — seed-expansion ("what's related to THESE docs"),
    // teleport + dangling mass to seeds only, exact integer fixed point.
    "q248_personalized_pagerank" -> Q(
      (s, dir) => {
        val pairs = lshPairs(s, dir)
        val nodes = pairs.select(col("id_a").as("id"))
          .union(pairs.select(col("id_b"))).distinct()
        Graphs.personalizedPageRank(nodes, "id", pairs, "id_a", "id_b",
            id => id < 100, iters = 3)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some(pprOracleSql(100, 3))),

    // Log-rank test between two hash arms' view→purchase conversion
    // survival — exact O−E and hypergeometric variance on the integer
    // grid over the duration grid (q179's subjects + q245's arm split).
    "q249_log_rank" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("v0"))
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("pt"))
        val firstBuy = views.join(buys, Seq("user_id"), "left")
          .groupBy("user_id", "v0")
          .agg(min(when(col("pt") >= col("v0"), col("pt"))).as("p1"))
        val mx = ev.agg(max(col("ts")).as("m"))
        val subjects = firstBuy.crossJoin(broadcast(mx))
          .select(
            when(pmod(graft.functions.Hashing.h60(
              concat(lit("lr1:"), col("user_id").cast("string"))), lit(2L))
              === 0, "a").otherwise("b").as("arm"),
            when(col("p1").isNotNull,
              datediff(col("p1").cast("date"), col("v0").cast("date")))
              .otherwise(
                datediff(col("m").cast("date"), col("v0").cast("date")))
              .as("dur"),
            col("p1").isNotNull.as("ev"))
        Temporal.logRankTest(subjects, "arm", "dur", "ev", "a", "b")
      },
      Some(s"""WITH v AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS v0
              FROM events WHERE event_type = 'view' GROUP BY 1),
        b AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pt FROM events
              WHERE event_type = 'purchase'),
        s0 AS (SELECT v.user_id, v.v0,
            MIN(CASE WHEN b.pt >= v.v0 THEN b.pt END) AS p1
          FROM v LEFT JOIN b ON b.user_id = v.user_id GROUP BY 1, 2),
        mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS m FROM events),
        subj AS (SELECT
            CASE WHEN ${graft.functions.Hashing.h60Sql("'lr1:' || user_id")}
              % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
            CASE WHEN p1 IS NOT NULL
              THEN date_diff('day', CAST(v0 AS DATE), CAST(p1 AS DATE))
              ELSE date_diff('day', CAST(v0 AS DATE),
                CAST((SELECT m FROM mx) AS DATE)) END AS t,
            p1 IS NOT NULL AS e FROM s0),
        grid AS (SELECT t,
            SUM(CASE WHEN arm = 'a' AND e THEN 1 ELSE 0 END) AS da,
            SUM(CASE WHEN arm = 'b' AND e THEN 1 ELSE 0 END) AS db,
            SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS ta,
            SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS tb
          FROM subj GROUP BY 1),
        tot AS (SELECT CAST(SUM(ta) AS BIGINT) AS na,
            CAST(SUM(tb) AS BIGINT) AS nb FROM grid),
        risked AS (SELECT t, da, db,
            (SELECT na FROM tot) - COALESCE(SUM(ta) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ra,
            (SELECT nb FROM tot) - COALESCE(SUM(tb) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rb
          FROM grid),
        terms AS (SELECT da, db,
            (CAST(da + db AS HUGEINT) * ra * 1000000) // (ra + rb)
              AS e_micro,
            CASE WHEN ra + rb > 1 THEN
              (CAST(da + db AS HUGEINT) * ra * rb * ((ra + rb) - (da + db))
                * 1000000)
              // (CAST(ra + rb AS HUGEINT) * (ra + rb) * ((ra + rb) - 1))
            ELSE 0 END AS v_micro
          FROM risked)
        SELECT (SELECT na FROM tot) AS n_a, (SELECT nb FROM tot) AS n_b,
          CAST(SUM(da) AS BIGINT) AS events_a,
          CAST(SUM(db) AS BIGINT) AS events_b,
          CAST(SUM(da) * 1000000 - SUM(e_micro) AS BIGINT)
            AS o_minus_e_micro,
          CAST(SUM(v_micro) AS BIGINT) AS var_micro,
          CASE WHEN SUM(v_micro) > 0 THEN
            (CAST(SUM(da) * 1000000 - SUM(e_micro) AS DOUBLE) / 1e6)
              / sqrt(CAST(SUM(v_micro) AS DOUBLE) / 1e6)
          END AS z
        FROM terms""")),

    // Persisted-LSH-index incremental dedup — the production daily-ingest
    // architecture (q233's bucketed layout + q63's incremental-probe
    // semantics + a stream-static probe shape, composed): batch-1
    // (even doc_ids) is indexed ONCE — band relation published bucketed
    // by `bucket`, shingle-doc relation bucketed by `id`
    // ([[operators.Warehouse.writeBucketed]]) — then batch-2 (odd
    // doc_ids) probes the STORED tables: only the new batch shingles/
    // signs/shuffles, the historical side scans pre-bucketed with zero
    // exchanges (plan-pinned in plan_stats). Maintenance is a bucketed
    // APPEND of the new batch's rows (DedupSpec pins append(b1)+
    // append(b2) row-equal to index(b1 ∪ b2)). The oracle replays both
    // batches and confirms every cross-batch pair at exact Jaccard ≥ 0.8.
    "q250_persisted_lsh_index" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val b1 = docs.filter(col("doc_id") % 2 === 0)
        val b2 = docs.filter(col("doc_id") % 2 === 1)
        val (ib, idocs) = Dedup.lshIndexRelations(b1, "doc_id", "text",
          3, 64, 16)
        val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
        val base = s"${sys.props("java.io.tmpdir")}/graft_lsh_index"
        Warehouse.writeBucketed(s, ib, "graft_lsh_bands",
          s"$base/bands_$sfx", "bucket", 16)
        Warehouse.writeBucketed(s, idocs, "graft_lsh_docs",
          s"$base/docs_$sfx", "id", 16)
        Dedup.lshIndexProbe(s.table("graft_lsh_bands"),
            s.table("graft_lsh_docs"), b2, "doc_id", "text", 3, 64, 16, 0.8)
          .select("id_a", "id_b", "jaccard")
          .orderBy("id_a", "id_b")
      },
      Some("""WITH toks AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS l
          FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(l) - 1, 1)),
              i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
          FROM toks WHERE len(l) >= 3),
        sh AS MATERIALIZED (SELECT doc_id,
            CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz
          FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh
          WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
          GROUP BY 1, 2)
        SELECT id_a, id_b,
          CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        FROM inter
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8
        ORDER BY id_a, id_b""")),

    // Harmonic centrality within 4 hops of the near-dup graph — the
    // distance-based canonical-pick signal (well-defined on the always-
    // disconnected dup graph, unlike closeness); exact BFS distances on
    // the 1e6 div d truncating grid, multi-source frontier joins bounded
    // by Σ component_size², depth-capped. Oracle: min-first-appearance
    // over unrolled walk levels = exact BFS distance.
    "q251_harmonic_centrality" -> Q(
      (s, dir) => Graphs.harmonicCentrality(lshPairs(s, dir),
          "id_a", "id_b", maxDepth = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some(harmonicOracleSql(4))),

    // Empirical LSH band-planner sweep: every (b, r) factorization of a
    // 16-slot replayable-minhash signature, scored by ACTUAL candidate
    // volume and actual recall/precision against the exact pairs at
    // τ = 0.8 — the pre-deployment table for the 100 TB dedup pass (the
    // analytic S-curve assumes independent uniform permutations; this
    // measures the real corpus). Value-pinned end to end: the oracle
    // re-derives every candidate set from the same seeded-h60 families.
    "q252_band_planner" -> Q(
      (s, dir) => Dedup.bandPlannerEmpirical(t(s, dir, "documents"),
        "doc_id", "text", 3, 16, 0.8),
      Some(bandPlannerOracleSql(16, 0.8))),

    // Chapman capture–recapture over two INDEPENDENT near-dup detectors
    // (SimHash-banded Hamming ≤ 3 vs shingle-containment ≥ 0.8 —
    // different failure modes): estimates the latent dup-pair population
    // and hence how many pairs BOTH detectors missed — the dedup-recall
    // QA number a "we deduped everything" claim silently hides.
    "q253_capture_recapture" -> Q(
      (s, dir) => {
        val docs = graft.CacheScope.register(t(s, dir, "documents"))
        val a = Dedup.simhashNearDups(
            Dedup.simhash(docs, "doc_id", "text"), 3, 4)
          .select("id_a", "id_b")
        val b = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.8)
          .select("id_a", "id_b")
        Quality.captureRecapture(a, b)
      },
      Some("""WITH tw AS (SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        th AS (SELECT doc_id,
            CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tw),
        bits AS (SELECT doc_id, j,
            SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM th CROSS JOIN range(60) r(j) GROUP BY 1, 2),
        sig AS (SELECT doc_id, CAST(SUM(CASE WHEN s >= 0
            THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id),
        pa AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        toks AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS l
          FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(l) - 1, 1)),
              i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
          FROM toks WHERE len(l) >= 3),
        sh AS MATERIALIZED (SELECT doc_id,
            CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz
          FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pb AS (SELECT id_a, id_b FROM inter
          JOIN sizes sa ON id_a = sa.doc_id
          JOIN sizes sb ON id_b = sb.doc_id
          WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.8
             OR CAST(inter AS DOUBLE) / sb.sz >= 0.8),
        u AS (SELECT (a.id_a IS NOT NULL) AS ina,
            (b.id_a IS NOT NULL) AS inb
          FROM pa a FULL OUTER JOIN pb b
            ON a.id_a = b.id_a AND a.id_b = b.id_b),
        agg AS (SELECT
            CAST(COUNT(CASE WHEN ina THEN 1 END) AS BIGINT) AS n_a,
            CAST(COUNT(CASE WHEN inb THEN 1 END) AS BIGINT) AS n_b,
            CAST(COUNT(CASE WHEN ina AND inb THEN 1 END) AS BIGINT)
              AS n_both,
            CAST(COUNT(*) AS BIGINT) AS n_union
          FROM u)
        SELECT n_a, n_b, n_both, n_union,
          ((n_a + 1) * (n_b + 1) * 1000) // (n_both + 1) - 1000
            AS chapman_milli,
          GREATEST(((n_a + 1) * (n_b + 1) * 1000) // (n_both + 1) - 1000
            - n_union * 1000, 0) AS est_missed_milli
        FROM agg""")),

    // Distribution-free 95% CI for the MEDIAN line-item price via
    // binomial order-statistic ranks — selected by the q229 iterative
    // histogram, so the CI costs no sort and no per-row state at any n
    // (the scalable sibling of q246's bootstrap-mean CI). The oracle
    // pays the full sort and the same rank formula.
    "q254_median_ci" -> Q(
      (s, dir) => Quality.medianCi95(
        t(s, dir, "lineitem")
          .select(round(col("l_extendedprice") * 100).cast("long").as("v")),
        "v"),
      Some("""WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
            AS v FROM lineitem),
        nn AS (SELECT COUNT(*) AS n FROM v),
        ks AS (SELECT GREATEST(1,
            CAST(floor((n - 1.96 * sqrt(n)) / 2) AS BIGINT)) AS lo,
            (n + 1) // 2 AS med, n FROM nn),
        ranks AS (SELECT 'ci_lo' AS which, lo AS k FROM ks
          UNION ALL SELECT 'median', med FROM ks
          UNION ALL SELECT 'ci_hi', n + 1 - lo FROM ks),
        r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v)
        SELECT which, CAST(k AS BIGINT) AS rank_pos, v AS value_at
        FROM r JOIN ranks ON rn = k ORDER BY rank_pos""")),

    // OPTIMIZE executed end-to-end on a versioned table: publish
    // lineitem shredded into 64 small files, soft-delete a key slice,
    // then compactExecute — size-binned narrow rewrites (no shuffle),
    // tombstones MATERIALIZED (never resurrected), new generation in the
    // same commit chain (time travel intact — WarehouseSpec pins file
    // counts and history). The oracle gate is CONTENT invariance: the
    // compacted table must aggregate exactly like the raw facts minus
    // the deleted keys.
    "q255_compaction_execute" -> Q(
      (s, dir) => {
        val table = s"${sys.props("java.io.tmpdir")}/graft_compact/" +
          s"li_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
        Warehouse.resetTable(table)
        val li = t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        Warehouse.publishVersioned(s, li.repartition(64), table)
        Warehouse.deleteWhere(s, table, "l_orderkey",
          col("l_orderkey") % 100 === 0)
        Warehouse.compactExecute(s, table, targetSize = 1L << 20)
        Warehouse.readVersioned(s, table)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
            AS sum_cents
        FROM lineitem WHERE l_orderkey % 100 <> 0
        GROUP BY 1 ORDER BY 1""")),

    // Exact Brandes betweenness over the co-purchase graph (parts
    // co-occurring in >= 2 orders): which parts BRIDGE purchase
    // communities — the structural signal degree/PageRank miss (a
    // 2-degree bridge can carry every cross-community shortest path).
    // Every dependency term rides the truncating integer grid
    // (sigma_v*(1e6+delta_w)) div sigma_w, so the whole recursion is
    // BIGINT-exact and the oracle replays it level by level.
    "q257_betweenness" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
        val co = li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("id_a"),
            col("b.l_partkey").as("id_b"))
          .agg(count(lit(1)).as("co"))
          .filter(col("co") >= 2)
        Graphs.betweenness(co, "id_a", "id_b", maxDepth = 16)
          .orderBy("id")
      },
      Some(betweennessOracleSql(
        """co AS MATERIALIZED (SELECT a.l_partkey AS id_a,
            b.l_partkey AS id_b
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM co
          UNION ALL SELECT id_b, id_a FROM co)""", 16))),

    // Degree assortativity of the co-purchase graph: do hub parts
    // co-purchase with other hubs (r > 0) or with one-off parts
    // (r < 0)? One O(E) moment pass — the structural summary read
    // before paying for clustering.
    "q266_assortativity" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
        val co = li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("id_a"),
            col("b.l_partkey").as("id_b"))
          .agg(count(lit(1)).as("co"))
          .filter(col("co") >= 2)
        Graphs.assortativity(co, "id_a", "id_b")
      },
      Some("""WITH co AS MATERIALIZED (SELECT a.l_partkey AS id_a,
            b.l_partkey AS id_b
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
          SELECT id_a AS src, id_b AS dst FROM co
          UNION ALL SELECT id_b, id_a FROM co) u WHERE src <> dst),
        deg AS (SELECT src AS id, COUNT(*) AS dg FROM edges GROUP BY 1),
        mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
            CAST(SUM(a.dg) AS BIGINT) AS sx,
            CAST(SUM(CAST(a.dg AS HUGEINT) * a.dg) AS BIGINT) AS sxx,
            CAST(SUM(CAST(a.dg AS HUGEINT) * b.dg) AS BIGINT) AS sxy
          FROM edges e JOIN deg a ON e.src = a.id JOIN deg b ON e.dst = b.id)
        SELECT m, sx, sxx, sxy,
          CASE WHEN CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
            THEN CAST(CAST(m AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sx AS DOUBLE)
              / CAST(CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
          END AS assortativity
        FROM mo""")),

    // TextRank keyword extraction: PageRank over the word co-occurrence
    // graph (adjacent-token bigrams, co >= 3) — the corpus-keyword
    // signal raw frequency misses; vocabulary-bounded graph, exact
    // integer ranks, whole extraction value-pinned (h60 node ids, the
    // q155 unrolled pageRank oracle over the word graph).
    "q258_textrank_keywords" -> Q(
      (s, dir) => TextOps.textRankKeywords(t(s, dir, "documents"), "text",
        minCo = 3, iters = 3, topK = 25),
      Some(s"""WITH toks AS (SELECT
            string_split_regex(lower(trim(text)), '\\s+') AS l
          FROM documents),
        big AS (SELECT unnest(list_transform(range(1, len(l)),
              i -> l[i] || ' ' || l[i+1])) AS g
          FROM toks WHERE len(l) >= 2),
        bi AS MATERIALIZED (SELECT string_split(g, ' ')[1] AS wa,
            string_split(g, ' ')[2] AS wb, COUNT(*) AS co
          FROM big WHERE string_split(g, ' ')[1] <> string_split(g, ' ')[2]
          GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        wid AS MATERIALIZED (SELECT w,
            ${graft.functions.Hashing.h60Sql("w")} AS id
          FROM (SELECT wa AS w FROM bi UNION SELECT wb FROM bi) u),
        edges AS MATERIALIZED (SELECT DISTINCT a.id AS src, b.id AS dst
          FROM (SELECT wa AS x, wb AS y FROM bi
                UNION ALL SELECT wb, wa FROM bi) p
          JOIN wid a ON a.w = p.x JOIN wid b ON b.w = p.y),
        deg AS (SELECT src AS id, COUNT(*) AS outdeg FROM edges GROUP BY 1),
        nn AS (SELECT COUNT(*) AS n FROM wid),
        r0 AS (SELECT id, 1000000000000 // (SELECT n FROM nn) AS r FROM wid),
        ${pageRankIterSql("0", "1")},
        ${pageRankIterSql("1", "2")},
        ${pageRankIterSql("2", "3")}
        SELECT w AS word, CAST(r AS BIGINT) AS rank_micro
        FROM r3 JOIN wid USING (id)
        ORDER BY rank_micro DESC, word LIMIT 25""")),

    // Matryoshka truncation sweep: recall@10 of prefix-truncated
    // exact-cosine top-10 (dims 8/16/32) against the full 64-dim answer
    // for query vectors vec_id < 10 — "how small can the serving index's
    // vectors be before rerank recall degrades". Deterministic (cos
    // DESC, id) ranking on the quantized grid, value-pinned per dim.
    "q256_matryoshka_recall" -> Q(
      (s, dir) => Similarity.matryoshkaRecall(t(s, dir, "embeddings"),
        "vec_id", "embedding", col("vec_id") < 10, 10, Seq(8, 16, 32)),
      Some(matryoshkaOracleSql(10, Seq(8, 16, 32)))),

    // Binary (sign-bit) quantization recall@10: Hamming top-10 over
    // 32-bits-per-word signatures vs the exact-cosine top-10, per query —
    // the 1-bit serving-index sizing row next to q256's float-prefix
    // truncation. Signatures, Hamming sums and tie-breaks are exact
    // integers in both engines (see Similarity.binaryQuantRecall).
    "q259_binary_quant_recall" -> Q(
      (s, dir) => Similarity.binaryQuantRecall(t(s, dir, "embeddings"),
        "vec_id", "embedding", col("vec_id") < 10, 10, 64),
      Some("""WITH v AS (SELECT vec_id AS id, embedding AS e FROM embeddings),
        sig AS MATERIALIZED (SELECT id, list_transform(range(0, 2),
            w -> list_aggregate(list_transform(range(0, 32),
              i -> CASE WHEN CAST(e[w * 32 + i + 1] AS DOUBLE) > 0
                   THEN 1::BIGINT << i ELSE 0::BIGINT END), 'sum')) AS s
          FROM v),
        q AS (SELECT id AS query_id, e AS qv FROM v WHERE id < 10),
        c AS (SELECT id, e AS cv FROM v),
        exact AS MATERIALIZED (SELECT query_id, id FROM (
          SELECT q.query_id, c.id, row_number() OVER (PARTITION BY q.query_id
              ORDER BY list_aggregate(list_transform(range(1, len(qv) + 1),
                i -> round(CAST(qv[i] AS DOUBLE) * 1e7) * round(CAST(cv[i] AS DOUBLE) * 1e7)), 'sum')
              / SQRT(list_aggregate(list_transform(range(1, len(qv) + 1),
                  i -> round(CAST(qv[i] AS DOUBLE) * 1e7) * round(CAST(qv[i] AS DOUBLE) * 1e7)), 'sum')
                * list_aggregate(list_transform(range(1, len(cv) + 1),
                  i -> round(CAST(cv[i] AS DOUBLE) * 1e7) * round(CAST(cv[i] AS DOUBLE) * 1e7)), 'sum'))
              DESC, c.id) AS rn
          FROM q JOIN c ON q.query_id <> c.id) r WHERE rn <= 10),
        ham AS (SELECT qs.id AS query_id, cs.id AS id,
            list_aggregate(list_transform(range(1, 3),
              w -> bit_count(xor(qs.s[w], cs.s[w]))), 'sum') AS h
          FROM sig qs JOIN sig cs ON qs.id < 10 AND cs.id <> qs.id),
        btop AS (SELECT query_id, id FROM (SELECT query_id, id,
            row_number() OVER (PARTITION BY query_id ORDER BY h, id) AS rn
          FROM ham) r WHERE rn <= 10),
        ov AS (SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
          FROM btop b JOIN exact e ON b.query_id = e.query_id AND b.id = e.id
          GROUP BY 1)
        SELECT query_id, COALESCE(n_overlap, 0) AS n_overlap,
          (COALESCE(n_overlap, 0) * 1000000) // 10 AS recall_micro
        FROM (SELECT DISTINCT query_id FROM ham) qq LEFT JOIN ov USING (query_id)
        ORDER BY query_id""")),

    // Split-conformal interval for the Holt-Winters one-step forecast:
    // first half of the 28-day holdout calibrates qhat (90% target),
    // second half measures empirical coverage — distribution-free error
    // bars for q263's point forecasts.
    "q276_conformal_interval" -> Q(
      (s, dir) => Temporal.conformalInterval(t(s, dir, "events"),
        "ts", "value", 7, 28, alphaPct = 10),
      Some {
        val y = "COALESCE(o.s, 0)"
        val l2 = s"(($y - r.s1) + r.l + r.b) // 2"
        val b2 = s"($l2 - r.l + 3 * r.b) // 4"
        val snew = s"($y - $l2 + r.s1) // 2"
        s"""WITH RECURSIVE obs AS (SELECT CAST(ts AS DATE) AS d,
              CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS s
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
            GROUP BY 1),
          mm AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM obs),
          rec AS (
            SELECT o.d, o.s AS y, o.s AS l, CAST(0 AS BIGINT) AS b,
              CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2,
              CAST(0 AS BIGINT) AS s3, CAST(0 AS BIGINT) AS s4,
              CAST(0 AS BIGINT) AS s5, CAST(0 AS BIGINT) AS s6,
              CAST(0 AS BIGINT) AS s7
            FROM obs o, mm WHERE o.d = mm.lo
            UNION ALL
            SELECT r.d + 1, $y, $l2, $b2,
              r.s2, r.s3, r.s4, r.s5, r.s6, r.s7, $snew
            FROM rec r LEFT JOIN obs o ON o.d = r.d + 1, mm
            WHERE r.d < mm.hi),
          f AS (SELECT d, y, lag(l + b + s1) OVER (ORDER BY d) AS p
            FROM rec),
          bt AS (SELECT d, abs(y - p) AS ae,
              row_number() OVER (ORDER BY d) AS rn
            FROM f, mm WHERE p IS NOT NULL AND d > mm.hi - 28),
          nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bt),
          qh AS (SELECT ae AS qhat FROM (
              SELECT ae, row_number() OVER (ORDER BY ae, d) AS rk
              FROM bt WHERE rn <= (SELECT n FROM nn) // 2) c
            WHERE rk = least((SELECT n FROM nn) // 2,
              (((SELECT n FROM nn) // 2 + 1) * 90 + 99) // 100))
          SELECT (SELECT n FROM nn) // 2 AS n_cal,
            CAST(COUNT(*) AS BIGINT) AS n_eval,
            (SELECT qhat FROM qh) AS qhat_micro,
            CAST(COUNT(*) FILTER (WHERE ae <= (SELECT qhat FROM qh))
              AS BIGINT) AS n_covered,
            CAST((COUNT(*) FILTER (WHERE ae <= (SELECT qhat FROM qh))
              * 1000000) // COUNT(*) AS BIGINT) AS coverage_micro
          FROM bt WHERE rn > (SELECT n FROM nn) // 2"""
      }),

    // Seasonality-adjusted anomaly flags: z-scores on q268's residuals —
    // recurring weekday structure never pages, genuine deviations do.
    "q277_seasonal_anomalies" -> Q(
      (s, dir) => Temporal.seasonalAnomalies(t(s, dir, "events"),
        "ts", "value", 7),
      Some("""WITH obs AS (SELECT CAST(ts AS DATE) AS d,
            CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS s
          FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
          GROUP BY 1),
        mm AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM obs),
        grid AS (SELECT gs.d, COALESCE(o.s, 0) AS s,
            ((datediff('day', DATE '2024-01-01', gs.d) % 7) + 7) % 7 AS slot
          FROM (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
              AS DATE) AS d FROM mm) gs
          LEFT JOIN obs o ON o.d = gs.d),
        tr AS (SELECT d, s, slot,
            CASE WHEN COUNT(*) OVER w = 7
              THEN CAST(SUM(s) OVER w AS BIGINT) // 7 END AS trend_micro
          FROM grid
          WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        sr AS (SELECT slot,
            CAST(SUM(s - trend_micro) AS BIGINT) // COUNT(*) AS sea_raw
          FROM tr WHERE trend_micro IS NOT NULL GROUP BY 1),
        aj AS (SELECT CAST(SUM(sea_raw) AS BIGINT) // 7 AS sea_adj FROM sr),
        se AS (SELECT slot,
            sea_raw - (SELECT sea_adj FROM aj) AS seasonal_micro FROM sr),
        rres AS (SELECT d, s,
            s - trend_micro - seasonal_micro AS resid
          FROM tr LEFT JOIN se USING (slot)
          WHERE s - trend_micro - seasonal_micro IS NOT NULL),
        mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(resid AS HUGEINT)) AS s1,
            SUM(CAST(resid AS HUGEINT) * resid) AS q1 FROM rres),
        zc AS (SELECT d, s, resid,
            CASE WHEN SQRT((CAST(n AS DOUBLE) * CAST(q1 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) > 0
              THEN (CAST(resid AS DOUBLE)
                  - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                / SQRT((CAST(n AS DOUBLE) * CAST(q1 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
            END AS z
          FROM rres CROSS JOIN mo)
        SELECT d AS day, s AS actual_micro, resid AS residual_micro, z,
          COALESCE(abs(z) > 3.0, false) AS is_anomaly
        FROM zc ORDER BY day""")),

    // Kruskal-Wallis rank test across event types: the distribution-free
    // omnibus companion to q235's ANOVA — doubled midranks keep every
    // intermediate integral, the rank-square term is an exact floor
    // quotient per group, full tie correction.
    "q278_kruskal_wallis" -> Q(
      (s, dir) => Quality.kruskalWallis(t(s, dir, "events"),
        "event_type", "value"),
      Some("""WITH base AS (SELECT event_type AS g,
            CAST(round(value * 1e6) AS BIGINT) AS v
          FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        gridv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t
          FROM base GROUP BY 1),
        ranked AS (SELECT v,
            COALESCE(SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
              PRECEDING AND 1 PRECEDING), 0) * 2 + t + 1 AS r2
          FROM gridv),
        cells AS (SELECT v, g, CAST(COUNT(*) AS BIGINT) AS c
          FROM base GROUP BY 1, 2),
        pg AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ng,
            SUM(CAST(c AS HUGEINT) * r2) AS r2g
          FROM cells JOIN ranked USING (v) GROUP BY 1),
        qq AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
            SUM((r2g * r2g) // (4 * ng)) AS sq FROM pg),
        tt AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
            CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS BIGINT) AS tie_cubes
          FROM gridv)
        SELECT k, n, tie_cubes, CAST(sq AS BIGINT) AS sum_q,
          CASE WHEN k >= 2 AND n > k AND tie_cubes < n * n * n - n
            THEN (12.0 * CAST(sq AS DOUBLE)
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1))
                - 3.0 * (CAST(n AS DOUBLE) + 1))
              / (1.0 - CAST(tie_cubes AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                  - CAST(n AS DOUBLE)))
          END AS h
        FROM tt CROSS JOIN qq""")),

    // McNemar paired test: did the same customers flip activity between
    // 1995 and 1996? Within-subject 2x2 — only the discordant cells
    // carry signal; continuity-corrected chi-square.
    "q279_mcnemar" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val pairs = o
          .filter(col("o_custkey").isNotNull && col("o_orderdate").isNotNull)
          .groupBy("o_custkey").agg(
            (count(when(year(col("o_orderdate")) === 1995, lit(1))) > 0)
              .as("a95"),
            (count(when(year(col("o_orderdate")) === 1996, lit(1))) > 0)
              .as("b96"))
        Quality.mcnemar(pairs, "a95", "b96")
      },
      Some("""WITH pairs AS (SELECT o_custkey,
            COUNT(*) FILTER (WHERE year(o_orderdate) = 1995) > 0 AS a,
            COUNT(*) FILTER (WHERE year(o_orderdate) = 1996) > 0 AS b
          FROM orders
          WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
          GROUP BY 1),
        cells AS (SELECT
            CAST(COUNT(*) FILTER (WHERE a AND b) AS BIGINT) AS n11,
            CAST(COUNT(*) FILTER (WHERE a AND NOT b) AS BIGINT) AS n10,
            CAST(COUNT(*) FILTER (WHERE NOT a AND b) AS BIGINT) AS n01,
            CAST(COUNT(*) FILTER (WHERE NOT a AND NOT b) AS BIGINT) AS n00
          FROM pairs)
        SELECT n11, n10, n01, n00,
          CASE WHEN n10 + n01 > 0
            THEN CAST(greatest(abs(n10 - n01) - 1, 0) AS DOUBLE)
              * CAST(greatest(abs(n10 - n01) - 1, 0) AS DOUBLE)
              / CAST(n10 + n01 AS DOUBLE)
          END AS chi2_cc
        FROM cells""")),

    // Mantel-Haenszel pooled odds ratio, stratified by order year: does
    // high priority associate with high-value orders once the yearly mix
    // is held fixed — the Simpson's-paradox guard q103's chi-square
    // (pooled) cannot give.
    "q280_mantel_haenszel" -> Q(
      (s, dir) => Quality.mantelHaenszel(
        t(s, dir, "orders")
          .filter(col("o_orderdate").isNotNull &&
            col("o_orderpriority").isNotNull &&
            col("o_totalprice").isNotNull)
          .withColumn("yr", year(col("o_orderdate"))),
        "yr",
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        col("o_totalprice") > 250000.0),
      Some("""WITH base AS (SELECT year(o_orderdate) AS st,
            o_orderpriority IN ('1-URGENT', '2-HIGH') AS e,
            o_totalprice > 250000.0 AS o
          FROM orders
          WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
            AND o_totalprice IS NOT NULL),
        cells AS (SELECT st,
            CAST(COUNT(*) FILTER (WHERE e AND o) AS BIGINT) AS a,
            CAST(COUNT(*) FILTER (WHERE e AND NOT o) AS BIGINT) AS b,
            CAST(COUNT(*) FILTER (WHERE NOT e AND o) AS BIGINT) AS c,
            CAST(COUNT(*) FILTER (WHERE NOT e AND NOT o) AS BIGINT) AS d
          FROM base GROUP BY 1),
        terms AS (SELECT a, b, c, d, a + b + c + d AS nn FROM cells),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_strata,
            CAST(SUM(nn) AS BIGINT) AS n_total,
            CAST(SUM(a) AS BIGINT) AS sum_a,
            CAST(SUM(CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
              / CAST(nn AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT)
              AS sum_ad_micro,
            CAST(SUM(CAST(round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
              / CAST(nn AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT)
              AS sum_bc_micro,
            CAST(SUM(CAST(round(CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
              / CAST(nn AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT)
              AS sum_ea_micro,
            CAST(SUM(CASE WHEN nn > 1 THEN
              CAST(round(CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)
                / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                  * (CAST(nn AS DOUBLE) - 1)) * 1e6) AS BIGINT)
              ELSE 0 END) AS BIGINT) AS sum_var_micro
          FROM terms)
        SELECT k_strata, n_total, sum_a, sum_ad_micro, sum_bc_micro,
          sum_ea_micro, sum_var_micro,
          CASE WHEN sum_bc_micro > 0
            THEN CAST(sum_ad_micro AS DOUBLE) / CAST(sum_bc_micro AS DOUBLE)
          END AS or_mh,
          CASE WHEN sum_var_micro > 0
            THEN CAST(greatest(abs(sum_a * 1000000 - sum_ea_micro)
                - 500000, 0) AS DOUBLE)
              * CAST(greatest(abs(sum_a * 1000000 - sum_ea_micro)
                - 500000, 0) AS DOUBLE)
              / (1e6 * CAST(sum_var_micro AS DOUBLE))
          END AS chi2_mh
        FROM tot""")),

    // Granger-style lag-1 regression on the daily grid: does yesterday's
    // order VOLUME predict today's revenue beyond yesterday's revenue?
    // Closed-form two-predictor OLS from exact integer moments, with the
    // restricted-vs-unrestricted F.
    "q281_granger_lag" -> Q(
      (s, dir) => Temporal.grangerLag(t(s, dir, "orders"),
        "o_orderdate", "o_totalprice"),
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
            CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT)
              AS y,
            CAST(COUNT(*) AS BIGINT) AS x
          FROM orders
          WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
          GROUP BY 1),
        lagged AS (SELECT d, y, x,
            lag(d) OVER (ORDER BY d) AS pd,
            lag(y) OVER (ORDER BY d) AS u,
            lag(x) OVER (ORDER BY d) AS v
          FROM daily),
        p AS (SELECT y, u, v FROM lagged
          WHERE pd IS NOT NULL AND datediff('day', pd, d) = 1),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(y AS HUGEINT)) AS sy, SUM(CAST(u AS HUGEINT)) AS su,
            SUM(CAST(v AS HUGEINT)) AS sv,
            SUM(CAST(y AS HUGEINT) * y) AS syy,
            SUM(CAST(u AS HUGEINT) * u) AS suu,
            SUM(CAST(v AS HUGEINT) * v) AS svv,
            SUM(CAST(y AS HUGEINT) * u) AS syu,
            SUM(CAST(y AS HUGEINT) * v) AS syv,
            SUM(CAST(u AS HUGEINT) * v) AS suv
          FROM p),
        c AS (SELECT n,
            CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
              / CAST(n AS DOUBLE) AS cyy,
            CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)
              / CAST(n AS DOUBLE) AS cuu,
            CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
              / CAST(n AS DOUBLE) AS cvv,
            CAST(syu AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(su AS DOUBLE)
              / CAST(n AS DOUBLE) AS cyu,
            CAST(syv AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sv AS DOUBLE)
              / CAST(n AS DOUBLE) AS cyv,
            CAST(suv AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE)
              / CAST(n AS DOUBLE) AS cuv
          FROM m),
        sol AS (SELECT n, cyy, cuu, cyu, cyv,
            cuu * cvv - cuv * cuv AS det,
            (cvv * cyu - cuv * cyv) / (cuu * cvv - cuv * cuv) AS b1,
            (cuu * cyv - cuv * cyu) / (cuu * cvv - cuv * cuv) AS b2
          FROM c),
        fin AS (SELECT n, b1, b2, det, cuu,
            cyy - b1 * cyu - b2 * cyv AS rss_u,
            cyy - cyu * cyu / cuu AS rss_r
          FROM sol)
        SELECT n AS n_days,
          CASE WHEN n > 3 AND det <> 0 AND cuu > 0 AND rss_u > 0
            THEN b1 END AS b_y_lag,
          CASE WHEN n > 3 AND det <> 0 AND cuu > 0 AND rss_u > 0
            THEN b2 END AS b_x_lag,
          CASE WHEN n > 3 AND det <> 0 AND cuu > 0 AND rss_u > 0
            THEN (rss_r - rss_u) * (CAST(n AS DOUBLE) - 3) / rss_u
          END AS f_granger
        FROM fin""")),

    // Weight-of-evidence / information value of order priority against
    // the fulfilled flag — the per-bin direction-and-magnitude audit
    // q103's chi-square (one global number) cannot give.
    "q282_woe_iv" -> Q(
      (s, dir) => Quality.woeIv(t(s, dir, "orders"),
        "o_orderpriority", col("o_orderstatus") === "F"),
      Some("""WITH bins AS (SELECT o_orderpriority AS bin,
            CAST(COUNT(*) FILTER (WHERE y) AS BIGINT) AS n_pos,
            CAST(COUNT(*) FILTER (WHERE NOT y) AS BIGINT) AS n_neg
          FROM (SELECT o_orderpriority, o_orderstatus = 'F' AS y
            FROM orders) b
          WHERE bin IS NOT NULL AND y IS NOT NULL GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS tp,
            CAST(SUM(n_neg) AS BIGINT) AS tn FROM bins),
        wv AS (SELECT bin, n_pos, n_neg, tp, tn,
            CASE WHEN n_pos > 0 AND n_neg > 0 AND tp > 0 AND tn > 0
              THEN CAST(round(ln(CAST(n_pos AS DOUBLE)
                  * CAST(tn AS DOUBLE)) * 1e6) AS BIGINT)
                - CAST(round(ln(CAST(n_neg AS DOUBLE)
                  * CAST(tp AS DOUBLE)) * 1e6) AS BIGINT)
            END AS woe_micro
          FROM bins CROSS JOIN tot),
        wi AS (SELECT bin, n_pos, n_neg, woe_micro,
            CAST(round((CAST(n_pos AS DOUBLE) / CAST(tp AS DOUBLE)
              - CAST(n_neg AS DOUBLE) / CAST(tn AS DOUBLE))
              * CAST(woe_micro AS DOUBLE)) AS BIGINT) AS iv_micro
          FROM wv)
        SELECT bin, n_pos, n_neg, woe_micro, iv_micro,
          (SELECT CAST(COALESCE(SUM(iv_micro), 0) AS BIGINT) FROM wi)
            AS iv_total_micro
        FROM wi ORDER BY bin""")),

    // Smoothed target encoding of customers against order value: the
    // empirical-Bayes shrinkage feature (pseudo-count prior m=10 pulls
    // one-order customers toward the global mean), exact on the integer
    // micro grid end to end.
    "q283_target_encoding" -> Q(
      (s, dir) => Analytics.targetEncode(t(s, dir, "orders"),
        "o_custkey", "o_totalprice", 10L),
      Some("""WITH base AS (SELECT o_custkey AS category,
            CAST(round(o_totalprice * 1e6) AS BIGINT) AS x
          FROM orders
          WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL),
        pc AS (SELECT category, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(x) AS BIGINT) AS sum_micro FROM base GROUP BY 1),
        g AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
            SUM(CAST(sum_micro AS HUGEINT)) AS s FROM pc)
        SELECT category, n, sum_micro,
          CAST(s // nn AS BIGINT) AS global_mean_micro,
          CAST((CAST(sum_micro AS HUGEINT) + 10 * (s // nn)) // (n + 10)
            AS BIGINT) AS enc_micro
        FROM pc CROSS JOIN g ORDER BY category""")),

    // Count-min sketch of the token frequency distribution (4 x 1024
    // counters), probed at the top-20 true-frequency tokens — hash rows
    // use the cross-engine h60 family, so the oracle replays the sketch
    // EXACTLY: estimates are value-checked, and the one-sided
    // estimate >= truth contract is checked per probe.
    "q284_countmin_sketch" -> Q(
      (s, dir) => TextOps.countMinSketch(t(s, dir, "documents"),
        "text", depth = 4, width = 1024, topK = 20),
      Some(s"""WITH toks AS (SELECT unnest(string_split_regex(
              lower(trim(text)), '\\s+')) AS tok
            FROM documents WHERE text IS NOT NULL),
        vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks WHERE len(tok) > 0 GROUP BY 1),
        seeds AS (SELECT unnest(range(0, 4)) AS r),
        sk AS (SELECT r,
            ${graft.functions.Hashing.h60Sql(
              "CAST(r AS VARCHAR) || ':' || tok")} % 1024 AS b, c
          FROM vocab CROSS JOIN seeds),
        sketch AS (SELECT r, b, CAST(SUM(c) AS BIGINT) AS cell
          FROM sk GROUP BY 1, 2),
        probes AS (SELECT tok, c FROM vocab ORDER BY c DESC, tok LIMIT 20),
        pc AS (SELECT tok, c, r,
            ${graft.functions.Hashing.h60Sql(
              "CAST(r AS VARCHAR) || ':' || tok")} % 1024 AS b
          FROM probes CROSS JOIN seeds),
        est AS (SELECT tok, c, CAST(MIN(cell) AS BIGINT) AS est_count
          FROM pc JOIN sketch USING (r, b) GROUP BY 1, 2)
        SELECT tok AS token, c AS true_count, est_count,
          est_count >= c AS never_under
        FROM est ORDER BY true_count DESC, token"""),
    ),

    // Feature hashing (the hashing trick) of the document token space
    // into 64 buckets with h60-derived signs — the per-bucket collision
    // audit of the unbounded-vocabulary featurizer, exactly replayed by
    // the oracle.
    "q285_feature_hashing" -> Q(
      (s, dir) => TextOps.featureHash(t(s, dir, "documents"),
        "text", buckets = 64),
      Some(s"""WITH toks AS (SELECT unnest(string_split_regex(
              lower(trim(text)), '\\s+')) AS tok
            FROM documents WHERE text IS NOT NULL),
        vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks WHERE len(tok) > 0 GROUP BY 1),
        fh AS (SELECT
            ${graft.functions.Hashing.h60Sql("tok", 101)} % 64 AS bucket,
            (${graft.functions.Hashing.h60Sql("tok", 102)} % 2) * 2 - 1
              AS sign, c
          FROM vocab)
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(SUM(c) AS BIGINT) AS total_count,
          CAST(SUM(sign * c) AS BIGINT) AS signed_sum
        FROM fh GROUP BY 1 ORDER BY 1"""),
    ),

    // Approximate-quantile sketch contract: Spark's percentile_approx
    // (the only quantile a 100 TB column gets) rank-checked against
    // exact ranks off the distinct-value grid — the oracle checks the
    // contract booleans (q31's bound-check convention; the sketch
    // output itself is engine-specific).
    "q286_quantile_sketch" -> Q(
      (s, dir) => Quality.approxQuantileContract(t(s, dir, "orders"),
        "o_totalprice", Seq(0.25, 0.5, 0.75, 0.95), accuracy = 1000),
      Some("""WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
            FROM orders WHERE o_totalprice IS NOT NULL)
        SELECT CAST(q_micro AS BIGINT) AS q_micro, n,
          true AS within_bound
        FROM (VALUES (250000), (500000), (750000), (950000)) v(q_micro)
        CROSS JOIN nn ORDER BY q_micro""")),

    // Cochran-Armitage trend: does the high-value-order rate change
    // MONOTONICALLY across the ordered priority tiers (1-URGENT .. 5-LOW)?
    // — the ordered alternative q103's chi-square can't target; exact
    // integer sums, one pinned z.
    "q287_cochran_armitage" -> Q(
      (s, dir) => Quality.cochranArmitage(
        t(s, dir, "orders")
          .filter(col("o_orderpriority").isNotNull)
          .withColumn("tier",
            substring(col("o_orderpriority"), 1, 1).cast("long")),
        "tier", col("o_totalprice") > 250000.0),
      Some("""WITH base AS (SELECT
            CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS s,
            o_totalprice > 250000.0 AS y
          FROM orders
          WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
        cells AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_i,
            CAST(COUNT(*) FILTER (WHERE y) AS BIGINT) AS r_i
          FROM base GROUP BY 1),
        agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
            CAST(SUM(n_i) AS BIGINT) AS n,
            CAST(SUM(r_i) AS BIGINT) AS r,
            CAST(SUM(s * r_i) AS BIGINT) AS sum_sr,
            CAST(SUM(s * n_i) AS BIGINT) AS sum_sn,
            CAST(SUM(s * s * n_i) AS BIGINT) AS sum_s2n
          FROM cells)
        SELECT k, n, r, sum_sr, sum_sn, sum_s2n,
          CASE WHEN r > 0 AND r < n
              AND CAST(CAST(n AS HUGEINT) * sum_s2n
                - CAST(sum_sn AS HUGEINT) * sum_sn AS DOUBLE) > 0
            THEN CAST(CAST(n AS HUGEINT) * sum_sr
                - CAST(r AS HUGEINT) * sum_sn AS DOUBLE)
              * SQRT(CAST(n AS DOUBLE))
              / SQRT(CAST(CAST(r AS HUGEINT) * (n - r) AS DOUBLE)
                * CAST(CAST(n AS HUGEINT) * sum_s2n
                  - CAST(sum_sn AS HUGEINT) * sum_sn AS DOUBLE))
          END AS z
        FROM agg""")),

    // Huber robust location of order value by integer IRLS from the
    // exact lower median — the outlier-resistant center the mean can't
    // give and the median over-pays efficiency for; every iterate is an
    // exact integer quotient, bit-replayed by the oracle.
    "q288_huber_location" -> Q(
      (s, dir) => Quality.huberLocation(t(s, dir, "orders"),
        "o_totalprice", kMicro = 100000000000L, iters = 3),
      Some {
        def iter(j: Int, prev: String): String =
          s"""i$j AS (SELECT CAST(SUM(w * CAST(x AS HUGEINT) * cnt)
              // SUM(w * CAST(cnt AS HUGEINT)) AS BIGINT) AS mu_$j
            FROM (SELECT x, cnt,
                CASE WHEN abs(x - $prev) <= 100000000000
                  THEN 1000000
                  ELSE (100000000000 * 1000000) // abs(x - $prev) END AS w
              FROM grid, i${j - 1}))"""
        s"""WITH grid AS (SELECT CAST(round(o_totalprice * 1e6) AS BIGINT)
              AS x, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
          nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM grid),
          i0 AS (SELECT MIN(x) AS mu_0
            FROM (SELECT x, SUM(cnt) OVER (ORDER BY x) AS cum FROM grid),
              nn WHERE cum >= (n + 1) // 2),
          ${iter(1, "mu_0")},
          ${iter(2, "mu_1")},
          ${iter(3, "mu_2")}
          SELECT n, mu_0, mu_1, mu_2, mu_3
          FROM nn, i0, i1, i2, i3"""
      }),

    // MASE forecast evaluation: the Holt-Winters backtest scored
    // against the seasonal-naive baseline (same day last week) — the
    // scale-free "is the smoother worth deploying?" number q263's
    // per-day errors don't aggregate to.
    "q289_forecast_mase" -> Q(
      (s, dir) => Temporal.forecastMase(t(s, dir, "events"),
        "ts", "value", 7, 28),
      Some {
        val y = "COALESCE(o.s, 0)"
        val l2 = s"(($y - r.s1) + r.l + r.b) // 2"
        val b2 = s"($l2 - r.l + 3 * r.b) // 4"
        val snew = s"($y - $l2 + r.s1) // 2"
        s"""WITH RECURSIVE obs AS (SELECT CAST(ts AS DATE) AS d,
              CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS s
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
            GROUP BY 1),
          mm AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM obs),
          rec AS (
            SELECT o.d, o.s AS y, o.s AS l, CAST(0 AS BIGINT) AS b,
              CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2,
              CAST(0 AS BIGINT) AS s3, CAST(0 AS BIGINT) AS s4,
              CAST(0 AS BIGINT) AS s5, CAST(0 AS BIGINT) AS s6,
              CAST(0 AS BIGINT) AS s7
            FROM obs o, mm WHERE o.d = mm.lo
            UNION ALL
            SELECT r.d + 1, $y, $l2, $b2,
              r.s2, r.s3, r.s4, r.s5, r.s6, r.s7, $snew
            FROM rec r LEFT JOIN obs o ON o.d = r.d + 1, mm
            WHERE r.d < mm.hi),
          f AS (SELECT d, y,
              lag(l + b + s1) OVER (ORDER BY d) AS p,
              lag(y, 7) OVER (ORDER BY d) AS nv
            FROM rec)
          SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
            CAST(SUM(abs(y - p)) AS BIGINT) AS sum_err_model_micro,
            CAST(SUM(abs(y - nv)) AS BIGINT) AS sum_err_naive_micro,
            CASE WHEN SUM(abs(y - nv)) > 0
              THEN CAST((CAST(SUM(abs(y - p)) AS HUGEINT) * 1000000)
                // SUM(abs(y - nv)) AS BIGINT)
            END AS mase_micro
          FROM f, mm
          WHERE p IS NOT NULL AND nv IS NOT NULL AND d > mm.hi - 28"""
      }),

    // Count-min merge law audited end-to-end: even/odd document halves
    // sketched independently, merged cell-wise, compared EXACTLY against
    // the whole-corpus sketch — the linearity audit that licenses
    // per-batch sketches in an incremental pipeline.
    "q290_cms_merge" -> Q(
      (s, dir) => TextOps.cmsMergeCheck(t(s, dir, "documents"),
        "doc_id", "text", depth = 4, width = 256),
      Some {
        def cellsCte(name: String, filt: String): String =
          s"""${name}_v AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT doc_id, unnest(string_split_regex(
                lower(trim(text)), '\\s+')) AS tok
              FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL)
            WHERE len(tok) > 0 $filt GROUP BY 1),
          $name AS (SELECT r,
              ${graft.functions.Hashing.h60Sql(
                "CAST(r AS VARCHAR) || ':' || tok")} % 256 AS b,
              CAST(SUM(c) AS BIGINT) AS cell
            FROM ${name}_v CROSS JOIN seeds GROUP BY 1, 2)"""
        s"""WITH seeds AS (SELECT unnest(range(0, 4)) AS r),
          ${cellsCte("whole", "")},
          ${cellsCte("even", "AND doc_id % 2 = 0")},
          ${cellsCte("odd", "AND doc_id % 2 = 1")},
          merged AS (SELECT r, b, CAST(SUM(cell) AS BIGINT) AS cell
            FROM (SELECT * FROM even UNION ALL SELECT * FROM odd)
            GROUP BY 1, 2),
          j AS (SELECT w.cell AS wc, m.cell AS mc
            FROM whole w FULL OUTER JOIN merged m USING (r, b))
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
          CAST(COALESCE(SUM(wc), 0) AS BIGINT) AS total_mass,
          CAST(SUM(CASE WHEN COALESCE(wc, -1) <> COALESCE(mc, -2)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
          SUM(CASE WHEN COALESCE(wc, -1) <> COALESCE(mc, -2)
            THEN 1 ELSE 0 END) = 0 AS merge_exact
        FROM j"""
      }),

    // Hop-bounded weighted shortest paths on the basket graph from its
    // minimum-id part (Bellman-Ford, 4 relaxation rounds, exact integer
    // micro distances, edge cost 10^6 div support) — the bounded-horizon
    // SSSP feature; oracle unrolls the same rounds with MATERIALIZED
    // levels (the q226 hygiene rule).
    "q291_sssp_bounded" -> Q(
      (s, dir) => {
        val items = t(s, dir, "lineitem")
          .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
          .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
          .distinct()
        val pairs = items.as("a").join(items.as("b"),
            col("a.bk") === col("b.bk") && col("a.it") < col("b.it"))
          .groupBy(col("a.it").as("pa"), col("b.it").as("pb"))
          .agg(count(lit(1)).as("sup")).filter(col("sup") >= 2)
          .withColumn("w", expr("1000000L div sup"))
        Graphs.ssspBounded(pairs, "pa", "pb", "w", rounds = 4)
      },
      Some {
        def level(j: Int): String =
          s"""d$j AS MATERIALIZED (SELECT node, CAST(MIN(dist) AS BIGINT)
              AS dist
            FROM (SELECT node, dist FROM d${j - 1}
              UNION ALL
              SELECT e.v, d${j - 1}.dist + e.w
              FROM d${j - 1} JOIN e ON e.u = d${j - 1}.node)
            GROUP BY 1)"""
        s"""WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
            FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
          pairs AS MATERIALIZED (SELECT a.it AS pa, b.it AS pb,
              CAST(1000000 // COUNT(*) AS BIGINT) AS w
            FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
          e AS MATERIALIZED (SELECT pa AS u, pb AS v, w FROM pairs
            UNION ALL SELECT pb, pa, w FROM pairs),
          d0 AS MATERIALIZED (SELECT MIN(u) AS node,
            CAST(0 AS BIGINT) AS dist FROM e),
          ${level(1)},
          ${level(2)},
          ${level(3)},
          ${level(4)}
          SELECT node, dist AS dist_micro FROM d4 ORDER BY node"""
      }),

    // MAD robust outlier audit on event values: median absolute
    // deviation with the 3·1.4826 fence — the robust yardstick q10's
    // sigma-based z cannot give (sigma is dragged by the outliers it
    // hunts); everything exact integer micro.
    "q292_mad_outliers" -> Q(
      (s, dir) => Quality.madOutliers(t(s, dir, "events"), "value"),
      Some("""WITH grid AS (SELECT CAST(round(value * 1e6) AS BIGINT) AS x,
            CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events WHERE value IS NOT NULL GROUP BY 1),
        nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM grid),
        med AS (SELECT MIN(x) AS median_micro
          FROM (SELECT x, SUM(cnt) OVER (ORDER BY x) AS cum FROM grid) c,
            nn WHERE cum >= (n + 1) // 2),
        dev AS (SELECT abs(x - median_micro) AS dx,
            CAST(SUM(cnt) AS BIGINT) AS cnt
          FROM grid, med GROUP BY 1),
        mad AS (SELECT MIN(dx) AS mad_micro,
            (3 * 14826 * MIN(dx)) // 10000 AS threshold_micro
          FROM (SELECT dx, SUM(cnt) OVER (ORDER BY dx) AS cum FROM dev) c,
            nn WHERE cum >= (n + 1) // 2),
        outs AS (SELECT CAST(COALESCE(SUM(CASE
              WHEN abs(x - median_micro) > threshold_micro
              THEN cnt ELSE 0 END), 0) AS BIGINT) AS n_outliers
          FROM grid, med, mad)
        SELECT n, median_micro, mad_micro, threshold_micro, n_outliers
        FROM nn, med, mad, outs""")),

    // Durbin-Watson on the daily-revenue trend residuals: did q132's
    // linear fit leave serial structure behind? Closed-form OLS from
    // exact moments, residuals micro-rounded ONCE, DW from exact sums.
    "q293_durbin_watson" -> Q(
      (s, dir) => Temporal.durbinWatson(t(s, dir, "orders"),
        "o_orderdate", "o_totalprice"),
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
            CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT)
              AS y
          FROM orders
          WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
          GROUP BY 1),
        lo AS (SELECT MIN(d) AS lo FROM daily),
        wx AS (SELECT d, y,
            CAST(datediff('day', (SELECT lo FROM lo), d) AS BIGINT) AS x
          FROM daily),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
            SUM(CAST(x AS HUGEINT) * x) AS sxx,
            SUM(CAST(x AS HUGEINT) * y) AS sxy
          FROM wx),
        fit AS (SELECT n,
            CASE WHEN n >= 3 AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
              THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            END AS b,
            CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
          FROM m),
        fit2 AS (SELECT n, b,
            CASE WHEN b IS NOT NULL
              THEN (syd - b * sxd) / CAST(n AS DOUBLE) END AS a
          FROM fit),
        resid AS (SELECT d,
            CAST(round(CAST(y AS DOUBLE)
              - (a + b * CAST(x AS DOUBLE))) AS BIGINT) AS e
          FROM wx, fit2),
        lagged AS (SELECT e, lag(e) OVER (ORDER BY d) AS ep FROM resid),
        agg AS (SELECT
            CAST(COALESCE(SUM(abs(e)), 0) AS BIGINT)
              AS sum_abs_resid_micro,
            SUM(CAST(e AS HUGEINT) * e) AS den,
            SUM(CASE WHEN ep IS NOT NULL
              THEN CAST(e - ep AS HUGEINT) * (e - ep) END) AS num
          FROM lagged)
        SELECT (SELECT n FROM m) AS n_days, sum_abs_resid_micro,
          CASE WHEN den IS NOT NULL AND CAST(den AS DOUBLE) > 0
            THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS dw
        FROM agg""")),

    // Brown-Forsythe (median-centered Levene) variance homogeneity across
    // return-flag groups — the precondition audit for q235's ANOVA F.
    // Per-group lower medians off the distinct-value grid, exact integer
    // deviation moments, micro-rounded per-group SS contributions.
    "q294_levene_bf" -> Q(
      (s, dir) => Quality.leveneBrownForsythe(t(s, dir, "lineitem"),
        "l_returnflag", "l_extendedprice"),
      Some("""WITH grid AS (SELECT l_returnflag AS g,
            CAST(round(l_extendedprice * 1e6) AS BIGINT) AS x,
            CAST(COUNT(*) AS BIGINT) AS cnt
          FROM lineitem
          WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
          GROUP BY 1, 2),
        ng AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS ng FROM grid GROUP BY 1),
        med AS (SELECT g, MIN(x) AS med FROM
            (SELECT g, x, SUM(cnt) OVER (PARTITION BY g ORDER BY x) AS cum
             FROM grid) c
          JOIN ng USING (g) WHERE cum >= (ng + 1) // 2 GROUP BY g),
        zm AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS ng,
            SUM(CAST(cnt AS HUGEINT) * abs(x - med)) AS sz,
            SUM(CAST(cnt AS HUGEINT) * abs(x - med) * abs(x - med)) AS qz
          FROM grid JOIN med USING (g) GROUP BY 1),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
            CAST(SUM(ng) AS BIGINT) AS n, SUM(sz) AS szall FROM zm),
        terms AS (SELECT
            CAST(SUM(CAST(round(CAST(ng AS DOUBLE) *
              (CAST(sz AS DOUBLE) / CAST(ng AS DOUBLE) / 1e6
                - CAST(szall AS DOUBLE) / CAST(n AS DOUBLE) / 1e6) *
              (CAST(sz AS DOUBLE) / CAST(ng AS DOUBLE) / 1e6
                - CAST(szall AS DOUBLE) / CAST(n AS DOUBLE) / 1e6))
              AS BIGINT)) AS BIGINT) AS between_sum,
            CAST(SUM(CAST(round((CAST(ng AS DOUBLE) * CAST(qz AS DOUBLE)
                - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))
              / CAST(ng AS DOUBLE) / 1e12) AS BIGINT)) AS BIGINT)
              AS within_sum
          FROM zm, tot)
        SELECT n, k, between_sum, within_sum,
          CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2,
          CASE WHEN k >= 2 AND n > k AND within_sum > 0
            THEN CAST(n - k AS DOUBLE) / CAST(k - 1 AS DOUBLE)
              * CAST(between_sum AS DOUBLE)
              / CAST(within_sum AS DOUBLE) END AS w_stat
        FROM tot, terms""")),

    // Ljung-Box whiteness test over q168's hourly-count ACF: per-lag
    // r²/(n−k) terms pico-rounded and summed as BIGINT, Wilson-Hilferty
    // chi²_m p through the A&S tail polynomial on the micro grid.
    "q295_ljung_box" -> Q(
      (s, dir) => Temporal.ljungBox(t(s, dir, "events"), "ts", 24),
      Some("""WITH obs AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                COUNT(*) AS c
              FROM events WHERE ts IS NOT NULL GROUP BY 1),
        bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM obs),
        grid AS (SELECT g.h, COALESCE(o.c, 0) AS x
          FROM (SELECT unnest(generate_series((SELECT lo FROM bounds),
                  (SELECT hi FROM bounds), INTERVAL 1 HOUR)) AS h) g
          LEFT JOIN obs o ON o.h = g.h),
        tot AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM grid),
        cen AS (SELECT h, (SELECT n FROM tot) * x - (SELECT s FROM tot) AS cx
                FROM grid),
        den AS (SELECT SUM(cx * cx) AS den FROM cen),
        pairs AS (SELECT k.lag, SUM(a.cx * b.cx) AS num, COUNT(*) AS n_pairs
          FROM (SELECT unnest(range(1, 25)) AS lag) k
          CROSS JOIN cen a
          JOIN cen b ON b.h = a.h + k.lag * INTERVAL 1 HOUR
          GROUP BY 1),
        r AS (SELECT lag, n_pairs,
            CASE WHEN (SELECT den FROM den) <> 0 THEN
              CAST(num AS DOUBLE) / CAST((SELECT den FROM den) AS DOUBLE)
            END AS acf
          FROM pairs),
        agg AS (SELECT CAST(MAX(n_pairs + lag) AS BIGINT) AS n,
            CAST(COUNT(*) AS BIGINT) AS m,
            CAST(SUM(CASE WHEN acf IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS nulls,
            CAST(SUM(CAST(round(acf * acf / CAST(n_pairs AS DOUBLE) * 1e12)
              AS BIGINT)) AS BIGINT) AS qsum
          FROM r),
        stat AS (SELECT n, m, nulls, qsum,
            CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
              * CAST(qsum AS DOUBLE) / 1e12 AS q
          FROM agg),
        zc AS (SELECT n, m, nulls, qsum, q,
            (cbrt(q / CAST(m AS DOUBLE))
              - (1.0 - 2.0 / (9.0 * CAST(m AS DOUBLE))))
              / sqrt(2.0 / (9.0 * CAST(m AS DOUBLE))) AS z
          FROM stat),
        pc AS (SELECT n, m, nulls, qsum, q, z,
            0.3989422804014327 * EXP(-0.5 * abs(z) * abs(z))
              * (((((1.330274429 * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + -1.821255978) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + 1.781477937) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + -0.356563782) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + 0.319381530) * (1.0 / (1.0 + 0.2316419 * abs(z))))
              AS tail
          FROM zc)
        SELECT n, m,
          CASE WHEN nulls = 0 AND n > m THEN qsum END AS q_term_sum_pico,
          CASE WHEN nulls = 0 AND n > m THEN q END AS lb_q,
          CASE WHEN nulls = 0 AND n > m THEN CAST(round(
            (CASE WHEN z >= 0 THEN tail ELSE 1.0 - tail END) * 1e6)
            AS BIGINT) END AS p_micro
        FROM pc""")),

    // Jarque-Bera normality per event type from the q272 exact-DECIMAL
    // raw moments; chi²₂ survival p = exp(−JB/2) in closed form.
    "q296_jarque_bera" -> Q(
      (s, dir) => Quality.jarqueBera(t(s, dir, "events"),
        "event_type", "value"),
      Some("""WITH base AS (SELECT event_type AS g,
            CAST(round(value * 1e3) AS BIGINT) AS v
          FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        grid AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(v AS HUGEINT)) AS s1,
            SUM(CAST(v AS HUGEINT) * v) AS s2,
            SUM(CAST(v AS HUGEINT) * v * v) AS s3,
            SUM(CAST(v AS HUGEINT) * v * v * v) AS s4
          FROM base GROUP BY 1),
        m AS (SELECT g, n,
            (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e6 AS m2,
            (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s3 AS DOUBLE)
              - 3.0 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
              + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
              / 1e9 AS m3,
            (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                * CAST(s4 AS DOUBLE)
              - 4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                * CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE)
              + 6.0 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)
                * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
              - 3.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                 * CAST(n AS DOUBLE)) / 1e12 AS m4
          FROM grid),
        jbx AS (SELECT g, n, m2,
            m3 / SQRT(m2 * m2 * m2) AS sk,
            m4 / (m2 * m2) - 3.0 AS ex
          FROM m),
        fin AS (SELECT g, n, m2, sk, ex,
            CAST(n AS DOUBLE) * (sk * sk / 6.0 + ex * ex / 24.0) AS jb
          FROM jbx)
        SELECT g AS "group", n,
          CASE WHEN m2 > 0 THEN sk END AS skewness,
          CASE WHEN m2 > 0 THEN ex END AS kurtosis_excess,
          CASE WHEN m2 > 0 THEN jb END AS jb,
          CASE WHEN m2 > 0 THEN
            CAST(round(EXP(-0.5 * jb) * 1e6) AS BIGINT) END AS p_micro
        FROM fin ORDER BY "group"""")),

    // Murphy decomposition of the q166 stopword-calibration Brier score:
    // reliability − resolution + uncertainty + within-bin variance, the
    // identity emitted as a column. Per-bin terms micro-rounded.
    "q297_brier_decomposition" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val f = TextOps.qualityFeatures(docs, "doc_id", "text")
          .select(col("doc_id"),
            least(lit(1000000L), col("stopword_ratio_micro") * 4).as("p"))
        val j = docs.select(col("doc_id"), col("lang")).join(f, "doc_id")
        Quality.brierDecomposition(j, col("lang") === "en", col("p"), 10)
      },
      Some(s"""WITH ${qualityMicroSql("doc_id")},
        j AS (SELECT d.lang = 'en' AS y,
                least(1000000, q.stopword_ratio_micro * 4) AS p
              FROM __qm q JOIN documents d USING (doc_id)
              WHERE q.stopword_ratio_micro IS NOT NULL AND d.lang IS NOT NULL),
        b AS (SELECT least(9, (p * 10) // 1000000) AS bin,
                CASE WHEN y THEN 1 ELSE 0 END AS yi, p FROM j),
        bins AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(yi) AS BIGINT) AS k, CAST(SUM(p) AS BIGINT) AS sp,
            CAST(SUM((p - yi * 1000000) * (p - yi * 1000000)) AS BIGINT) AS bn
          FROM b GROUP BY 1),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
            CAST(SUM(k) AS BIGINT) AS k_pos,
            CAST(SUM(bn) AS BIGINT) AS brier_num FROM bins),
        terms AS (SELECT
            CAST(SUM(CAST(round(CAST(n AS DOUBLE) *
              (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) / 1e6
                - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) *
              (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) / 1e6
                - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6) AS BIGINT))
              AS BIGINT) AS rel_sum,
            CAST(SUM(CAST(round(CAST(n AS DOUBLE) *
              (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                - CAST(k_pos AS DOUBLE) / CAST(n_tot AS DOUBLE)) *
              (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                - CAST(k_pos AS DOUBLE) / CAST(n_tot AS DOUBLE)) * 1e6)
              AS BIGINT)) AS BIGINT) AS res_sum
          FROM bins, tot)
        SELECT n_tot AS n, k_pos,
          CAST(brier_num AS DOUBLE) / CAST(n_tot AS DOUBLE) / 1e12 AS brier,
          CAST(rel_sum AS DOUBLE) / CAST(n_tot AS DOUBLE) / 1e6
            AS reliability,
          CAST(res_sum AS DOUBLE) / CAST(n_tot AS DOUBLE) / 1e6
            AS resolution,
          CAST(k_pos AS DOUBLE) / CAST(n_tot AS DOUBLE)
            * (1.0 - CAST(k_pos AS DOUBLE) / CAST(n_tot AS DOUBLE))
            AS uncertainty,
          CAST(brier_num AS DOUBLE) / CAST(n_tot AS DOUBLE) / 1e12
            - (CAST(rel_sum AS DOUBLE) / CAST(n_tot AS DOUBLE) / 1e6
              - CAST(res_sum AS DOUBLE) / CAST(n_tot AS DOUBLE) / 1e6
              + CAST(k_pos AS DOUBLE) / CAST(n_tot AS DOUBLE)
                * (1.0 - CAST(k_pos AS DOUBLE) / CAST(n_tot AS DOUBLE)))
            AS within_var
        FROM tot, terms""")),

    // Cohen's d / Hedges' g / Glass's Δ for every event-type pair — the
    // magnitude companion to q134's Welch t, from the same exact micro
    // moments; broadcast self-join over the |groups|-row aggregate.
    "q298_effect_sizes" -> Q(
      (s, dir) => Quality.effectSizes(t(s, dir, "events"),
        "event_type", "value"),
      Some("""WITH base AS (SELECT event_type AS g,
            CAST(round(value * 1e6) AS BIGINT) AS v
          FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(v AS HUGEINT)) AS s,
            SUM(CAST(v AS HUGEINT) * v) AS q
          FROM base GROUP BY 1),
        pairs AS (SELECT a.g AS group_a, b.g AS group_b,
            a.n AS na, b.n AS nb,
            CAST(a.s AS DOUBLE) AS sa, CAST(b.s AS DOUBLE) AS sb,
            CAST(a.q AS DOUBLE) AS qa, CAST(b.q AS DOUBLE) AS qb
          FROM agg a JOIN agg b ON a.g < b.g),
        d1 AS (SELECT group_a, group_b, na, nb,
            sa / CAST(na AS DOUBLE) / 1e6 AS ma,
            sb / CAST(nb AS DOUBLE) / 1e6 AS mb,
            (CAST(na AS DOUBLE) * qa - sa * sa)
              / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0)) / 1e12
              AS va,
            (CAST(nb AS DOUBLE) * qb - sb * sb)
              / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)) / 1e12
              AS vb
          FROM pairs),
        d2 AS (SELECT group_a, group_b, na, nb, ma, mb, va,
            ((CAST(na AS DOUBLE) - 1.0) * va + (CAST(nb AS DOUBLE) - 1.0) * vb)
              / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0) AS pooled
          FROM d1)
        SELECT group_a, group_b, na AS n_a, nb AS n_b,
          ma AS mean_a, mb AS mean_b,
          CASE WHEN na >= 2 AND nb >= 2 AND pooled > 0
            THEN (ma - mb) / sqrt(pooled) END AS cohens_d,
          CASE WHEN na >= 2 AND nb >= 2 AND pooled > 0
            THEN (1.0 - 3.0 / (4.0 * (CAST(na AS DOUBLE)
                + CAST(nb AS DOUBLE)) - 9.0))
              * ((ma - mb) / sqrt(pooled)) END AS hedges_g,
          CASE WHEN na >= 2 AND nb >= 2 AND va > 0
            THEN (ma - mb) / sqrt(va) END AS glass_delta
        FROM d2 ORDER BY group_a, group_b""")),

    // Single ℓ₂ changepoint on the daily-revenue calendar grid: exact
    // DECIMAL prefix sums, pinned-IEEE two-segment SSE per candidate,
    // argmin with earlier-day tie-break, variance-reduction ratio.
    "q299_changepoint" -> Q(
      (s, dir) => Temporal.changepointSse(t(s, dir, "orders"),
        "o_orderdate", "o_totalprice"),
      Some("""WITH obs AS (SELECT CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) AS d,
            CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT) AS s
          FROM orders
          WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
          GROUP BY 1),
        bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM obs),
        grid AS (SELECT CAST(g.h AS DATE) AS d, COALESCE(o.s, 0) AS s
          FROM (SELECT unnest(generate_series(CAST((SELECT lo FROM bounds) AS TIMESTAMP),
                  CAST((SELECT hi FROM bounds) AS TIMESTAMP), INTERVAL 1 DAY)) AS h) g
          LEFT JOIN obs o ON o.d = CAST(g.h AS DATE)),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(s AS HUGEINT)) AS stot,
            SUM(CAST(s AS HUGEINT) * s) AS qtot FROM grid),
        pre AS (SELECT d, row_number() OVER (ORDER BY d) AS t,
            SUM(CAST(s AS HUGEINT)) OVER (ORDER BY d) AS st,
            SUM(CAST(s AS HUGEINT) * s) OVER (ORDER BY d) AS qt
          FROM grid),
        cand AS (SELECT d, t, st, qt FROM pre, tot WHERE t < n),
        scored AS (SELECT d, t, st, qt,
            (CAST(qt AS DOUBLE)
              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(t AS DOUBLE)
              + (CAST((SELECT qtot FROM tot) AS DOUBLE) - CAST(qt AS DOUBLE)
                - (CAST((SELECT stot FROM tot) AS DOUBLE) - CAST(st AS DOUBLE))
                  * (CAST((SELECT stot FROM tot) AS DOUBLE)
                    - CAST(st AS DOUBLE))
                  / CAST((SELECT n FROM tot) - t AS DOUBLE))) / 1e12
              AS sse_split
          FROM cand),
        best AS (SELECT * FROM scored ORDER BY sse_split, d LIMIT 1),
        fin AS (SELECT (SELECT n FROM tot) AS n_days, d AS best_day,
            CAST(t AS BIGINT) AS n_left,
            CAST((SELECT n FROM tot) - t AS BIGINT) AS n_right,
            CAST(st // t AS BIGINT) AS mean_left_micro,
            CAST(((SELECT stot FROM tot) - st)
              // ((SELECT n FROM tot) - t) AS BIGINT) AS mean_right_micro,
            (CAST((SELECT qtot FROM tot) AS DOUBLE)
              - CAST((SELECT stot FROM tot) AS DOUBLE)
                * CAST((SELECT stot FROM tot) AS DOUBLE)
                / CAST((SELECT n FROM tot) AS DOUBLE)) / 1e12 AS sse_total,
            sse_split
          FROM best)
        SELECT n_days, best_day, n_left, n_right, mean_left_micro,
          mean_right_micro, sse_total, sse_split,
          CASE WHEN sse_total > 0 THEN 1.0 - sse_split / sse_total END
            AS var_reduction
        FROM fin""")),

    // Link-prediction baselines (common neighbors / Jaccard /
    // preferential attachment) on the q270 co-purchase graph — one
    // wedge relation, one degree table, all-integer scores.
    "q300_link_prediction" -> Q(
      (s, dir) => {
        val items = t(s, dir, "lineitem")
          .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
          .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
          .distinct()
        val pairs = items.as("a").join(items.as("b"),
            col("a.bk") === col("b.bk") && col("a.it") < col("b.it"))
          .groupBy(col("a.it").as("pa"), col("b.it").as("pb"))
          .agg(count(lit(1)).as("sup")).filter(col("sup") >= 2)
        Graphs.linkPredictionSuite(pairs, "pa", "pb", 50, exact = true)
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
            FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
          prs AS (SELECT a.it AS id_a, b.it AS id_b
            FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
          edges AS (SELECT id_a AS src, id_b AS dst FROM prs
            UNION SELECT id_b, id_a FROM prs),
          deg AS (SELECT src AS z, CAST(COUNT(*) AS BIGINT) AS dz
            FROM edges GROUP BY 1),
          wed AS (SELECT x.dst AS u, y.dst AS v
            FROM edges x JOIN edges y ON x.src = y.src AND x.dst < y.dst),
          cand AS (SELECT w.u, w.v, CAST(COUNT(*) AS BIGINT) AS cn
            FROM wed w
            WHERE NOT EXISTS (SELECT 1 FROM prs p
              WHERE p.id_a = w.u AND p.id_b = w.v)
            GROUP BY 1, 2),
          scored AS (SELECT c.u, c.v, c.cn,
              da.dz AS deg_a, db.dz AS deg_b,
              CAST((c.cn * 1000000) // (da.dz + db.dz - c.cn) AS BIGINT)
                AS jaccard_micro,
              CAST(da.dz * db.dz AS BIGINT) AS pa_score
            FROM cand c JOIN deg da ON da.z = c.u
            JOIN deg db ON db.z = c.v)
          SELECT u AS id_a, v AS id_b, cn AS common_neighbors,
            deg_a, deg_b, jaccard_micro, pa_score
          FROM scored
          ORDER BY common_neighbors DESC, jaccard_micro DESC, id_a, id_b
          LIMIT 50""")),

    // Capped twin of q300 (r10 verdict #2): the CN/Jaccard/PA suite with
    // the wedge enumeration capped to the 8 lowest-id neighbors per
    // center (cap = 8 binds at the oracle SFs — see q239b); the degree
    // columns, Jaccard denominators, and PA products always use TRUE
    // degrees per the linkPredictionSuite contract, so only the
    // common-neighbor counts become lower bounds.
    "q300b_link_prediction_capped" -> Q(
      (s, dir) => {
        val items = t(s, dir, "lineitem")
          .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
          .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
          .distinct()
        val pairs = items.as("a").join(items.as("b"),
            col("a.bk") === col("b.bk") && col("a.it") < col("b.it"))
          .groupBy(col("a.it").as("pa"), col("b.it").as("pb"))
          .agg(count(lit(1)).as("sup")).filter(col("sup") >= 2)
        Graphs.linkPredictionSuite(pairs, "pa", "pb", 50, degreeCap = 8)
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
            FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
          prs AS (SELECT a.it AS id_a, b.it AS id_b
            FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
          edges AS (SELECT id_a AS src, id_b AS dst FROM prs
            UNION SELECT id_b, id_a FROM prs),
          deg AS (SELECT src AS z, CAST(COUNT(*) AS BIGINT) AS dz
            FROM edges GROUP BY 1),
          cedges AS (SELECT src, dst FROM (SELECT src, dst,
              row_number() OVER (PARTITION BY src ORDER BY dst) AS rk
            FROM edges) WHERE rk <= 8),
          wed AS (SELECT x.dst AS u, y.dst AS v
            FROM cedges x JOIN cedges y ON x.src = y.src AND x.dst < y.dst),
          cand AS (SELECT w.u, w.v, CAST(COUNT(*) AS BIGINT) AS cn
            FROM wed w
            WHERE NOT EXISTS (SELECT 1 FROM prs p
              WHERE p.id_a = w.u AND p.id_b = w.v)
            GROUP BY 1, 2),
          scored AS (SELECT c.u, c.v, c.cn,
              da.dz AS deg_a, db.dz AS deg_b,
              CAST((c.cn * 1000000) // (da.dz + db.dz - c.cn) AS BIGINT)
                AS jaccard_micro,
              CAST(da.dz * db.dz AS BIGINT) AS pa_score
            FROM cand c JOIN deg da ON da.z = c.u
            JOIN deg db ON db.z = c.v)
          SELECT u AS id_a, v AS id_b, cn AS common_neighbors,
            deg_a, deg_b, jaccard_micro, pa_score
          FROM scored
          ORDER BY common_neighbors DESC, jaccard_micro DESC, id_a, id_b
          LIMIT 50""")),

    // Batch face of the streaming Space-Saving summary via the merge law
    // (r10 verdict #5): deterministic side summaries (even/odd docs,
    // count = true + floor, err = floor, floor = (m+1)-st side count)
    // merged per the mergeable-summaries rule, then value-checked against
    // exact whole-corpus counts — never-under, count−err lower bound,
    // ≤ m state, and floor-tight retention, all replayed in SQL.
    "q343_space_saving_merge" -> Q(
      (s, dir) => Sketches.spaceSavingMergeCheck(t(s, dir, "documents"),
        "doc_id", "text", buckets = 4, m = 8),
      Some {
        val h = graft.functions.Hashing.h60Sql("tok")
        s"""WITH toks AS (SELECT doc_id % 2 = 0 AS even,
            unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
          FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
        tb AS (SELECT CAST($h % 4 AS BIGINT) AS b, even, tok
          FROM toks WHERE len(tok) > 0),
        sc AS (SELECT b, even, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM tb GROUP BY 1, 2, 3),
        rnk AS (SELECT *, row_number() OVER (PARTITION BY b, even
            ORDER BY c DESC, tok) AS rk FROM sc),
        fl AS (SELECT b, even,
            CAST(COALESCE(MAX(CASE WHEN rk = 9 THEN c END), 0) AS BIGINT)
              AS f
          FROM rnk GROUP BY 1, 2),
        summ AS (SELECT rnk.b, rnk.even, rnk.tok, c + f AS cs, f AS es
          FROM rnk JOIN fl USING (b, even) WHERE rk <= 8),
        spine AS (SELECT r.b,
            CAST(COALESCE(fe.f, 0) AS BIGINT) AS fe,
            CAST(COALESCE(fo.f, 0) AS BIGINT) AS fo
          FROM (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS b) r
          LEFT JOIN fl fe ON fe.b = r.b AND fe.even
          LEFT JOIN fl fo ON fo.b = r.b AND NOT fo.even),
        se AS (SELECT b, tok, cs AS ce, es AS ee FROM summ WHERE even),
        so AS (SELECT b, tok, cs AS co, es AS eo FROM summ WHERE NOT even),
        m0 AS (SELECT COALESCE(se.b, so.b) AS b,
            COALESCE(se.tok, so.tok) AS tok, se.ce, se.ee, so.co, so.eo
          FROM se FULL OUTER JOIN so ON se.b = so.b AND se.tok = so.tok),
        m1 AS (SELECT m0.b, tok,
            COALESCE(ce, fe) + COALESCE(co, fo) AS cm,
            COALESCE(ee, fe) + COALESCE(eo, fo) AS em
          FROM m0 JOIN spine ON m0.b = spine.b),
        mg AS (SELECT *, row_number() OVER (PARTITION BY b
            ORDER BY cm DESC, tok) AS rk
          FROM m1 QUALIFY rk <= 8),
        ex AS (SELECT b, tok, CAST(SUM(c) AS BIGINT) AS cx
          FROM sc GROUP BY 1, 2),
        nb AS (SELECT b, CAST(SUM(cx) AS BIGINT) AS n_bucket,
            CAST(COUNT(*) AS BIGINT) AS n_tokens_exact
          FROM ex GROUP BY 1),
        ck AS (SELECT mg.b, CAST(COUNT(*) AS BIGINT) AS n_counters,
            CAST(SUM(CASE WHEN cm < cx OR cm - em > cx THEN 1 ELSE 0 END)
              AS BIGINT) AS n_bound_violations,
            MAX(CASE WHEN rk = 1 THEN mg.tok END) AS top_token,
            CAST(MAX(CASE WHEN rk = 1 THEN cm END) AS BIGINT) AS top_count,
            CAST(MAX(CASE WHEN rk = 1 THEN em END) AS BIGINT) AS top_err
          FROM mg JOIN ex ON mg.b = ex.b AND mg.tok = ex.tok GROUP BY 1),
        ms AS (SELECT ex.b, CAST(COUNT(*) AS BIGINT) AS n_retention_misses
          FROM ex JOIN spine ON ex.b = spine.b JOIN nb ON ex.b = nb.b
          WHERE NOT EXISTS (SELECT 1 FROM mg
              WHERE mg.b = ex.b AND mg.tok = ex.tok)
            AND cx * 8 > n_bucket + 8 * (fe + fo)
          GROUP BY 1)
        SELECT spine.b AS bucket,
          COALESCE(n_bucket, 0) AS n_bucket,
          COALESCE(n_tokens_exact, 0) AS n_tokens_exact,
          COALESCE(n_counters, 0) AS n_counters,
          fe AS floor_even, fo AS floor_odd,
          top_token, top_count, top_err,
          COALESCE(n_bound_violations, 0) AS n_bound_violations,
          COALESCE(n_retention_misses, 0) AS n_retention_misses,
          COALESCE(n_counters, 0) <= 8 AS state_ok,
          COALESCE(n_bound_violations, 0) = 0 AS bounds_ok,
          COALESCE(n_retention_misses, 0) = 0 AS retention_ok
        FROM spine LEFT JOIN nb ON spine.b = nb.b
        LEFT JOIN ck ON spine.b = ck.b LEFT JOIN ms ON spine.b = ms.b
        ORDER BY bucket"""
      }),

    // Cronbach's alpha over the three lineitem rate/quantity items —
    // internal-consistency reliability from ONE exact-moment aggregate;
    // fixed-order per-item variance chain, one final alpha expression.
    "q301_cronbach_alpha" -> Q(
      (s, dir) => Quality.cronbachAlpha(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_discount", "l_tax")),
      Some("""WITH base AS (SELECT
            CAST(round(l_quantity * 1e6) AS BIGINT) AS i1,
            CAST(round(l_discount * 1e6) AS BIGINT) AS i2,
            CAST(round(l_tax * 1e6) AS BIGINT) AS i3
          FROM lineitem WHERE l_quantity IS NOT NULL
            AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(i1 AS HUGEINT)) AS s1,
            SUM(CAST(i1 AS HUGEINT) * i1) AS q1,
            SUM(CAST(i2 AS HUGEINT)) AS s2,
            SUM(CAST(i2 AS HUGEINT) * i2) AS q2,
            SUM(CAST(i3 AS HUGEINT)) AS s3,
            SUM(CAST(i3 AS HUGEINT) * i3) AS q3,
            SUM(CAST(i1 + i2 + i3 AS HUGEINT)) AS st,
            SUM(CAST(i1 + i2 + i3 AS HUGEINT) * (i1 + i2 + i3)) AS qt
          FROM base),
        v AS (SELECT n,
            (CAST(n AS DOUBLE) * CAST(q1 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e12 AS v1,
            (CAST(n AS DOUBLE) * CAST(q2 AS DOUBLE)
              - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e12 AS v2,
            (CAST(n AS DOUBLE) * CAST(q3 AS DOUBLE)
              - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e12 AS v3,
            (CAST(n AS DOUBLE) * CAST(qt AS DOUBLE)
              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e12 AS vt
          FROM m)
        SELECT n, CAST(3 AS BIGINT) AS k,
          v1 + v2 + v3 AS sum_item_var, vt AS total_var,
          CASE WHEN n >= 2 AND vt > 0
            THEN 3.0 / (3.0 - 1.0) * (1.0 - (v1 + v2 + v3) / vt) END
            AS alpha
        FROM v""")),

    // Partial correlation r(quantity, extendedprice | discount): the
    // confounder audit over q99's raw correlations — nine exact DECIMAL
    // moments in one pass, pinned IEEE r's and the first-order partial.
    "q302_partial_correlation" -> Q(
      (s, dir) => Quality.partialCorrelation(t(s, dir, "lineitem"),
        "l_quantity", "l_extendedprice", "l_discount"),
      Some("""WITH base AS (SELECT
            CAST(round(l_quantity * 1e6) AS BIGINT) AS x,
            CAST(round(l_extendedprice * 1e6) AS BIGINT) AS y,
            CAST(round(l_discount * 1e6) AS BIGINT) AS z
          FROM lineitem WHERE l_quantity IS NOT NULL
            AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
            SUM(CAST(z AS HUGEINT)) AS sz,
            SUM(CAST(x AS HUGEINT) * x) AS sxx,
            SUM(CAST(y AS HUGEINT) * y) AS syy,
            SUM(CAST(z AS HUGEINT) * z) AS szz,
            SUM(CAST(x AS HUGEINT) * y) AS sxy,
            SUM(CAST(x AS HUGEINT) * z) AS sxz,
            SUM(CAST(y AS HUGEINT) * z) AS syz
          FROM base),
        c AS (SELECT n,
            CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy,
            CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE) AS cxz,
            CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE) AS cyz,
            CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx,
            CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy,
            CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
              - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) AS czz
          FROM m),
        r AS (SELECT n, cxx, cyy, czz,
            cxy / sqrt(cxx * cyy) AS rxy,
            cxz / sqrt(cxx * czz) AS rxz,
            cyz / sqrt(cyy * czz) AS ryz
          FROM c)
        SELECT n,
          CASE WHEN cxx > 0 AND cyy > 0 AND czz > 0 THEN rxy END AS r_xy,
          CASE WHEN cxx > 0 AND cyy > 0 AND czz > 0 THEN rxz END AS r_xz,
          CASE WHEN cxx > 0 AND cyy > 0 AND czz > 0 THEN ryz END AS r_yz,
          CASE WHEN cxx > 0 AND cyy > 0 AND czz > 0
              AND abs(rxz) < 1.0 AND abs(ryz) < 1.0
            THEN (rxy - rxz * ryz)
              / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) END
            AS r_xy_given_z
        FROM r""")),

    // Pairwise audience overlap via HLL inclusion-exclusion — exact
    // counts + the compounded-error bound verdict are the oracle
    // surface (q231's convention; the estimate is engine-specific).
    "q303_hll_intersection" -> Q(
      (s, dir) => Sketches.hllIntersection(t(s, dir, "events"),
        "event_type", "user_id"),
      Some("""WITH base AS (SELECT DISTINCT CAST(event_type AS VARCHAR) AS g,
            user_id AS v
          FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        nd AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS nd FROM base GROUP BY 1),
        inter AS (SELECT x.g AS ga, y.g AS gb, CAST(COUNT(*) AS BIGINT) AS ei
          FROM base x JOIN base y ON x.v = y.v AND x.g < y.g GROUP BY 1, 2)
        SELECT a.g AS group_a, b.g AS group_b,
          a.nd AS exact_a, b.nd AS exact_b,
          CAST(COALESCE(i.ei, 0) AS BIGINT) AS exact_inter,
          true AS bound_ok
        FROM nd a JOIN nd b ON a.g < b.g
        LEFT JOIN inter i ON i.ga = a.g AND i.gb = b.g
        ORDER BY group_a, group_b""")),

    // IVF routing + PQ ADC shortlist + exact rerank composed (IVFADC):
    // the ADC scan reads only the probed cells' codes. Recall contract
    // vs the exact top-5 (the q31 convention — the shortlist itself is
    // partial-probing-shaped, not oracle-replayable).
    "q304_ivf_pq" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfPqSearch(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, shortlist = 50, m = 8, ksub = 32,
          dim = 64, nlist = 16, nProbe = 6)
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        true AS recall_ok FROM embeddings WHERE vec_id < 10""")),

    // RAKE multi-word keyword extraction: stopword-delimited phrase
    // runs, degree/frequency word scores, integer phrase scores — the
    // phrase-level complement to q258's word-level TextRank.
    "q305_rake_keywords" -> Q(
      (s, dir) => TextOps.rakeKeywords(t(s, dir, "documents"),
        "doc_id", "text", 50),
      Some {
        val stops = graft.functions.TextFns.stopwords
          .map(w => s"'$w'").mkString(", ")
        s"""WITH d AS (SELECT doc_id AS doc,
              string_split_regex(lower(trim(text)), '\\s+') AS l
            FROM documents WHERE text IS NOT NULL),
          t0 AS (SELECT doc, unnest(range(1, len(l) + 1)) AS pos,
              unnest(l) AS tok FROM d),
          t1 AS (SELECT doc, pos, tok, tok IN ($stops) AS stop
            FROM t0 WHERE length(tok) > 0),
          t2 AS (SELECT doc, pos, tok, stop,
              SUM(CASE WHEN stop THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc ORDER BY pos) AS pid
            FROM t1),
          co AS (SELECT doc, pos, tok, pid,
              COUNT(*) OVER (PARTITION BY doc, pid) AS plen
            FROM t2 WHERE NOT stop),
          ws AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
              CAST(SUM(plen) AS BIGINT) AS degree
            FROM co GROUP BY 1),
          ph AS (SELECT co.doc, co.pid,
              string_agg(co.tok, ' ' ORDER BY co.pos) AS phrase,
              CAST(SUM((ws.degree * 1000000) // ws.freq) AS BIGINT)
                AS score_micro
            FROM co JOIN ws ON ws.tok = co.tok GROUP BY 1, 2)
          SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
            CAST(MAX(score_micro) AS BIGINT) AS score_micro
          FROM ph GROUP BY 1
          ORDER BY score_micro DESC, phrase LIMIT 50"""
      }),

    // Always-valid p-values (mSPRT, N(0, 0.25) effect prior) for the
    // hashed-arm experiment per event type — continuous peeking where
    // q271's fixed-horizon p is only valid at one pre-registered n.
    "q306_msprt" -> Q(
      (s, dir) => Quality.msprt(t(s, dir, "events"), "event_type",
        "user_id", "value", "sprt1", tauSq = 0.25),
      Some(s"""WITH base AS (SELECT event_type AS seg,
            ${graft.functions.Hashing.h60Sql(
              "'sprt1:' || CAST(user_id AS VARCHAR)")} % 2 = 0 AS a,
            CAST(round(value * 1e6) AS BIGINT) AS v
          FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
            AND value IS NOT NULL),
        g AS (SELECT seg,
            CAST(COUNT(*) FILTER (WHERE a) AS BIGINT) AS na,
            SUM(CASE WHEN a THEN CAST(v AS HUGEINT) ELSE 0 END) AS sa,
            SUM(CASE WHEN a THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qa,
            CAST(COUNT(*) FILTER (WHERE NOT a) AS BIGINT) AS nb,
            SUM(CASE WHEN NOT a THEN CAST(v AS HUGEINT) ELSE 0 END) AS sb,
            SUM(CASE WHEN NOT a THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qb
          FROM base GROUP BY 1),
        w1 AS (SELECT seg, na, nb,
            CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1e6 AS ma,
            CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6 AS mb,
            (CAST(na AS DOUBLE) * CAST(qa AS DOUBLE)
              - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
              / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE)) / 1e12 AS va,
            (CAST(nb AS DOUBLE) * CAST(qb AS DOUBLE)
              - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
              / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)) / 1e12 AS vb
          FROM g),
        w2 AS (SELECT seg, na, nb, ma - mb AS delta,
            va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE) AS se2
          FROM w1),
        w3 AS (SELECT seg, na, nb, delta, se2,
            least(1.0, 1.0 / (sqrt(se2 / (se2 + 0.25))
              * EXP(delta * delta * 0.25
                / (2.0 * se2 * (se2 + 0.25))))) AS p
          FROM w2)
        SELECT seg AS segment, na AS n_a, nb AS n_b,
          CASE WHEN na > 0 AND nb > 0 AND se2 > 0 THEN delta END AS delta,
          CASE WHEN na > 0 AND nb > 0 AND se2 > 0
            THEN CAST(round(p * 1e6) AS BIGINT) END AS p_micro,
          CASE WHEN na > 0 AND nb > 0 AND se2 > 0
            THEN CAST(round(p * 1e6) AS BIGINT) <= 50000 END AS significant
        FROM w3 ORDER BY segment""")),

    // Snapshot retention end-to-end: publish three versions, vacuum to
    // keepHistory = 1, audit what stayed addressable — the expire-
    // snapshots lifecycle (storage reclaim without losing the promised
    // time-travel horizon) that q228/q255 write paths leave untested.
    "q307_snapshot_retention" -> Q(
      (s, dir) => {
        // per-process suffix: two concurrent Verify runs against
        // the same dataset must not race on resetTable/publish/vacuum of
        // a shared generation audit (ADVICE r9); the result columns never
        // expose the path, so the oracle is unaffected
        val table = s"${sys.props("java.io.tmpdir")}/graft_retain/" +
          s"orders_${dir.replaceAll("[^A-Za-z0-9]", "_")}" +
          s"_p${ProcessHandle.current().pid()}"
        Warehouse.resetTable(table)
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate").isNotNull)
          .select(col("o_orderkey"), col("o_orderdate"))
        val cut97 = lit("1997-01-01 00:00:00").cast("timestamp")
        val cut98 = lit("1998-01-01 00:00:00").cast("timestamp")
        Warehouse.publishVersioned(s, o.filter(col("o_orderdate") < cut97),
          table)
        Warehouse.publishVersioned(s, o.filter(col("o_orderdate") < cut98),
          table)
        Warehouse.publishVersioned(s, o, table)
        val removed = Warehouse.vacuum(table, keepHistory = 1)
        val retained = Warehouse.committedGenerations(table).sorted
        val live = Warehouse.readVersioned(s, table)
          .agg(count(lit(1)).as("live_rows"))
        val hist = Warehouse.readVersionedAt(s, table, retained.head)
          .agg(count(lit(1)).as("history_rows"))
        live.crossJoin(broadcast(hist))
          .select(lit(3L).as("n_published"),
            lit(retained.size.toLong).as("n_retained"),
            lit(removed.size.toLong).as("n_removed"),
            col("live_rows"), col("history_rows"))
      },
      Some("""SELECT CAST(3 AS BIGINT) AS n_published,
          CAST(2 AS BIGINT) AS n_retained, CAST(1 AS BIGINT) AS n_removed,
          CAST(COUNT(*) AS BIGINT) AS live_rows,
          CAST(COUNT(*) FILTER (WHERE o_orderdate < TIMESTAMP '1998-01-01')
            AS BIGINT) AS history_rows
        FROM orders WHERE o_orderdate IS NOT NULL""")),

    // Rolling 7-day distinct users from mergeable daily HLL sketches;
    // the exact fan-out adjudicates every window's estimate (q231's
    // bound-verdict convention).
    "q308_sliding_distinct" -> Q(
      (s, dir) => Sketches.slidingDistinct(t(s, dir, "events"),
        "ts", "user_id", 7),
      Some("""WITH pairs AS (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
            user_id AS u
          FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        hi AS (SELECT MAX(d) AS hi FROM pairs),
        fan AS (SELECT d + CAST(o.off AS INTEGER) AS day, u
          FROM pairs, (SELECT unnest(range(0, 7)) AS off) o, hi
          WHERE d + CAST(o.off AS INTEGER) <= hi),
        ex7 AS (SELECT day, CAST(COUNT(DISTINCT u) AS BIGINT) AS exact_7d
          FROM fan GROUP BY 1),
        ex1 AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS exact_1d
          FROM pairs GROUP BY 1)
        SELECT ex1.day, exact_1d, exact_7d, true AS bound_ok
        FROM ex1 JOIN ex7 USING (day) ORDER BY day""")),

    // Kish effective sample size of the q224 DSIR log-weights —
    // max-stabilized micro-exp weights, exact integer sums, one pinned
    // ESS ratio: the reweighting-collapse audit.
    "q309_ess" -> Q(
      (s, dir) => Sampling.effectiveSampleSize(
        TextOps.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en", 512), "logw_micro"),
      Some("""WITH toks AS (SELECT doc_id, lang = 'en' AS tgt,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        tb AS (SELECT doc_id, tgt,
            CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 512 AS b,
            CAST(COUNT(*) AS BIGINT) AS c
          FROM toks GROUP BY 1, 2, 3),
        model AS (SELECT b,
            CAST(SUM(CASE WHEN tgt THEN c ELSE 0 END) AS BIGINT) AS ct,
            CAST(SUM(c) AS BIGINT) AS cr
          FROM tb GROUP BY 1),
        tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
            CAST(SUM(cr) AS BIGINT) AS nr FROM model),
        lw AS (SELECT doc_id,
            CAST(SUM(c * (CAST(round(ln(ct + 1) * 1e6) AS BIGINT)
              - CAST(round(ln(nt + 512) * 1e6) AS BIGINT)
              - CAST(round(ln(cr + 1) * 1e6) AS BIGINT)
              + CAST(round(ln(nr + 512) * 1e6) AS BIGINT))) AS BIGINT)
              AS logw
          FROM tb JOIN model USING (b), tot GROUP BY doc_id),
        mx AS (SELECT MAX(logw) AS mlw FROM lw),
        w AS (SELECT CAST(round(EXP(CAST(logw - mlw AS DOUBLE) / 1e6) * 1e6)
              AS BIGINT) AS w, mlw
          FROM lw, mx),
        agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(mlw) AS max_logw_micro,
            SUM(CAST(w AS HUGEINT)) AS sw,
            SUM(CAST(w AS HUGEINT) * w) AS sw2
          FROM w)
        SELECT n, max_logw_micro,
          CAST(sw AS BIGINT) AS sum_w_micro,
          CAST(sw2 AS BIGINT) AS sum_w2_micro2,
          CASE WHEN sw2 > 0 THEN
            CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sw2 AS DOUBLE)
          END AS ess,
          CASE WHEN sw2 > 0 THEN
            CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sw2 AS DOUBLE)
              / CAST(n AS DOUBLE)
          END AS ess_ratio
        FROM agg""")),

    // Two-proportion z on per-user purchase conversion between hashed
    // arms — the RATE test beside q214's value test; pooled-variance z,
    // A&S tail p on the micro grid.
    "q310_two_proportion" -> Q(
      (s, dir) => Quality.conversionZTest(t(s, dir, "events"), "user_id",
        "prop1", col("event_type") === "purchase"),
      Some(s"""WITH units AS (SELECT user_id AS u,
            CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS conv
          FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        armed AS (SELECT
            ${graft.functions.Hashing.h60Sql(
              "'prop1:' || CAST(u AS VARCHAR)")} % 2 = 0 AS a, conv
          FROM units),
        g AS (SELECT
            CAST(COUNT(*) FILTER (WHERE a) AS BIGINT) AS na,
            CAST(SUM(CASE WHEN a THEN conv ELSE 0 END) AS BIGINT) AS ka,
            CAST(COUNT(*) FILTER (WHERE NOT a) AS BIGINT) AS nb,
            CAST(SUM(CASE WHEN NOT a THEN conv ELSE 0 END) AS BIGINT) AS kb
          FROM armed),
        w1 AS (SELECT na, ka, nb, kb,
            CAST(ka AS DOUBLE) / CAST(na AS DOUBLE) AS p1,
            CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE) AS p2,
            (CAST(ka AS DOUBLE) + CAST(kb AS DOUBLE))
              / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) AS pp
          FROM g),
        w2 AS (SELECT na, ka, nb, kb, p1, p2,
            sqrt(pp * (1.0 - pp)
              * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))
              AS se
          FROM w1),
        w3 AS (SELECT na, ka, nb, kb, se, (p1 - p2) / se AS z FROM w2)
        SELECT na AS n_a, nb AS n_b, ka AS k_a, kb AS k_b,
          CASE WHEN na > 0 AND nb > 0 AND se > 0 THEN z END AS z,
          CASE WHEN na > 0 AND nb > 0 AND se > 0 THEN CAST(round(
            2.0 * 0.3989422804014327 * EXP(-0.5 * abs(z) * abs(z))
            * (((((1.330274429 * (1.0 / (1.0 + 0.2316419 * abs(z)))
                + -1.821255978) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                + 1.781477937) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                + -0.356563782) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                + 0.319381530) * (1.0 / (1.0 + 0.2316419 * abs(z))))
            * 1e6) AS BIGINT) END AS p_micro
        FROM w3""")),

    // Standardized-mean-difference covariate balance between the hashed
    // order-key arms over the four lineitem measures — the broken-
    // randomization audit in front of every lift readout.
    "q311_covariate_balance" -> Q(
      (s, dir) => Quality.covariateBalance(t(s, dir, "lineitem"),
        "l_orderkey", "bal1",
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")),
      Some {
        val covs = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
        val base = s"""base AS (SELECT
            ${graft.functions.Hashing.h60Sql(
              "'bal1:' || CAST(l_orderkey AS VARCHAR)")} % 2 = 0 AS a,
            ${covs.map(c =>
              s"CAST(round($c * 1e6) AS BIGINT) AS c_$c").mkString(", ")}
          FROM lineitem WHERE l_orderkey IS NOT NULL)"""
        val moms = covs.map(c => s"""m_$c AS (SELECT '$c' AS covariate,
            CAST(COUNT(*) FILTER (WHERE a AND c_$c IS NOT NULL) AS BIGINT) AS na,
            SUM(CASE WHEN a AND c_$c IS NOT NULL THEN CAST(c_$c AS HUGEINT) ELSE 0 END) AS sa,
            SUM(CASE WHEN a AND c_$c IS NOT NULL THEN CAST(c_$c AS HUGEINT) * c_$c ELSE 0 END) AS qa,
            CAST(COUNT(*) FILTER (WHERE NOT a AND c_$c IS NOT NULL) AS BIGINT) AS nb,
            SUM(CASE WHEN NOT a AND c_$c IS NOT NULL THEN CAST(c_$c AS HUGEINT) ELSE 0 END) AS sb,
            SUM(CASE WHEN NOT a AND c_$c IS NOT NULL THEN CAST(c_$c AS HUGEINT) * c_$c ELSE 0 END) AS qb
          FROM base)""").mkString(",\n")
        val un = covs.map(c => s"SELECT * FROM m_$c").mkString(" UNION ALL ")
        s"""WITH $base,
          $moms,
          allm AS ($un),
          d1 AS (SELECT covariate, na, nb,
              CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1e6 AS ma,
              CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6 AS mb,
              (CAST(na AS DOUBLE) * CAST(qa AS DOUBLE)
                - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0)) / 1e12
                AS va,
              (CAST(nb AS DOUBLE) * CAST(qb AS DOUBLE)
                - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
                / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)) / 1e12
                AS vb
            FROM allm)
          SELECT covariate, na AS n_a, nb AS n_b,
            CASE WHEN na >= 1 THEN ma END AS mean_a,
            CASE WHEN nb >= 1 THEN mb END AS mean_b,
            CASE WHEN na >= 2 AND nb >= 2 AND va + vb > 0
              THEN (ma - mb) / sqrt((va + vb) / 2.0) END AS smd,
            CASE WHEN na >= 2 AND nb >= 2 AND va + vb > 0
              THEN abs((ma - mb) / sqrt((va + vb) / 2.0)) <= 0.1 END
              AS balanced
          FROM d1 ORDER BY covariate"""
      }),

    // Bradley-Terry preference strengths over event types: per user,
    // the type with the larger exact mean value wins the pairwise
    // comparison (cross-multiplied integer sums — no division); three
    // truncating-integer MM iterations, oracle-replayed CTE for CTE.
    "q312_bradley_terry" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
            col("value").isNotNull)
        val ut = ev.groupBy(col("user_id").as("u"),
            col("event_type").as("t"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 1e6).cast("long")
              .cast("decimal(38,0)")).cast("decimal(38,0)").as("sv"))
        val pref = ut.as("x").join(ut.as("y"),
            col("x.u") === col("y.u") && col("x.t") < col("y.t"))
          .select(
            when(col("x.sv") * col("y.n") > col("y.sv") * col("x.n"),
              col("x.t"))
              .when(col("y.sv") * col("x.n") > col("x.sv") * col("y.n"),
                col("y.t")).as("winner"),
            when(col("x.sv") * col("y.n") > col("y.sv") * col("x.n"),
              col("y.t"))
              .when(col("y.sv") * col("x.n") > col("x.sv") * col("y.n"),
                col("x.t")).as("loser"))
          .filter(col("winner").isNotNull)
        val wins = pref.groupBy(col("winner").as("a"), col("loser").as("b"))
          .agg(count(lit(1)).as("w"))
        Analytics.bradleyTerry(wins, "a", "b", "w", iters = 3)
      },
      Some {
        def iter(prev: Int, cur: Int): String =
          s"""t$cur AS (SELECT pt.i,
              CAST(SUM((CAST(nij AS HUGEINT) * 1000000000000)
                // (si.s + sj.s)) AS BIGINT) AS denom
            FROM pt JOIN s$prev si ON si.i = pt.i
            JOIN s$prev sj ON sj.i = pt.j GROUP BY 1),
          r$cur AS (SELECT items.i,
              CASE WHEN denom > 0 THEN CAST((CAST(wins AS HUGEINT)
                  * 1000000000000) // denom AS BIGINT)
                ELSE 1000000 END AS s
            FROM items JOIN t$cur ON t$cur.i = items.i),
          n$cur AS (SELECT SUM(s) AS stot FROM r$cur),
          s$cur AS MATERIALIZED (SELECT i,
              CAST((CAST(s AS HUGEINT) * (SELECT k FROM kk) * 1000000)
                // (SELECT stot FROM n$cur) AS BIGINT) AS s
            FROM r$cur)"""
        s"""WITH ut AS (SELECT user_id AS u, event_type AS t,
              CAST(COUNT(*) AS BIGINT) AS n,
              SUM(CAST(round(value * 1e6) AS HUGEINT)) AS sv
            FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
              AND value IS NOT NULL
            GROUP BY 1, 2),
          pref AS (SELECT
              CASE WHEN x.sv * y.n > y.sv * x.n THEN x.t
                WHEN y.sv * x.n > x.sv * y.n THEN y.t END AS winner,
              CASE WHEN x.sv * y.n > y.sv * x.n THEN y.t
                WHEN y.sv * x.n > x.sv * y.n THEN x.t END AS loser
            FROM ut x JOIN ut y ON x.u = y.u AND x.t < y.t),
          wins AS (SELECT winner AS i, loser AS j,
              CAST(COUNT(*) AS BIGINT) AS w
            FROM pref WHERE winner IS NOT NULL GROUP BY 1, 2),
          games AS (SELECT i, j, CAST(SUM(w) AS BIGINT) AS wij
            FROM (SELECT i, j, w FROM wins
              UNION ALL SELECT j, i, 0 FROM wins)
            GROUP BY 1, 2),
          pt AS MATERIALIZED (SELECT x.i, x.j, x.wij,
              x.wij + y.wij AS nij
            FROM games x JOIN games y ON x.i = y.j AND x.j = y.i
            WHERE x.wij + y.wij > 0),
          items AS MATERIALIZED (SELECT i, CAST(SUM(wij) AS BIGINT) AS wins,
              CAST(SUM(nij) AS BIGINT) AS games
            FROM pt GROUP BY 1),
          kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM items),
          s0 AS (SELECT i, CAST(1000000 AS BIGINT) AS s FROM items),
          ${iter(0, 1)},
          ${iter(1, 2)},
          ${iter(2, 3)}
          SELECT items.i AS item, wins, games,
            CAST(s3.s AS BIGINT) AS strength_micro
          FROM items JOIN s3 ON s3.i = items.i
          ORDER BY strength_micro DESC, item"""
      }),

    // Rich-club curve phi(k) over the co-purchase graph: do the hub
    // parts wire to each other? All-integer level fan-out; one
    // truncating micro division per degree tier.
    "q313_rich_club" -> Q(
      (s, dir) => {
        val items = t(s, dir, "lineitem")
          .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
          .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
          .distinct()
        val pairs = items.as("a").join(items.as("b"),
            col("a.bk") === col("b.bk") && col("a.it") < col("b.it"))
          .groupBy(col("a.it").as("pa"), col("b.it").as("pb"))
          .agg(count(lit(1)).as("sup")).filter(col("sup") >= 2)
        Graphs.richClub(pairs, "pa", "pb", 8)
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
            FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
          prs AS MATERIALIZED (SELECT a.it AS id_a, b.it AS id_b
            FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
          deg AS MATERIALIZED (SELECT n, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT id_a AS n FROM prs
              UNION ALL SELECT id_b FROM prs) GROUP BY 1),
          ks AS (SELECT unnest(range(1, 9)) AS k),
          nk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes
            FROM deg CROSS JOIN ks WHERE d > k GROUP BY 1),
          ek AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_edges
            FROM prs
            JOIN deg da ON da.n = prs.id_a
            JOIN deg db ON db.n = prs.id_b
            CROSS JOIN ks WHERE da.d > k AND db.d > k GROUP BY 1),
          sel AS (SELECT ks.k,
              COALESCE(nk.n_nodes, 0) AS n_nodes,
              COALESCE(ek.n_edges, 0) AS n_edges
            FROM ks LEFT JOIN nk ON nk.k = ks.k
            LEFT JOIN ek ON ek.k = ks.k)
          SELECT CAST(k AS BIGINT) AS k, CAST(n_nodes AS BIGINT) AS n_nodes,
            CAST(n_edges AS BIGINT) AS n_edges,
            CASE WHEN n_nodes >= 2 THEN
              CAST((2 * n_edges * 1000000) // (n_nodes * (n_nodes - 1))
                AS BIGINT) END AS phi_micro
          FROM sel ORDER BY k""")),

    // Delta-method CI for revenue-per-order over customers — the
    // correct ratio-metric error bar (both numerator and denominator
    // are random); exact cent-grid per-customer sums feed one pinned
    // IEEE Taylor chain.
    "q314_delta_ratio_ci" -> Q(
      (s, dir) => {
        val per = t(s, dir, "orders")
          .filter(col("o_custkey").isNotNull && col("o_totalprice").isNotNull)
          .groupBy("o_custkey")
          .agg((sum(round(col("o_totalprice") * 100).cast("long"))
              .cast("double") / lit(100.0)).as("rev"),
            count(lit(1)).cast("double").as("n_orders"))
        Quality.deltaMethodRatioCI(per, "rev", "n_orders")
      },
      Some("""WITH per AS (SELECT o_custkey,
            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
              / 100.0 AS rev,
            CAST(COUNT(*) AS DOUBLE) AS n_orders
          FROM orders
          WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
          GROUP BY 1),
        base AS (SELECT CAST(round(rev * 1e6) AS BIGINT) AS x,
            CAST(round(n_orders * 1e6) AS BIGINT) AS y FROM per),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
            SUM(CAST(x AS HUGEINT) * x) AS sxx,
            SUM(CAST(y AS HUGEINT) * y) AS syy,
            SUM(CAST(x AS HUGEINT) * y) AS sxy
          FROM base),
        d1 AS (SELECT n, sx, sy,
            (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e12 AS vx,
            (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e12 AS vy,
            (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e12 AS cxy,
            CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 AS my,
            CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r
          FROM m),
        d2 AS (SELECT n, sx, sy, r,
            (vx - 2.0 * r * cxy + r * r * vy)
              / (CAST(n AS DOUBLE) * my * my) AS var_r
          FROM d1),
        d3 AS (SELECT n, sx, sy, r, var_r, sqrt(var_r) AS se FROM d2)
        SELECT n, CAST(sx AS BIGINT) AS sum_x_micro,
          CAST(sy AS BIGINT) AS sum_y_micro,
          CASE WHEN sy <> 0 THEN r END AS ratio,
          CASE WHEN n >= 2 AND sy <> 0 AND var_r >= 0 THEN se END AS se,
          CASE WHEN n >= 2 AND sy <> 0 AND var_r >= 0
            THEN r - 1.959964 * se END AS ci_lo,
          CASE WHEN n >= 2 AND sy <> 0 AND var_r >= 0
            THEN r + 1.959964 * se END AS ci_hi
        FROM d3""")),

    // Delete-one-bucket jackknife of the SAME ratio — the resampling
    // cross-check of q314's first-order Taylor; 32 hashed customer
    // buckets, pico-grid deviation contributions.
    "q315_jackknife_ratio" -> Q(
      (s, dir) => {
        val per = t(s, dir, "orders")
          .filter(col("o_custkey").isNotNull && col("o_totalprice").isNotNull)
          .groupBy("o_custkey")
          .agg((sum(round(col("o_totalprice") * 100).cast("long"))
              .cast("double") / lit(100.0)).as("rev"),
            count(lit(1)).cast("double").as("n_orders"))
        Quality.jackknifeRatio(per, "o_custkey", "rev", "n_orders",
          "jk1", 32)
      },
      Some(s"""WITH per AS (SELECT o_custkey,
            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
              / 100.0 AS rev,
            CAST(COUNT(*) AS DOUBLE) AS n_orders
          FROM orders
          WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
          GROUP BY 1),
        pb AS (SELECT
            ${graft.functions.Hashing.h60Sql(
              "'jk1:' || CAST(o_custkey AS VARCHAR)")} % 32 AS b,
            CAST(COUNT(*) AS BIGINT) AS nb,
            SUM(CAST(CAST(round(rev * 1e6) AS BIGINT) AS HUGEINT)) AS bx,
            SUM(CAST(CAST(round(n_orders * 1e6) AS BIGINT) AS HUGEINT)) AS by
          FROM per GROUP BY 1),
        tot AS (SELECT CAST(SUM(nb) AS BIGINT) AS n,
            CAST(COUNT(*) AS BIGINT) AS n_buckets,
            SUM(bx) AS tx, SUM(by) AS ty FROM pb),
        th AS (SELECT b,
            CASE WHEN CAST(ty AS DOUBLE) - CAST(by AS DOUBLE) <> 0.0 THEN
              (CAST(tx AS DOUBLE) - CAST(bx AS DOUBLE))
                / (CAST(ty AS DOUBLE) - CAST(by AS DOUBLE)) END AS theta
          FROM pb, tot),
        bar AS (SELECT CAST(COUNT(theta) AS BIGINT) AS bcnt,
            CAST(SUM(CAST(round(theta * 1e6) AS BIGINT)) AS BIGINT) AS tsum
          FROM th),
        dev AS (SELECT CAST(SUM(CASE WHEN theta IS NOT NULL THEN
              CAST(round((theta - CAST(tsum AS DOUBLE)
                  / CAST(bcnt AS DOUBLE) / 1e6) *
                (theta - CAST(tsum AS DOUBLE)
                  / CAST(bcnt AS DOUBLE) / 1e6) * 1e12) AS BIGINT)
            END) AS BIGINT) AS d2sum,
            CAST(MAX(bcnt) AS BIGINT) AS bcnt
          FROM th, bar)
        SELECT n, n_buckets,
          CASE WHEN ty <> 0 THEN CAST(tx AS DOUBLE) / CAST(ty AS DOUBLE)
            END AS ratio,
          CASE WHEN bcnt >= 2 AND d2sum >= 0 THEN
            sqrt((CAST(bcnt AS DOUBLE) - 1.0)
              / CAST(bcnt AS DOUBLE)
              * CAST(d2sum AS DOUBLE) / 1e12) END AS se_jack
        FROM tot, dev""")),

    // Salt planner: q170 diagnoses the supplier-key skew, this emits
    // the per-key prescription (ceil(count/target) salts) q76's salted
    // join consumes — all integer.
    "q316_salt_planner" -> Q(
      (s, dir) => Skew.saltPlanner(t(s, dir, "lineitem"), "l_suppkey",
        targetPerKey = 500L, topK = 25),
      Some("""WITH counts AS (SELECT CAST(l_suppkey AS VARCHAR) AS key,
            CAST(COUNT(*) AS BIGINT) AS n_rows
          FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS t FROM counts)
        SELECT key, n_rows,
          CAST((n_rows * 1000000) // t AS BIGINT) AS share_micro,
          CAST((n_rows + 499) // 500 AS BIGINT) AS salts,
          n_rows > 500 AS is_hot
        FROM counts, tot ORDER BY n_rows DESC, key LIMIT 25""")),

    // IVF recall-vs-nProbe operating curve: the oracle checks the
    // structural contract — monotone recall in probe count and exact
    // recovery at full probing (q31b's identity); the raw recalls are
    // index-shaped.
    "q317_ivf_recall_curve" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfRecallCurve(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", k = 5, nlist = 16,
            probes = Seq(1, 2, 4, 8, 16))
          .select(col("nprobe"), col("n_queries"), col("pairs"),
            col("monotone_ok"), col("full_exact_ok"))
      },
      Some("""SELECT CAST(p AS BIGINT) AS nprobe,
          CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10)
            AS BIGINT) AS n_queries,
          CAST(5 * (SELECT COUNT(*) FROM embeddings WHERE vec_id < 10)
            AS BIGINT) AS pairs,
          true AS monotone_ok, true AS full_exact_ok
        FROM (VALUES (1), (2), (4), (8), (16)) v(p) ORDER BY 1""")),

    // Seasonal/trend strength — the two Hyndman FPP scalars that
    // summarize q268's decomposition table: variance-explained of the
    // seasonal and trend components over the exact-integer residuals.
    "q320_seasonal_strength" -> Q(
      (s, dir) => Temporal.seasonalStrength(t(s, dir, "events"),
        "ts", "value", 7),
      Some("""WITH obs AS (SELECT CAST(ts AS DATE) AS d,
            CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS s
          FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
          GROUP BY 1),
        mm AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM obs),
        grid AS (SELECT gs.d, COALESCE(o.s, 0) AS s,
            ((datediff('day', DATE '2024-01-01', gs.d) % 7) + 7) % 7 AS slot
          FROM (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
              AS DATE) AS d FROM mm) gs
          LEFT JOIN obs o ON o.d = gs.d),
        tr AS (SELECT d, s, slot,
            CASE WHEN COUNT(*) OVER w = 7
              THEN CAST(SUM(s) OVER w AS BIGINT) // 7 END AS trend_micro
          FROM grid
          WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        sr AS (SELECT slot,
            CAST(SUM(s - trend_micro) AS BIGINT) // COUNT(*) AS sea_raw
          FROM tr WHERE trend_micro IS NOT NULL GROUP BY 1),
        aj AS (SELECT CAST(SUM(sea_raw) AS BIGINT) // 7 AS sea_adj FROM sr),
        se AS (SELECT slot,
            sea_raw - (SELECT sea_adj FROM aj) AS seasonal_micro FROM sr),
        comp AS (SELECT
            s - trend_micro - seasonal_micro AS r,
            seasonal_micro + (s - trend_micro - seasonal_micro) AS srr,
            trend_micro + (s - trend_micro - seasonal_micro) AS trr
          FROM tr LEFT JOIN se USING (slot)
          WHERE trend_micro IS NOT NULL AND seasonal_micro IS NOT NULL),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(r AS HUGEINT)) AS s_r,
            SUM(CAST(r AS HUGEINT) * r) AS q_r,
            SUM(CAST(srr AS HUGEINT)) AS s_sr,
            SUM(CAST(srr AS HUGEINT) * srr) AS q_sr,
            SUM(CAST(trr AS HUGEINT)) AS s_tr,
            SUM(CAST(trr AS HUGEINT) * trr) AS q_tr
          FROM comp),
        vv AS (SELECT n,
            (CAST(n AS DOUBLE) * CAST(q_r AS DOUBLE)
              - CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e12 AS vr,
            (CAST(n AS DOUBLE) * CAST(q_sr AS DOUBLE)
              - CAST(s_sr AS DOUBLE) * CAST(s_sr AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e12 AS vsr,
            (CAST(n AS DOUBLE) * CAST(q_tr AS DOUBLE)
              - CAST(s_tr AS DOUBLE) * CAST(s_tr AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e12 AS vtr
          FROM m)
        SELECT n, vr AS var_resid, vsr AS var_sea_resid,
          vtr AS var_trend_resid,
          CASE WHEN n >= 2 AND vsr > 0
            THEN greatest(0.0, 1.0 - vr / vsr) END AS seasonal_strength,
          CASE WHEN n >= 2 AND vtr > 0
            THEN greatest(0.0, 1.0 - vr / vtr) END AS trend_strength
        FROM vv""")),

    // Holm-Bonferroni step-down on the same per-segment Welch p's as
    // q271 — FWER control beside BH's FDR; the step-down chain is a
    // running BIGINT max of p·(m−rank+1) against alpha.
    "q321_holm" -> Q(
      (s, dir) => Quality.holmBonferroni(t(s, dir, "events"), "event_type",
        "user_id", "value", "holm1"),
      Some(s"""WITH base AS (SELECT event_type AS seg,
            ${graft.functions.Hashing.h60Sql(
              "'holm1:' || CAST(user_id AS VARCHAR)")} % 2 = 0 AS a,
            CAST(round(value * 1e6) AS BIGINT) AS v
          FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
            AND value IS NOT NULL),
        g AS (SELECT seg,
            CAST(COUNT(*) FILTER (WHERE a) AS BIGINT) AS na,
            SUM(CASE WHEN a THEN CAST(v AS HUGEINT) ELSE 0 END) AS sa,
            SUM(CASE WHEN a THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qa,
            CAST(COUNT(*) FILTER (WHERE NOT a) AS BIGINT) AS nb,
            SUM(CASE WHEN NOT a THEN CAST(v AS HUGEINT) ELSE 0 END) AS sb,
            SUM(CASE WHEN NOT a THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qb
          FROM base GROUP BY 1),
        w1 AS (SELECT seg, na, nb,
            CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1e6 AS ma,
            CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6 AS mb,
            (CAST(na AS DOUBLE) * CAST(qa AS DOUBLE)
              - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
              / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE)) / 1e12 AS va,
            (CAST(nb AS DOUBLE) * CAST(qb AS DOUBLE)
              - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
              / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)) / 1e12 AS vb
          FROM g),
        w2 AS (SELECT seg, na, nb,
            CASE WHEN na > 0 AND nb > 0 AND
                SQRT(va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE)) > 0
              THEN (ma - mb)
                / SQRT(va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE))
            END AS z
          FROM w1),
        w3 AS (SELECT seg, na, nb, z,
            CASE WHEN z IS NOT NULL THEN CAST(round(
              2.0 * 0.3989422804014327 * EXP(-0.5 * abs(z) * abs(z))
              * (((((1.330274429 * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + -1.821255978) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + 1.781477937) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + -0.356563782) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + 0.319381530) * (1.0 / (1.0 + 0.2316419 * abs(z))))
              * 1e6) AS BIGINT) END AS p_micro
          FROM w2),
        mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM w3),
        rk AS (SELECT seg, na, nb, z, p_micro,
            CAST(row_number() OVER (ORDER BY p_micro ASC NULLS LAST, seg)
              AS BIGINT) AS rank
          FROM w3),
        cr AS (SELECT rk.*, CASE WHEN p_micro IS NOT NULL
            THEN p_micro * ((SELECT m FROM mm) - rank + 1)
            ELSE 9223372036854775807 END AS crit
          FROM rk)
        SELECT seg AS segment, na AS n_a, nb AS n_b, z, p_micro, rank,
          MAX(crit) OVER (ORDER BY rank
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 50000
            AS significant
        FROM cr ORDER BY rank""")),

    // Quantile treatment effects per decile between the hashed arms —
    // exact ceil-rank quantiles per arm via iterative histogram
    // selection (no global sort); the distributional readout mean
    // tests cannot give.
    "q318_qte" -> Q(
      (s, dir) => Quality.quantileTreatmentEffects(t(s, dir, "events"),
        "user_id", "value", "qte1"),
      Some(s"""WITH base AS (SELECT
            ${graft.functions.Hashing.h60Sql(
              "'qte1:' || CAST(user_id AS VARCHAR)")} % 2 = 0 AS a,
            CAST(round(value * 1e6) AS BIGINT) AS v
          FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        ra AS (SELECT v, row_number() OVER (ORDER BY v) AS rn
          FROM base WHERE a),
        rb AS (SELECT v, row_number() OVER (ORDER BY v) AS rn
          FROM base WHERE NOT a),
        na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base WHERE a),
        nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base WHERE NOT a),
        ks AS (SELECT CAST(k AS BIGINT) AS decile,
            greatest(1, (k * (SELECT n FROM na) + 9) // 10) AS ka,
            greatest(1, (k * (SELECT n FROM nb) + 9) // 10) AS kb
          FROM (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9)) t(k))
        SELECT decile, (SELECT n FROM na) AS n_a, (SELECT n FROM nb) AS n_b,
          CAST(ka AS BIGINT) AS rank_a, CAST(kb AS BIGINT) AS rank_b,
          a.v AS q_a_micro, b.v AS q_b_micro,
          CAST(a.v - b.v AS BIGINT) AS qte_micro
        FROM ks JOIN ra a ON a.rn = ks.ka JOIN rb b ON b.rn = ks.kb
        ORDER BY decile""")),

    // Mutual-information feature ranking of the four lineitem measures
    // against the return flag: fixed-width integer bins, the q163
    // integer-product-log MI per feature, MI-descending.
    "q319_mi_ranking" -> Q(
      (s, dir) => Quality.miFeatureRanking(t(s, dir, "lineitem"),
        col("l_returnflag") === "R",
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"), 4),
      Some {
        def per(f: String) = s"""base_$f AS (SELECT
              CAST(round($f * 1e6) AS BIGINT) AS v, l_returnflag = 'R' AS t
            FROM lineitem
            WHERE $f IS NOT NULL AND l_returnflag IS NOT NULL),
          bb_$f AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM base_$f),
          bn_$f AS (SELECT least(3, ((v - (SELECT mn FROM bb_$f)) * 4)
              // ((SELECT mx FROM bb_$f) - (SELECT mn FROM bb_$f) + 1)) AS a,
              t AS b
            FROM base_$f),
          nn_$f AS (SELECT COUNT(*) AS n FROM bn_$f),
          lnn_$f AS (SELECT CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
              AS v FROM nn_$f),
          j_$f AS (SELECT a, b, COUNT(*) AS nab FROM bn_$f GROUP BY 1, 2),
          ma_$f AS (SELECT a, COUNT(*) AS na FROM bn_$f GROUP BY 1),
          mb_$f AS (SELECT b, COUNT(*) AS nb FROM bn_$f GROUP BY 1),
          mi_$f AS (SELECT CAST(SUM(nab *
              ((CAST(round(ln(CAST(nab AS DOUBLE)) * 1e6) AS BIGINT)
                + (SELECT v FROM lnn_$f))
                - CAST(round(ln(CAST(na AS DOUBLE)) * 1e6) AS BIGINT)
                - CAST(round(ln(CAST(nb AS DOUBLE)) * 1e6) AS BIGINT)))
              AS BIGINT) AS mi_micro_sum
            FROM j_$f JOIN ma_$f USING (a) JOIN mb_$f USING (b)),
          ha_$f AS (SELECT CAST(SUM(na * ((SELECT v FROM lnn_$f)
                - CAST(round(ln(CAST(na AS DOUBLE)) * 1e6) AS BIGINT)))
              AS BIGINT) AS h_a FROM ma_$f),
          hb_$f AS (SELECT CAST(SUM(nb * ((SELECT v FROM lnn_$f)
                - CAST(round(ln(CAST(nb AS DOUBLE)) * 1e6) AS BIGINT)))
              AS BIGINT) AS h_b FROM mb_$f),
          sel_$f AS (SELECT '$f' AS feature,
              CAST((SELECT n FROM nn_$f) AS BIGINT) AS n, mi_micro_sum,
              CASE WHEN h_a > 0 AND h_b > 0 THEN
                CAST(mi_micro_sum AS DOUBLE)
                  / sqrt(CAST(h_a AS DOUBLE) * CAST(h_b AS DOUBLE))
              END AS nmi
            FROM mi_$f CROSS JOIN ha_$f CROSS JOIN hb_$f)"""
        val fs = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
        s"""WITH ${fs.map(per).mkString(",\n")}
          ${fs.map(f => s"SELECT * FROM sel_$f").mkString(" UNION ALL ")}
          ORDER BY mi_micro_sum DESC, feature"""
      }),

    // Persisted EMBEDDING-LSH index + incremental probe — the q250
    // pattern on the vector side (r9 verdict #7): even vec_ids are
    // indexed once (band relation bucketed by bucket, vec relation
    // bucketed by id), odd vec_ids probe with zero index-side
    // exchanges; exact-cosine confirm decides. Oracle replays banding
    // and confirm bit-for-bit, cross-parity.
    "q322_persisted_emb_lsh" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val idx = emb.filter(col("vec_id") % 2 === 0)
        val batch = emb.filter(col("vec_id") % 2 === 1)
        val (ib, iv) = Similarity.embLshIndexRelations(idx, "vec_id",
          "embedding", planesPerBand = 6, bands = 16, dim = 64)
        val sfx = dir.replaceAll("[^A-Za-z0-9]", "_") +
          s"_p${ProcessHandle.current().pid()}"
        val base = s"${sys.props("java.io.tmpdir")}/graft_emb_lsh"
        Warehouse.writeBucketed(s, ib, "graft_emb_lsh_bands",
          s"$base/bands_$sfx", "bucket", 16)
        Warehouse.writeBucketed(s, iv, "graft_emb_lsh_vecs",
          s"$base/vecs_$sfx", "id", 16)
        Similarity.embLshIndexProbe(s.table("graft_emb_lsh_bands"),
            s.table("graft_emb_lsh_vecs"), batch, "vec_id", "embedding",
            0.45, planesPerBand = 6, bands = 16, dim = 64)
          .orderBy("id_a", "id_b")
      },
      Some(embIndexProbeOracleSql(minCos = 0.45, planesPerBand = 6,
        bands = 16, dim = 64))),

    // Symmetric 10%-trimmed mean per event type — the robust location
    // estimate between mean and median, off exact per-group ranks on
    // the distinct-value grid (no global sort).
    "q323_trimmed_mean" -> Q(
      (s, dir) => Quality.trimmedMean(t(s, dir, "events"), "event_type",
        "value", 10),
      Some("""WITH grid AS (SELECT event_type AS g,
            CAST(round(value * 1e6) AS BIGINT) AS v,
            CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
          GROUP BY 1, 2),
        tot AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n FROM grid GROUP BY 1),
        rk AS (SELECT g, v, cnt, SUM(cnt) OVER (PARTITION BY g ORDER BY v
            ROWS UNBOUNDED PRECEDING) AS cum FROM grid),
        j AS (SELECT rk.g, v, cnt, cum, cum - cnt AS prev, n,
            (n * 10) // 100 AS t
          FROM rk JOIN tot ON rk.g = tot.g),
        k AS (SELECT g, n, t,
            greatest(0, least(cum, n - t) - greatest(prev, t)) AS keep,
            v, cnt FROM j)
        SELECT g AS event_type, CAST(MAX(n) AS BIGINT) AS n,
          CAST(MAX(t) AS BIGINT) AS n_trim_each,
          CAST(SUM(keep) AS BIGINT) AS n_kept,
          CASE WHEN SUM(keep) > 0 THEN
            CAST(SUM(CAST(v AS HUGEINT) * keep) AS DOUBLE)
              / CAST(SUM(keep) AS DOUBLE) / 1e6 END AS trimmed_mean,
          CASE WHEN MAX(n) > 0 THEN
            CAST(SUM(CAST(v AS HUGEINT) * cnt) AS DOUBLE)
              / CAST(MAX(n) AS DOUBLE) / 1e6 END AS raw_mean
        FROM k GROUP BY 1 ORDER BY 1""")),

    // Newey-West (HAC, Bartlett L=7) standard error of the daily-revenue
    // mean — the autocorrelation-honest error bar; exact DECIMAL lag
    // cross-products off one fan-out join, truncated-mean centering.
    "q324_newey_west" -> Q(
      (s, dir) => Temporal.neweyWestSe(t(s, dir, "orders"), "o_orderdate",
        "o_totalprice", 7),
      Some("""WITH obs AS (SELECT CAST(o_orderdate AS DATE) AS dy,
            CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT)
              AS y
          FROM orders
          WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
          GROUP BY 1),
        b AS (SELECT MIN(dy) AS lo, MAX(dy) AS hi FROM obs),
        grid AS MATERIALIZED (SELECT gs.dy, COALESCE(y, 0) AS y
          FROM (SELECT CAST(unnest(generate_series(lo, hi,
              INTERVAL 1 DAY)) AS DATE) AS dy FROM b) gs
          LEFT JOIN obs USING (dy)),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(y AS HUGEINT)) AS s FROM grid),
        c AS MATERIALIZED (SELECT dy,
            y - CAST(s // n AS BIGINT) AS dev FROM grid, tot),
        g0 AS (SELECT SUM(CAST(dev AS HUGEINT) * dev) AS num0 FROM c),
        ln_ AS (SELECT k, SUM(CAST(a.dev AS HUGEINT) * bb.dev) AS numl
          FROM range(1, 8) r(k) CROSS JOIN c a
          JOIN c bb ON bb.dy = a.dy + CAST(k AS INTEGER)
          GROUP BY k),
        w AS (SELECT COALESCE(SUM((8 - k) * numl), 0) AS numw FROM ln_),
        fin AS (SELECT n, s, num0, numw,
            CAST(num0 AS DOUBLE) / CAST(n AS DOUBLE) / 1e12 AS g0d,
            (CAST(num0 AS DOUBLE) + 2.0 * CAST(numw AS DOUBLE) / 8.0)
              / CAST(n AS DOUBLE) / 1e12 AS lrv
          FROM tot, g0, w)
        SELECT n AS n_days, CAST(7 AS BIGINT) AS max_lag,
          CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 AS mean,
          CASE WHEN n >= 2 AND g0d > 0 THEN sqrt(g0d / CAST(n AS DOUBLE))
            END AS se_naive,
          CASE WHEN n >= 2 AND lrv > 0 THEN sqrt(lrv / CAST(n AS DOUBLE))
            END AS se_nw,
          CASE WHEN n >= 2 AND g0d > 0 AND lrv > 0 THEN sqrt(lrv / g0d)
            END AS inflation
        FROM fin""")),

    // Wald-Wolfowitz runs test on the daily-revenue direction sequence —
    // momentum vs mean-reversion beside q293's Durbin-Watson; exact
    // integer run counts, A&S two-sided p.
    "q325_runs_test" -> Q(
      (s, dir) => Temporal.runsTest(t(s, dir, "orders"), "o_orderdate",
        "o_totalprice"),
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dy,
            CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT)
              AS y
          FROM orders
          WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
          GROUP BY 1),
        s1 AS (SELECT dy, y, lag(y) OVER (ORDER BY dy) AS prev FROM daily),
        sg AS (SELECT dy, CASE WHEN y > prev THEN 1 ELSE -1 END AS sgn
          FROM s1 WHERE prev IS NOT NULL AND y <> prev),
        r1 AS (SELECT sgn, lag(sgn) OVER (ORDER BY dy) AS prevSgn FROM sg),
        agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_signs,
            CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_pos,
            CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_neg,
            CAST(SUM(CASE WHEN prevSgn IS NULL OR sgn <> prevSgn
              THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
          FROM r1),
        fin AS (SELECT n_signs, n_pos, n_neg, n_runs,
            CAST(n_pos AS DOUBLE) AS n1, CAST(n_neg AS DOUBLE) AS n2,
            CAST(n_pos + n_neg AS DOUBLE) AS nt
          FROM agg),
        zz AS (SELECT *,
            2.0 * n1 * n2 / nt + 1.0 AS mu_r,
            2.0 * n1 * n2 * (2.0 * n1 * n2 - nt)
              / (nt * nt * (nt - 1.0)) AS var_r
          FROM fin),
        z2 AS (SELECT *,
            (CAST(n_runs AS DOUBLE) - mu_r) / sqrt(var_r) AS z,
            abs((CAST(n_runs AS DOUBLE) - mu_r) / sqrt(var_r)) AS az
          FROM zz),
        p1 AS (SELECT *,
            1.0 / (1.0 + 0.2316419 * az) AS kk FROM z2),
        p2 AS (SELECT *,
            0.3989422804014327 * EXP(-0.5 * az * az) *
            (((((1.330274429 * kk + -1.821255978) * kk + 1.781477937) * kk
              + -0.356563782) * kk + 0.319381530) * kk) AS tail
          FROM p1)
        SELECT n_signs, n_pos, n_neg, n_runs,
          CASE WHEN n_pos > 0 AND n_neg > 0 AND var_r > 0 THEN mu_r END
            AS mu_r,
          CASE WHEN n_pos > 0 AND n_neg > 0 AND var_r > 0 THEN z END AS z,
          CASE WHEN n_pos > 0 AND n_neg > 0 AND var_r > 0 THEN
            CAST(round(least(1.0, 2.0 * tail) * 1e6) AS BIGINT) END
            AS p_micro
        FROM p2""")),

    // Hash-replayable permutation test (B = 199 seeded sign-flips) for
    // the per-user value-mean difference between hashed arms — the
    // assumption-free p beside q134's Welch t; both engines generate THE
    // SAME replicate set, so the Monte-Carlo p is value-pinned.
    "q326_permutation_test" -> Q(
      (s, dir) => Quality.permutationTest(t(s, dir, "events"), "user_id",
        "value", "pt1", 199),
      Some {
        def arm(e: String) = s"${graft.functions.Hashing.h60Sql(e)} % 2 = 0"
        s"""WITH units AS (SELECT CAST(user_id AS VARCHAR) AS u,
            CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS x
          FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
          GROUP BY 1),
        obs AS (SELECT
            CAST(SUM(CASE WHEN ${arm("'pt1:' || u")} THEN 1 ELSE 0 END)
              AS BIGINT) AS na,
            CAST(SUM(CASE WHEN NOT (${arm("'pt1:' || u")}) THEN 1 ELSE 0
              END) AS BIGINT) AS nb,
            SUM(CASE WHEN ${arm("'pt1:' || u")} THEN CAST(x AS HUGEINT)
              END) AS sa,
            SUM(CASE WHEN NOT (${arm("'pt1:' || u")}) THEN
              CAST(x AS HUGEINT) END) AS sb
          FROM units),
        tobs AS (SELECT CASE WHEN na > 0 AND nb > 0 THEN
            CAST(round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
              - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) AS BIGINT) END
            AS t_obs_micro FROM obs),
        reps AS (SELECT b,
            CAST(SUM(CASE WHEN
              ${arm("'pt1:perm:' || CAST(b AS VARCHAR) || ':' || u")}
              THEN 1 ELSE 0 END) AS BIGINT) AS na,
            CAST(SUM(CASE WHEN NOT (
              ${arm("'pt1:perm:' || CAST(b AS VARCHAR) || ':' || u")})
              THEN 1 ELSE 0 END) AS BIGINT) AS nb,
            SUM(CASE WHEN
              ${arm("'pt1:perm:' || CAST(b AS VARCHAR) || ':' || u")}
              THEN CAST(x AS HUGEINT) END) AS sa,
            SUM(CASE WHEN NOT (
              ${arm("'pt1:perm:' || CAST(b AS VARCHAR) || ':' || u")})
              THEN CAST(x AS HUGEINT) END) AS sb
          FROM range(0, 199) r(b) CROSS JOIN units GROUP BY b),
        tb AS (SELECT b, CASE WHEN na > 0 AND nb > 0 THEN
            CAST(round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
              - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) AS BIGINT) END
            AS t_micro FROM reps),
        cnt AS (SELECT CAST(COALESCE(SUM(CASE WHEN abs(t_micro) >=
            abs(t_obs_micro) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_ge
          FROM tb, tobs),
        nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units FROM units)
        SELECT n_units, CAST(199 AS BIGINT) AS b_reps, t_obs_micro, n_ge,
          CAST(((1 + n_ge) * 1000000) // 200 AS BIGINT) AS p_micro,
          CAST(((1 + n_ge) * 1000000) // 200 AS BIGINT) <= 50000
            AS significant
        FROM nu, tobs, cnt"""
      }),

    // Cluster-cap sampling: keep at most 2 lowest-id docs per near-dup
    // COMPONENT (pairwise capping is not transitive); singletons always
    // survive. The training-mix dedup policy between survivor-only (q55)
    // and keep-everything.
    "q327_cluster_cap_sample" -> Q(
      (s, dir) => Sampling.clusterCapSample(
          t(s, dir, "documents").select("doc_id"), "doc_id",
          lshPairs(s, dir), "id_a", "id_b", 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE ${nearDupEdgesCte(0.8)},
        walk(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst),
        comp AS (SELECT id, MIN(lbl) AS component FROM walk GROUP BY id),
        alldocs AS (SELECT doc_id,
            COALESCE(component, doc_id) AS component
          FROM documents LEFT JOIN comp ON doc_id = comp.id),
        rk AS (SELECT doc_id, component,
            CAST(row_number() OVER (PARTITION BY component ORDER BY doc_id)
              AS BIGINT) AS rk
          FROM alldocs)
        SELECT doc_id, component, rk, rk <= 2 AS kept
        FROM rk ORDER BY doc_id""")),

    // Cluster-aware train/val split — the FIX for q262's leakage audit:
    // the near-dup COMPONENT is hashed, so dup clusters never straddle
    // the split boundary.
    "q328_cluster_split" -> Q(
      (s, dir) => Sampling.clusterAwareSplit(
          t(s, dir, "documents").select("doc_id"), "doc_id",
          lshPairs(s, dir), "id_a", "id_b", "cs1", 8000)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE ${nearDupEdgesCte(0.8)},
        walk(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst),
        comp AS (SELECT id, MIN(lbl) AS component FROM walk GROUP BY id),
        alldocs AS (SELECT doc_id,
            COALESCE(component, doc_id) AS component
          FROM documents LEFT JOIN comp ON doc_id = comp.id),
        bk AS (SELECT doc_id, component,
            ${graft.functions.Hashing.h60Sql(
              "'cs1:' || CAST(component AS VARCHAR)")} % 10000 AS bucket
          FROM alldocs)
        SELECT doc_id, component, bucket,
          CASE WHEN bucket < 8000 THEN 'train' ELSE 'val' END AS split
        FROM bk ORDER BY doc_id""")),

    // nDCG@10 of the 16-dim Matryoshka-truncated ranking against full-
    // 64-dim graded relevance — the graded retrieval metric MRR (q202,
    // binary) cannot give; grades are cosine buckets, the judgment pool
    // is the exact top-10.
    "q329_ndcg" -> Q(
      (s, dir) => {
        val emb = graft.CacheScope.register(t(s, dir, "embeddings"))
        val q16 = emb.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("embedding"))
        val ranked = Similarity.knnExactAgg(q16,
            q16.filter(col("vec_id") < 10), "vec_id", "embedding", 10)
          .select(col("query_id"), col("id"), col("cos").as("score"))
        val graded = Similarity.knnExactAgg(emb,
            emb.filter(col("vec_id") < 10), "vec_id", "embedding", 10)
          .select(col("query_id"), col("id"),
            greatest(lit(0L), least(lit(3L),
              floor((col("cos") - lit(0.25)) * lit(10.0)).cast("long")))
              .as("rel"))
        Similarity.ndcgAtK(ranked, graded, 10)
      },
      Some(s"""WITH ${cosTopKCte("trunc16", 16, 10)},
          ${cosTopKCte("full64", 64, 10)},
        sys AS (SELECT query_id, id, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, id) AS pos
          FROM trunc16),
        g AS (SELECT query_id, id,
            greatest(0, least(3, CAST(floor((cos - 0.25) * 10.0)
              AS BIGINT))) AS rel
          FROM full64),
        dcg AS (SELECT s.query_id, CAST(SUM(CAST(round(
              (pow(2.0, COALESCE(rel, 0)) - 1.0)
                / (ln(pos + 1.0) / ln(2.0)) * 1e6) AS BIGINT)) AS BIGINT)
              AS dcg_micro
          FROM sys s LEFT JOIN g
            ON s.query_id = g.query_id AND s.id = g.id
          GROUP BY 1),
        ideal AS (SELECT query_id, rel, row_number() OVER (
            PARTITION BY query_id ORDER BY rel DESC, id) AS pos FROM g),
        idcg AS (SELECT query_id, CAST(SUM(CAST(round(
              (pow(2.0, rel) - 1.0) / (ln(pos + 1.0) / ln(2.0)) * 1e6)
              AS BIGINT)) AS BIGINT) AS idcg_micro
          FROM ideal WHERE pos <= 10 GROUP BY 1)
        SELECT COALESCE(dcg.query_id, idcg.query_id) AS query_id,
          CAST(10 AS BIGINT) AS k,
          COALESCE(dcg_micro, 0) AS dcg_micro,
          COALESCE(idcg_micro, 0) AS idcg_micro,
          CASE WHEN COALESCE(idcg_micro, 0) > 0 THEN
            CAST(COALESCE(dcg_micro, 0) AS DOUBLE)
              / CAST(idcg_micro AS DOUBLE) END AS ndcg
        FROM dcg FULL OUTER JOIN idcg ON dcg.query_id = idcg.query_id
        ORDER BY query_id""")),

    // Rank-biased overlap (p = 0.9) between the 16-dim truncated and
    // full-dim top-10 rankings — the top-weighted "how different are
    // these two retrievers" companion to q329's quality readout.
    "q330_rbo" -> Q(
      (s, dir) => {
        val emb = graft.CacheScope.register(t(s, dir, "embeddings"))
        val q16 = emb.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("embedding"))
        def ranking(c: org.apache.spark.sql.DataFrame) =
          Similarity.knnExactAgg(c, c.filter(col("vec_id") < 10),
              "vec_id", "embedding", 10)
            .select(col("query_id"), col("id"), col("cos").as("score"))
        Similarity.rboAtK(ranking(q16), ranking(emb), 10, 900000L)
      },
      Some {
        // print the Scala-computed constants so both engines use the
        // SAME IEEE doubles (1.0 - 0.9 is NOT 0.1 in binary64)
        val p = 900000L.toDouble / 1e6
        val oneMinusP = 1.0 - p
        s"""WITH ${cosTopKCte("trunc16", 16, 10)},
          ${cosTopKCte("full64", 64, 10)},
        ra AS (SELECT query_id, id, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, id) AS ra
          FROM trunc16),
        rb AS (SELECT query_id, id, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, id) AS rb
          FROM full64),
        pr AS (SELECT ra.query_id, greatest(ra.ra, rb.rb) AS rmax
          FROM ra JOIN rb ON ra.query_id = rb.query_id AND ra.id = rb.id),
        t AS (SELECT query_id, d, CAST(COUNT(*) AS BIGINT) AS overlap
          FROM pr CROSS JOIN range(1, 11) r(d) WHERE rmax <= d
          GROUP BY 1, 2),
        tm AS (SELECT query_id,
            CAST(SUM(CAST(round($oneMinusP * pow($p, d - 1.0)
              * overlap / d * 1e6) AS BIGINT)) AS BIGINT) AS rbo_micro,
            CAST(MAX(CASE WHEN d = 10 THEN overlap END) AS BIGINT)
              AS n_overlap
          FROM t GROUP BY 1),
        qs AS (SELECT DISTINCT vec_id AS query_id FROM embeddings
          WHERE vec_id < 10)
        SELECT query_id, CAST(10 AS BIGINT) AS k,
          COALESCE(n_overlap, 0) AS n_overlap,
          COALESCE(rbo_micro, 0) AS rbo_micro
        FROM qs LEFT JOIN tm USING (query_id) ORDER BY query_id"""
      }),

    // Fleiss' kappa over three heuristic quality raters per document —
    // multi-rater chance-corrected agreement (q167's Cohen kappa is
    // two-rater only); raters are deterministic qualityFeatures
    // thresholds, so the panel replays in SQL.
    "q331_fleiss_kappa" -> Q(
      (s, dir) => {
        val f = TextOps.qualityFeatures(t(s, dir, "documents"),
          "doc_id", "text")
        val votes = f.select(col("doc_id"), explode(array(
          (coalesce(col("n_tokens"), lit(0)) >= 50).cast("string"),
          (coalesce(col("stopword_ratio_micro"), lit(0L)) >= 250000L)
            .cast("string"),
          (coalesce(col("punct_ratio_micro"), lit(0L)) <= 60000L)
            .cast("string"))).as("vote"))
        Quality.fleissKappa(votes, "doc_id", "vote")
      },
      Some(s"""WITH ${qualityMicroSql("doc_id")},
        votes AS (
          SELECT doc_id, CAST(COALESCE(n_tokens, 0) >= 50 AS VARCHAR)
            AS vote FROM __qm
          UNION ALL SELECT doc_id,
            CAST(COALESCE(stopword_ratio_micro, 0) >= 250000 AS VARCHAR)
            FROM __qm
          UNION ALL SELECT doc_id,
            CAST(COALESCE(punct_ratio_micro, 0) <= 60000 AS VARCHAR)
            FROM __qm),
        cells AS (SELECT doc_id AS s, vote AS c,
            CAST(COUNT(*) AS BIGINT) AS nic
          FROM votes GROUP BY 1, 2),
        per AS (SELECT s, CAST(SUM(nic) AS BIGINT) AS m,
            SUM(CAST(nic AS HUGEINT) * (nic - 1)) AS agree
          FROM cells GROUP BY 1),
        subj AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects,
            CAST(MIN(m) AS BIGINT) AS m_min,
            CAST(MAX(m) AS BIGINT) AS m_max,
            SUM(agree) AS agree_sum
          FROM per),
        ct AS (SELECT SUM(CAST(tc AS HUGEINT) * tc) AS tc2_sum FROM (
          SELECT c, CAST(SUM(nic) AS BIGINT) AS tc FROM cells GROUP BY 1)),
        fin AS (SELECT n_subjects, m_max AS m_raters,
            m_min = m_max AS balanced,
            CASE WHEN m_min = m_max AND m_max >= 2 THEN
              CAST(agree_sum AS DOUBLE) / (CAST(n_subjects AS DOUBLE)
                * CAST(m_max AS DOUBLE) * (CAST(m_max AS DOUBLE) - 1.0))
              END AS p_bar,
            CASE WHEN m_min = m_max AND m_max >= 2 THEN
              CAST(tc2_sum AS DOUBLE)
                / ((CAST(n_subjects AS DOUBLE) * CAST(m_max AS DOUBLE))
                  * (CAST(n_subjects AS DOUBLE) * CAST(m_max AS DOUBLE)))
              END AS p_e
          FROM subj, ct)
        SELECT n_subjects, m_raters, p_bar, p_e,
          CASE WHEN p_e IS NOT NULL AND p_e < 1.0
            THEN (p_bar - p_e) / (1.0 - p_e) END AS kappa,
          balanced
        FROM fin""")),

    // KMV (k-minimum-values) distinct sketch per event type, k = 32 —
    // the distinct estimator whose VALUE replays in the oracle (HLL's
    // registers are engine-private; q46/q231 can only bound): bottom-k
    // of seeded h60 hashes, Bar-Yossef (k-1)*2^60 div h_(k).
    "q332_kmv_distinct" -> Q(
      (s, dir) => Sketches.kmvDistinct(t(s, dir, "events"), "event_type",
        "user_id", 32, "kmv1"),
      Some(s"""WITH h AS (SELECT DISTINCT event_type AS g,
            ${graft.functions.Hashing.h60Sql(
              "'kmv1:' || CAST(user_id AS VARCHAR)")} AS h
          FROM events
          WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        ex AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS exact_distinct
          FROM h GROUP BY 1),
        kth AS (SELECT g, h AS kth_h FROM (
            SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h)
              AS rk FROM h) WHERE rk = 32),
        est AS (SELECT ex.g, kth_h, exact_distinct,
            CASE WHEN kth_h IS NOT NULL THEN
              CAST((31 * CAST(1152921504606846976 AS HUGEINT)) // kth_h
                AS BIGINT) END AS est_distinct
          FROM ex LEFT JOIN kth USING (g))
        SELECT g AS event_type, CAST(32 AS BIGINT) AS k, kth_h,
          est_distinct, exact_distinct,
          CASE WHEN est_distinct IS NOT NULL AND exact_distinct > 0 THEN
            CAST((abs(est_distinct - exact_distinct) * 1000000)
              // exact_distinct AS BIGINT) END AS rel_err_micro
        FROM est ORDER BY event_type""")),

    // Good-Turing frequency-of-frequencies over the document corpus —
    // Turing-adjusted counts r* and the unseen-type mass share (the r=1
    // row), the classical smoothing/coverage audit.
    "q333_good_turing" -> Q(
      (s, dir) => TextOps.goodTuring(t(s, dir, "documents"), "doc_id",
        "text", 10),
      Some("""WITH toks AS (SELECT unnest(string_split_regex(
            lower(trim(text)), '\s+')) AS tok FROM documents),
        tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS r FROM toks
          WHERE tok <> '' GROUP BY 1),
        nr AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM tc
          GROUP BY 1),
        tot AS (SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_tokens FROM nr),
        spine AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS r)
        SELECT spine.r, COALESCE(a.n_r, 0) AS n_r,
          COALESCE(b.n_r, 0) AS n_r_next,
          CASE WHEN a.n_r > 0 AND b.n_r > 0 THEN
            ((spine.r + 1) * b.n_r * 1000000) // a.n_r END AS r_star_micro,
          CASE WHEN a.n_r > 0 AND n_tokens > 0 THEN
            (spine.r * a.n_r * 1000000) // n_tokens END AS mass_share_micro
        FROM spine LEFT JOIN nr a ON a.r = spine.r
        LEFT JOIN nr b ON b.r = spine.r + 1, tot
        ORDER BY spine.r""")),

    // Segmented (interrupted-time-series) regression at the known
    // 1998-01-01 cut (mid-range of the orders calendar): pre/post OLS
    // on daily revenue, level jump and slope bend at the cut — q299
    // FINDS a break, this QUANTIFIES a given one.
    "q334_segmented_regression" -> Q(
      (s, dir) => Temporal.segmentedRegression(t(s, dir, "orders"),
        "o_orderdate", "o_totalprice", "1998-01-01"),
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dy,
            CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT)
              AS y
          FROM orders
          WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
          GROUP BY 1),
        xy AS (SELECT CAST(dy - DATE '1998-01-01' AS BIGINT) AS x, y
          FROM daily),
        m AS (SELECT x >= 0 AS post, CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
            SUM(CAST(x AS HUGEINT) * x) AS sxx,
            SUM(CAST(x AS HUGEINT) * y) AS sxy
          FROM xy GROUP BY 1),
        f AS (SELECT post, n,
            CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
            CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
            CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
          FROM m),
        ff AS (SELECT post, n,
            CASE WHEN n >= 2 AND varx <> 0.0
              THEN (cov / varx) / 1e6 END AS slope,
            CASE WHEN n >= 2 AND varx <> 0.0
              THEN ((syd - (cov / varx) * sxd) / CAST(n AS DOUBLE)) / 1e6
              END AS lvl
          FROM f),
        a AS (SELECT n AS n_pre, slope AS slope_pre,
            lvl AS level_pre_at_cut FROM ff WHERE NOT post),
        b AS (SELECT n AS n_post, slope AS slope_post,
            lvl AS level_post_at_cut FROM ff WHERE post)
        SELECT n_pre, n_post, slope_pre, slope_post,
          level_pre_at_cut, level_post_at_cut,
          level_post_at_cut - level_pre_at_cut AS level_change,
          slope_post - slope_pre AS slope_change
        FROM a, b""")),

    // Krippendorff's alpha over each user's event-value classes —
    // chance-corrected intra-unit agreement that accepts UNBALANCED
    // panels (users have different event counts; q331's Fleiss cannot).
    "q335_krippendorff_alpha" -> Q(
      (s, dir) => Quality.krippendorffAlpha(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .select(col("user_id"),
            (col("value") >= 1.0).cast("string").as("cat")),
        "user_id", "cat"),
      Some("""WITH votes AS (SELECT user_id AS s,
            CAST(value >= 1.0 AS VARCHAR) AS c
          FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        cells AS (SELECT s, c, CAST(COUNT(*) AS BIGINT) AS nuc
          FROM votes GROUP BY 1, 2),
        mu AS (SELECT s, CAST(SUM(nuc) AS BIGINT) AS mu
          FROM cells GROUP BY 1),
        wm AS (SELECT cells.s, c, nuc, mu
          FROM cells JOIN mu USING (s) WHERE mu >= 2),
        do_ AS (SELECT CAST(SUM(CAST(round(CAST(nuc AS DOUBLE)
              * (CAST(mu AS DOUBLE) - CAST(nuc AS DOUBLE))
              / (CAST(mu AS DOUBLE) - 1.0) * 1e6) AS BIGINT)) AS BIGINT)
              AS d_o_micro,
            CAST(COUNT(DISTINCT s) AS BIGINT) AS n_units,
            CAST(SUM(nuc) AS BIGINT) AS n_values
          FROM wm),
        mg AS (SELECT c, CAST(SUM(nuc) AS BIGINT) AS nc
          FROM wm GROUP BY 1),
        nn AS (SELECT CAST(SUM(nc) AS BIGINT) AS n FROM mg),
        de AS (SELECT CAST(SUM(CAST(nc AS HUGEINT) * (n - nc)) AS BIGINT)
            AS d_e FROM mg, nn)
        SELECT n_units, n_values, d_o_micro, d_e,
          CASE WHEN d_e > 0 AND n_values >= 2 THEN
            1.0 - (CAST(n_values AS DOUBLE) - 1.0)
              * CAST(d_o_micro AS DOUBLE) / 1e6 / CAST(d_e AS DOUBLE)
            END AS alpha
        FROM do_, de""")),

    // Cliff's delta between the two document sources' length
    // distributions — the ordinal effect size q234's U test lacks a
    // magnitude for; derived exactly from the same rank integers.
    "q336_cliffs_delta" -> Q(
      (s, dir) => Quality.cliffsDelta(t(s, dir, "documents"),
        "source", "n_chars", "src0", "src1"),
      Some("""WITH base AS (SELECT source AS g, n_chars AS v FROM documents
            WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL),
          grid AS (SELECT v,
            COUNT(*) FILTER (WHERE g = 'src0') AS na,
            COUNT(*) FILTER (WHERE g = 'src1') AS nb
            FROM base GROUP BY v),
          cum AS (SELECT v, na, nb,
            SUM(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) - nb AS blt
            FROM grid),
          agg AS (SELECT CAST(SUM(na) AS BIGINT) AS n_a,
            CAST(SUM(nb) AS BIGINT) AS n_b,
            CAST(SUM(na * (blt * 2 + nb)) AS BIGINT) AS u2_a
            FROM cum),
          fin AS (SELECT n_a, n_b, u2_a,
            CASE WHEN n_a > 0 AND n_b > 0 THEN
              (CAST(u2_a AS DOUBLE)
                - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
              / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) END AS delta
            FROM agg)
        SELECT 'src0' AS group_a, 'src1' AS group_b, n_a, n_b, u2_a,
          delta,
          CASE WHEN delta IS NULL THEN NULL
            WHEN abs(delta) < 0.147 THEN 'negligible'
            WHEN abs(delta) < 0.33 THEN 'small'
            WHEN abs(delta) < 0.474 THEN 'medium'
            ELSE 'large' END AS magnitude
        FROM fin""")),

    // Restricted mean survival time at tau = 14 days over q179's
    // view-to-purchase subjects — the area under the KM curve, the
    // one-number survival summary (median survival may not exist).
    "q337_rmst" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("v0"))
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("pt"))
        val firstBuy = views.join(buys, Seq("user_id"), "left")
          .groupBy("user_id", "v0")
          .agg(min(when(col("pt") >= col("v0"), col("pt"))).as("p1"))
        val mx = ev.agg(max(col("ts")).as("m"))
        val subjects = firstBuy.crossJoin(broadcast(mx))
          .select(
            when(col("p1").isNotNull,
              datediff(col("p1").cast("date"), col("v0").cast("date")))
              .otherwise(
                datediff(col("m").cast("date"), col("v0").cast("date")))
              .as("dur"),
            col("p1").isNotNull.as("ev"))
        Temporal.rmst(subjects, "dur", "ev", tau = 14L)
      },
      Some("""WITH v AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS v0
              FROM events WHERE event_type = 'view' GROUP BY 1),
        b AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pt FROM events
              WHERE event_type = 'purchase'),
        s0 AS (SELECT v.user_id, v.v0,
            MIN(CASE WHEN b.pt >= v.v0 THEN b.pt END) AS p1
          FROM v LEFT JOIN b ON b.user_id = v.user_id GROUP BY 1, 2),
        mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS m FROM events),
        subj AS (SELECT CASE WHEN p1 IS NOT NULL
              THEN date_diff('day', CAST(v0 AS DATE), CAST(p1 AS DATE))
              ELSE date_diff('day', CAST(v0 AS DATE),
                CAST((SELECT m FROM mx) AS DATE)) END AS t,
            p1 IS NOT NULL AS e FROM s0),
        grid AS (SELECT t, SUM(CASE WHEN e THEN 1 ELSE 0 END) AS d_event,
            SUM(CASE WHEN e THEN 0 ELSE 1 END) AS d_censored
          FROM subj GROUP BY 1),
        tot AS (SELECT SUM(d_event + d_censored) AS n FROM grid),
        risked AS (SELECT t, d_event,
            (SELECT n FROM tot) - COALESCE(SUM(d_event + d_censored)
              OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) AS n_risk
          FROM grid),
        terms AS (SELECT t,
            CASE WHEN d_event > 0 THEN
              CASE WHEN n_risk - d_event > 0 THEN
                CAST(round(ln(n_risk - d_event) * 1e6) AS BIGINT)
                  - CAST(round(ln(n_risk) * 1e6) AS BIGINT)
              ELSE -1000000000000 END
            ELSE 0 END AS term FROM risked),
        km AS (SELECT CAST(t AS BIGINT) AS t,
            CAST(SUM(term) OVER (ORDER BY t) AS BIGINT) AS ls FROM terms),
        seg AS (SELECT t,
            COALESCE(lead(t) OVER (ORDER BY t), 14) AS next_t,
            CAST(round(EXP(CAST(ls AS DOUBLE) / 1e6) * 1e6) AS BIGINT)
              AS s_micro
          FROM km),
        tl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_intervals,
            CAST(COALESCE(SUM(s_micro * greatest(0,
              least(next_t, 14) - least(t, 14))), 0) AS BIGINT)
              AS tail_micro
          FROM seg),
        hd AS (SELECT least(COALESCE(MIN(t), 14), 14) * 1000000
            AS head_micro FROM km)
        SELECT CAST(14 AS BIGINT) AS tau, n_intervals,
          CAST(head_micro + tail_micro AS BIGINT) AS rmst_micro_days,
          CAST(CAST(head_micro + tail_micro AS BIGINT) AS DOUBLE) / 1e6
            AS rmst_days
        FROM tl, hd""")),

    // Gries' DP dispersion of the 25 most frequent tokens across the
    // document sources — "spread or clumped", the mixture-audit signal
    // raw frequency cannot see.
    "q338_token_dispersion" -> Q(
      (s, dir) => TextOps.tokenDispersion(t(s, dir, "documents"),
        "source", "text", 25),
      Some("""WITH toks AS (SELECT source AS part, unnest(
            string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents WHERE source IS NOT NULL),
        cells AS (SELECT part, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks WHERE tok <> '' GROUP BY 1, 2),
        pt AS (SELECT part, CAST(SUM(c) AS BIGINT) AS pc
          FROM cells GROUP BY 1),
        corpus AS (SELECT CAST(SUM(pc) AS BIGINT) AS n,
            CAST(COUNT(*) AS BIGINT) AS n_parts FROM pt),
        tt AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS tc
          FROM cells GROUP BY 1),
        top AS (SELECT tok, tc FROM tt ORDER BY tc DESC, tok LIMIT 25),
        grid AS (SELECT top.tok, top.tc, corpus.n_parts,
            abs((COALESCE(cells.c, 0) * 1000000) // top.tc
              - (pt.pc * 1000000) // corpus.n) AS absdiff
          FROM top CROSS JOIN pt CROSS JOIN corpus
          LEFT JOIN cells ON cells.tok = top.tok AND cells.part = pt.part)
        SELECT tok AS token, CAST(MAX(tc) AS BIGINT) AS n_total,
          CAST(MAX(n_parts) AS BIGINT) AS n_parts,
          CAST(SUM(absdiff) // 2 AS BIGINT) AS dp_micro
        FROM grid GROUP BY 1 ORDER BY n_total DESC, token""")),

    // 2x2 odds ratio + Woolf CI + Yule's Q of per-user conversion by
    // hashed arm — the RELATIVE effect beside q310's absolute
    // two-proportion difference; Haldane-corrected on zero cells.
    "q339_odds_ratio" -> Q(
      (s, dir) => {
        val per = t(s, dir, "events")
          .filter(col("user_id").isNotNull)
          .groupBy("user_id")
          .agg((max(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)) === 1L).as("conv"))
          .select(
            (pmod(graft.functions.Hashing.h60(
              concat(lit("or1:"), col("user_id").cast("string"))),
              lit(2L)) === 0).as("exposed"),
            col("conv"))
        Quality.oddsRatio2x2(per, col("exposed"), col("conv"))
      },
      Some(s"""WITH per AS (SELECT user_id,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
              AS conv
          FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        tagged AS (SELECT ${graft.functions.Hashing.h60Sql(
            "'or1:' || CAST(user_id AS VARCHAR)")} % 2 = 0 AS exp_, conv
          FROM per),
        cells AS (SELECT
            CAST(SUM(CASE WHEN exp_ AND conv THEN 1 ELSE 0 END) AS BIGINT)
              AS a,
            CAST(SUM(CASE WHEN exp_ AND NOT conv THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
            CAST(SUM(CASE WHEN NOT exp_ AND conv THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
            CAST(SUM(CASE WHEN NOT exp_ AND NOT conv THEN 1 ELSE 0 END)
              AS BIGINT) AS d
          FROM tagged),
        adj AS (SELECT a, b, c, d,
            a = 0 OR b = 0 OR c = 0 OR d = 0 AS corr,
            CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
              THEN CAST(a AS DOUBLE) + 0.5 ELSE CAST(a AS DOUBLE) END AS aa,
            CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
              THEN CAST(b AS DOUBLE) + 0.5 ELSE CAST(b AS DOUBLE) END AS ab,
            CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
              THEN CAST(c AS DOUBLE) + 0.5 ELSE CAST(c AS DOUBLE) END AS ac,
            CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
              THEN CAST(d AS DOUBLE) + 0.5 ELSE CAST(d AS DOUBLE) END AS ad2
          FROM cells),
        fin AS (SELECT a, b, c, d, corr,
            aa * ad2 / (ab * ac) AS orr,
            sqrt(1.0 / aa + 1.0 / ab + 1.0 / ac + 1.0 / ad2) AS se,
            ln(aa * ad2 / (ab * ac)) AS lor,
            CAST(a AS DOUBLE) * CAST(d AS DOUBLE) AS adbc,
            CAST(b AS DOUBLE) * CAST(c AS DOUBLE) AS bcad
          FROM adj)
        SELECT a + b + c + d AS n, a AS n_exposed_outcome,
          b AS n_exposed_no, c AS n_unexposed_outcome,
          d AS n_unexposed_no, orr AS odds_ratio, lor AS log_or,
          se AS se_log_or,
          EXP(lor - 1.959964 * se) AS ci_lo,
          EXP(lor + 1.959964 * se) AS ci_hi,
          CASE WHEN adbc + bcad > 0 THEN (adbc - bcad) / (adbc + bcad)
            END AS yules_q,
          corr AS corrected
        FROM fin""")),

    // Storey's pi0 over the SAME per-segment Welch p's as q271/q321 —
    // the estimated true-null fraction the FDR/FWER corrections leave
    // implicit (lambda = 0.5).
    "q340_storey_pi0" -> Q(
      (s, dir) => Quality.storeyPi0(t(s, dir, "events"), "event_type",
        "user_id", "value", "bh1", 500000L),
      Some(s"""WITH base AS (SELECT event_type AS seg,
            ${graft.functions.Hashing.h60Sql(
              "'bh1:' || CAST(user_id AS VARCHAR)")} % 2 = 0 AS a,
            CAST(round(value * 1e6) AS BIGINT) AS v
          FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
            AND value IS NOT NULL),
        g AS (SELECT seg,
            CAST(COUNT(*) FILTER (WHERE a) AS BIGINT) AS na,
            SUM(CASE WHEN a THEN CAST(v AS HUGEINT) ELSE 0 END) AS sa,
            SUM(CASE WHEN a THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qa,
            CAST(COUNT(*) FILTER (WHERE NOT a) AS BIGINT) AS nb,
            SUM(CASE WHEN NOT a THEN CAST(v AS HUGEINT) ELSE 0 END) AS sb,
            SUM(CASE WHEN NOT a THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qb
          FROM base GROUP BY 1),
        w1 AS (SELECT seg, na, nb,
            CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1e6 AS ma,
            CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6 AS mb,
            (CAST(na AS DOUBLE) * CAST(qa AS DOUBLE)
              - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
              / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE)) / 1e12 AS va,
            (CAST(nb AS DOUBLE) * CAST(qb AS DOUBLE)
              - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
              / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)) / 1e12 AS vb
          FROM g),
        w2 AS (SELECT seg,
            CASE WHEN na > 0 AND nb > 0 AND
                SQRT(va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE)) > 0
              THEN (ma - mb)
                / SQRT(va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE))
            END AS z
          FROM w1),
        w3 AS (SELECT seg,
            CASE WHEN z IS NOT NULL THEN CAST(round(
              2.0 * 0.3989422804014327 * EXP(-0.5 * abs(z) * abs(z))
              * (((((1.330274429 * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + -1.821255978) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + 1.781477937) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + -0.356563782) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + 0.319381530) * (1.0 / (1.0 + 0.2316419 * abs(z))))
              * 1e6) AS BIGINT) END AS p_micro
          FROM w2),
        mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
            CAST(SUM(CASE WHEN p_micro > 500000 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_above
          FROM w3)
        SELECT m, CAST(500000 AS BIGINT) AS lambda_micro,
          n_above AS n_above_lambda,
          CASE WHEN m > 0 THEN CAST(least(1000000,
            (n_above * 1000000000000) // ((1000000 - 500000) * m))
            AS BIGINT) END AS pi0_micro,
          CASE WHEN m > 0 THEN CAST((least(1000000,
            (n_above * 1000000000000) // ((1000000 - 500000) * m)) * m)
            // 1000000 AS BIGINT) END AS est_true_nulls
        FROM mm""")),

    // Hurst exponent (rescaled-range) of daily revenue — long-memory
    // beside q295's fixed-lag whiteness and q325's runs test; dyadic
    // block R/S, all regression moments integer.
    "q341_hurst" -> Q(
      (s, dir) => Temporal.hurstRs(t(s, dir, "orders"), "o_orderdate",
        "o_totalprice"),
      Some("""WITH obs AS (SELECT CAST(o_orderdate AS DATE) AS dy,
            CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT)
              AS y
          FROM orders
          WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
          GROUP BY 1),
        b AS (SELECT MIN(dy) AS lo, MAX(dy) AS hi FROM obs),
        grid AS MATERIALIZED (SELECT
            CAST(gs.dy - (SELECT lo FROM b) AS BIGINT) AS x,
            COALESCE(y, 0) AS y
          FROM (SELECT CAST(unnest(generate_series(lo, hi,
              INTERVAL 1 DAY)) AS DATE) AS dy FROM b) gs
          LEFT JOIN obs USING (dy)),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM grid),
        fan AS MATERIALIZED (SELECT m, x, y, x // m AS blk
          FROM grid CROSS JOIN (VALUES (CAST(8 AS BIGINT)), (16), (32),
            (64)) w(m), tot
          WHERE (x // m + 1) * m <= n),
        wc AS (SELECT m, blk, y,
            SUM(y) OVER (PARTITION BY m, blk ORDER BY x
              ROWS UNBOUNDED PRECEDING) AS cum,
            CAST(row_number() OVER (PARTITION BY m, blk ORDER BY x)
              AS BIGINT) AS pos
          FROM fan),
        a1 AS (SELECT m, blk, SUM(CAST(y AS HUGEINT)) AS s,
            SUM(CAST(y AS HUGEINT) * y) AS q
          FROM fan GROUP BY 1, 2),
        dv AS (SELECT wc.m, wc.blk,
            CAST(cum AS DOUBLE) - CAST(pos AS DOUBLE)
              * (CAST(s AS DOUBLE) / CAST(wc.m AS DOUBLE)) AS dev,
            sqrt(greatest(0.0, CAST(q AS DOUBLE) / CAST(wc.m AS DOUBLE)
              - (CAST(s AS DOUBLE) / CAST(wc.m AS DOUBLE))
                * (CAST(s AS DOUBLE) / CAST(wc.m AS DOUBLE)))) AS sd0
          FROM wc JOIN a1 ON wc.m = a1.m AND wc.blk = a1.blk),
        bs AS (SELECT m, blk, MAX(dev) - MIN(dev) AS r, MAX(sd0) AS sd
          FROM dv GROUP BY 1, 2),
        pw AS (SELECT m,
            CAST(COUNT(CASE WHEN sd > 0 THEN 1 END) AS BIGINT) AS nb,
            CAST(SUM(CASE WHEN sd > 0 THEN CAST(round(
              ln(r / sd) / ln(2.0) * 1e6) AS BIGINT) END) AS BIGINT)
              AS lrs_sum
          FROM bs GROUP BY 1),
        pts AS (SELECT CASE m WHEN 8 THEN 3 WHEN 16 THEN 4 WHEN 32 THEN 5
              WHEN 64 THEN 6 END AS lx,
            lrs_sum // nb AS ly_micro
          FROM pw WHERE nb > 0),
        reg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
            CAST(SUM(lx) AS BIGINT) AS sx,
            CAST(SUM(ly_micro) AS BIGINT) AS sy,
            CAST(SUM(lx * lx) AS BIGINT) AS sxx,
            CAST(SUM(lx * ly_micro) AS BIGINT) AS sxy
          FROM pts),
        fin AS (SELECT k, sx, sy, sxx, sxy,
            CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
            CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov
          FROM reg)
        SELECT n AS n_days, k AS n_windows,
          CASE WHEN k >= 2 AND varx <> 0.0
            THEN (cov / varx) / 1e6 END AS hurst,
          CASE WHEN k >= 2 AND varx <> 0.0
            THEN (CAST(sy AS DOUBLE) - (cov / varx)
              * CAST(sx AS DOUBLE)) / CAST(k AS DOUBLE) / 1e6
            END AS intercept_log2
        FROM fin, tot""")),

    // Customer top-25 revenue rank drift 1996 vs 1997 via rank-biased
    // overlap — q330's rboAtK reused on a business ranking: how much
    // did the head of the customer list turn over year-over-year?
    "q342_rank_drift" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .filter(col("o_custkey").isNotNull &&
            col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
        def yearRank(y: Int) = o
          .filter(year(col("o_orderdate")) === y)
          .groupBy(col("o_custkey"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long"))
            .cast("long").as("cents"))
          .select(lit(1L).as("query_id"), col("o_custkey").as("id"),
            col("cents").cast("double").as("score"))
        Similarity.rboAtK(yearRank(1996), yearRank(1997), 25, 900000L)
      },
      Some {
        val p = 900000L.toDouble / 1e6
        val oneMinusP = 1.0 - p
        s"""WITH per AS (SELECT CAST(EXTRACT(year FROM o_orderdate)
              AS INTEGER) AS yr, o_custkey,
            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS cents
          FROM orders
          WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
            AND o_totalprice IS NOT NULL
          GROUP BY 1, 2),
        ra AS (SELECT o_custkey AS id, row_number() OVER (
            ORDER BY CAST(cents AS DOUBLE) DESC, o_custkey) AS ra
          FROM per WHERE yr = 1996 QUALIFY ra <= 25),
        rb AS (SELECT o_custkey AS id, row_number() OVER (
            ORDER BY CAST(cents AS DOUBLE) DESC, o_custkey) AS rb
          FROM per WHERE yr = 1997 QUALIFY rb <= 25),
        pr AS (SELECT greatest(ra.ra, rb.rb) AS rmax
          FROM ra JOIN rb USING (id)),
        t AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS overlap
          FROM pr CROSS JOIN range(1, 26) r(d) WHERE rmax <= d GROUP BY 1),
        tm AS (SELECT
            CAST(SUM(CAST(round($oneMinusP * pow($p, d - 1.0)
              * overlap / d * 1e6) AS BIGINT)) AS BIGINT) AS rbo_micro,
            CAST(MAX(CASE WHEN d = 25 THEN overlap END) AS BIGINT)
              AS n_overlap
          FROM t)
        SELECT CAST(1 AS BIGINT) AS query_id, CAST(25 AS BIGINT) AS k,
          COALESCE(n_overlap, 0) AS n_overlap,
          COALESCE(rbo_micro, 0) AS rbo_micro
        FROM tm"""
      }),

    // Growth accounting: the 1996-vs-1997 revenue waterfall by customer
    // lifecycle — new/expansion/contraction/churned contributions whose
    // cent-exact sum IS the year-over-year revenue delta.
    "q274_growth_accounting" -> Q(
      (s, dir) => Analytics.growthAccounting(t(s, dir, "orders"),
        "o_custkey", "o_orderdate", "o_totalprice",
        "1996-01-01 00:00:00", "1997-01-01 00:00:00",
        "1997-01-01 00:00:00", "1998-01-01 00:00:00"),
      Some("""WITH per AS (SELECT o_custkey AS c,
            CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1997-01-01'
              THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS r1,
            CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                AND o_orderdate < TIMESTAMP '1998-01-01'
              THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS r2
          FROM orders
          WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
            AND o_totalprice IS NOT NULL
          GROUP BY 1
          HAVING r1 > 0 OR r2 > 0),
        classed AS (SELECT CASE
            WHEN r1 <= 0 AND r2 > 0 THEN 'new'
            WHEN r1 > 0 AND r2 <= 0 THEN 'churned'
            WHEN r2 > r1 THEN 'expansion'
            WHEN r2 < r1 THEN 'contraction'
            ELSE 'flat' END AS category, r2 - r1 AS delta
          FROM per),
        agg AS (SELECT category, CAST(COUNT(*) AS BIGINT) AS nc,
            CAST(SUM(delta) AS BIGINT) AS dc
          FROM classed WHERE category <> 'flat' GROUP BY 1)
        SELECT c.category, COALESCE(nc, CAST(0 AS BIGINT)) AS n_customers,
          COALESCE(dc, CAST(0 AS BIGINT)) AS delta_cents
        FROM (VALUES ('new'), ('churned'), ('expansion'), ('contraction'))
          c(category)
        LEFT JOIN agg ON agg.category = c.category
        ORDER BY c.category""")),

    // Mix/rate decomposition of the same year-over-year delta by region:
    // volume effect on the truncating micro-AOV grid, rate effect as the
    // exact remainder — the identity holds to the cent by construction.
    "q275_mix_rate_decomposition" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val joined = o.join(c, o("o_custkey") === c("c_custkey"))
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"), col("o_orderdate"), col("o_totalprice"))
        Analytics.mixRateDecomposition(joined, "n_name", "o_orderdate",
          "o_totalprice",
          "1996-01-01 00:00:00", "1997-01-01 00:00:00",
          "1997-01-01 00:00:00", "1998-01-01 00:00:00")
      },
      Some("""WITH j AS (SELECT n_name AS dim, o_orderdate AS ts,
            CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          WHERE n_name IS NOT NULL AND o_orderdate IS NOT NULL
            AND o_totalprice IS NOT NULL),
        f AS (SELECT dim,
            ts >= TIMESTAMP '1996-01-01' AND ts < TIMESTAMP '1997-01-01' AS p1
          , cents FROM j
          WHERE (ts >= TIMESTAMP '1996-01-01' AND ts < TIMESTAMP '1997-01-01')
             OR (ts >= TIMESTAMP '1997-01-01' AND ts < TIMESTAMP '1998-01-01')),
        g AS (SELECT dim,
            CAST(COUNT(*) FILTER (WHERE p1) AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN p1 THEN cents ELSE 0 END) AS BIGINT) AS r1_cents,
            CAST(COUNT(*) FILTER (WHERE NOT p1) AS BIGINT) AS n2,
            CAST(SUM(CASE WHEN NOT p1 THEN cents ELSE 0 END) AS BIGINT) AS r2_cents
          FROM f GROUP BY 1),
        a AS (SELECT dim, n1, n2, r1_cents, r2_cents,
            CASE WHEN n1 > 0 THEN (r1_cents * 1000000) // n1
              ELSE CAST(0 AS BIGINT) END AS aov1_microcents
          FROM g),
        v AS (SELECT a.*,
            ((n2 - n1) * aov1_microcents) // 1000000 AS volume_effect_cents
          FROM a)
        SELECT dim, n1, n2, r1_cents, r2_cents, aov1_microcents,
          volume_effect_cents,
          r2_cents - r1_cents - volume_effect_cents AS rate_effect_cents
        FROM v ORDER BY dim""")),

    // Markov next-event prediction backtest: argmax transition predictor
    // trained before the cutoff, accuracy on held-out transitions after
    // — is q127's matrix predictive or merely descriptive?
    "q273_markov_eval" -> Q(
      (s, dir) => Analytics.markovEval(t(s, dir, "events"), "user_id",
        "event_type", "ts", "event_id", "2024-01-16 00:00:00"),
      Some("""WITH p AS (SELECT event_type AS from_type,
            CAST(ts AS TIMESTAMP) AS t,
            lead(event_type) OVER (PARTITION BY user_id
              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
          FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            AND ts IS NOT NULL),
        pp AS (SELECT from_type, to_type,
            t < TIMESTAMP '2024-01-16 00:00:00' AS train
          FROM p WHERE to_type IS NOT NULL),
        tc AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM pp WHERE train GROUP BY 1, 2),
        pred AS (SELECT from_type, to_type AS predicted FROM (
            SELECT from_type, to_type, row_number() OVER (
              PARTITION BY from_type ORDER BY n DESC, to_type) AS rk
            FROM tc) r WHERE rk = 1),
        tt AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_train
          FROM tc GROUP BY 1),
        te AS (SELECT pp.from_type, CAST(COUNT(*) AS BIGINT) AS n_test,
            CAST(COUNT(*) FILTER (WHERE pp.to_type = pred.predicted)
              AS BIGINT) AS n_correct
          FROM pp LEFT JOIN pred ON pp.from_type = pred.from_type
          WHERE NOT train GROUP BY 1)
        SELECT from_type, predicted, COALESCE(n_train, 0) AS n_train,
          n_test, n_correct,
          CAST(n_correct AS DOUBLE) / CAST(n_test AS DOUBLE) AS accuracy
        FROM te LEFT JOIN pred USING (from_type) LEFT JOIN tt USING (from_type)
        ORDER BY from_type""")),

    // Per-event-type skewness/excess kurtosis — describe()'s higher
    // moments from exact DECIMAL milli power sums, pinned IEEE ratios.
    "q272_moments" -> Q(
      (s, dir) => Quality.momentsByGroup(t(s, dir, "events"),
        "event_type", "value"),
      Some("""WITH base AS (SELECT event_type AS g,
            CAST(round(value * 1e3) AS BIGINT) AS v
          FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        grid AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(v AS HUGEINT)) AS s1,
            SUM(CAST(v AS HUGEINT) * v) AS s2,
            SUM(CAST(v AS HUGEINT) * v * v) AS s3,
            SUM(CAST(v AS HUGEINT) * v * v * v) AS s4
          FROM base GROUP BY 1),
        m AS (SELECT g, n,
            CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1e3 AS mean,
            (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e6 AS m2,
            (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s3 AS DOUBLE)
              - 3.0 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
              + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
              / 1e9 AS m3,
            (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                * CAST(s4 AS DOUBLE)
              - 4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                * CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE)
              + 6.0 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)
                * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
              - 3.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                 * CAST(n AS DOUBLE)) / 1e12 AS m4
          FROM grid)
        SELECT g AS "group", n, mean, m2 AS variance,
          CASE WHEN m2 > 0 THEN m3 / SQRT(m2 * m2 * m2) END AS skewness,
          CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END AS kurtosis_excess
        FROM m ORDER BY "group"""")),

    // Benjamini-Hochberg FDR across the per-event-type A/B readouts:
    // Welch z from exact micro moments, A&S-26.2.17 two-sided p rounded
    // to the micro grid, integer step-up rule — the multiple-testing
    // correction the per-segment z tests (q214/q220) need.
    "q271_bh_fdr" -> Q(
      (s, dir) => Quality.bhFdr(t(s, dir, "events"), "event_type",
        "user_id", "value", "bh1"),
      Some(s"""WITH base AS (SELECT event_type AS seg,
            ${graft.functions.Hashing.h60Sql(
              "'bh1:' || CAST(user_id AS VARCHAR)")} % 2 = 0 AS a,
            CAST(round(value * 1e6) AS BIGINT) AS v
          FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
            AND value IS NOT NULL),
        g AS (SELECT seg,
            CAST(COUNT(*) FILTER (WHERE a) AS BIGINT) AS na,
            SUM(CASE WHEN a THEN CAST(v AS HUGEINT) ELSE 0 END) AS sa,
            SUM(CASE WHEN a THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qa,
            CAST(COUNT(*) FILTER (WHERE NOT a) AS BIGINT) AS nb,
            SUM(CASE WHEN NOT a THEN CAST(v AS HUGEINT) ELSE 0 END) AS sb,
            SUM(CASE WHEN NOT a THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qb
          FROM base GROUP BY 1),
        w1 AS (SELECT seg, na, nb,
            CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1e6 AS ma,
            CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6 AS mb,
            (CAST(na AS DOUBLE) * CAST(qa AS DOUBLE)
              - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
              / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE)) / 1e12 AS va,
            (CAST(nb AS DOUBLE) * CAST(qb AS DOUBLE)
              - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
              / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)) / 1e12 AS vb
          FROM g),
        w2 AS (SELECT seg, na, nb,
            CASE WHEN na > 0 AND nb > 0 AND
                SQRT(va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE)) > 0
              THEN (ma - mb)
                / SQRT(va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE))
            END AS z
          FROM w1),
        w3 AS (SELECT seg, na, nb, z,
            CASE WHEN z IS NOT NULL THEN CAST(round(
              2.0 * 0.3989422804014327 * EXP(-0.5 * abs(z) * abs(z))
              * (((((1.330274429 * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + -1.821255978) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + 1.781477937) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + -0.356563782) * (1.0 / (1.0 + 0.2316419 * abs(z)))
                  + 0.319381530) * (1.0 / (1.0 + 0.2316419 * abs(z))))
              * 1e6) AS BIGINT) END AS p_micro
          FROM w2),
        mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM w3),
        rk AS (SELECT seg, na, nb, z, p_micro,
            CAST(row_number() OVER (ORDER BY p_micro ASC NULLS LAST, seg)
              AS BIGINT) AS rank
          FROM w3),
        ps AS (SELECT rk.*, (p_micro IS NOT NULL AND
            p_micro * (SELECT m FROM mm) <= rank * 50000) AS pass FROM rk),
        istar AS (SELECT COALESCE(MAX(CASE WHEN pass THEN rank END),
            CAST(0 AS BIGINT)) AS i_star FROM ps)
        SELECT seg AS segment, na AS n_a, nb AS n_b, z, p_micro, rank,
          rank <= (SELECT i_star FROM istar) AS significant
        FROM ps ORDER BY rank""")),

    // Adamic-Adar link prediction on q239's basket graph — the
    // log-damped point on the neighbor-specificity curve next to RA's
    // 1/deg, same wedge machinery, directly comparable rankings.
    "q270_adamic_adar" -> Q(
      (s, dir) => {
        val items = t(s, dir, "lineitem")
          .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
          .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
          .distinct()
        val pairs = items.as("a").join(items.as("b"),
            col("a.bk") === col("b.bk") && col("a.it") < col("b.it"))
          .groupBy(col("a.it").as("pa"), col("b.it").as("pb"))
          .agg(count(lit(1)).as("sup")).filter(col("sup") >= 2)
        Graphs.adamicAdar(pairs, "pa", "pb", 50, exact = true)
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
            FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
          prs AS (SELECT a.it AS id_a, b.it AS id_b
            FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
          edges AS (SELECT id_a AS src, id_b AS dst FROM prs
            UNION SELECT id_b, id_a FROM prs),
          deg AS (SELECT src AS z, CAST(COUNT(*) AS BIGINT) AS dz
            FROM edges GROUP BY 1),
          wed AS (SELECT x.dst AS u, y.dst AS v, x.src AS z
            FROM edges x JOIN edges y ON x.src = y.src AND x.dst < y.dst),
          cand AS (SELECT w.u, w.v, w.z FROM wed w
            WHERE NOT EXISTS (SELECT 1 FROM prs p
              WHERE p.id_a = w.u AND p.id_b = w.v)),
          scored AS (SELECT cand.u, cand.v,
              CAST(COUNT(*) AS BIGINT) AS common_neighbors,
              CAST(SUM(1000000000000000000
                // CAST(round(ln(dz) * 1e6) AS BIGINT)) AS BIGINT)
                AS aa_score_micro
            FROM cand JOIN deg ON cand.z = deg.z
            WHERE dz >= 2 GROUP BY 1, 2)
          SELECT u AS id_a, v AS id_b, common_neighbors, aa_score_micro,
            CAST(aa_score_micro AS DOUBLE) / 1e12 AS aa_score
          FROM scored
          ORDER BY aa_score_micro DESC, id_a, id_b LIMIT 50""")),

    // Capped twin of q270 (r10 verdict #2) — Adamic-Adar through the
    // Σ min(deg,cap)² ≤ E·cap wedge bound; cap = 8 so the cap actually
    // binds at the oracle SFs (see q239b). Weights keep TRUE 1/ln(deg);
    // only the wedge enumeration is capped to the 8 lowest-id neighbors
    // per center, exactly replayed by the SQL row_number cap.
    "q270b_adamic_adar_capped" -> Q(
      (s, dir) => {
        val items = t(s, dir, "lineitem")
          .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
          .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
          .distinct()
        val pairs = items.as("a").join(items.as("b"),
            col("a.bk") === col("b.bk") && col("a.it") < col("b.it"))
          .groupBy(col("a.it").as("pa"), col("b.it").as("pb"))
          .agg(count(lit(1)).as("sup")).filter(col("sup") >= 2)
        Graphs.adamicAdar(pairs, "pa", "pb", 50, degreeCap = 8)
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
            FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
          prs AS (SELECT a.it AS id_a, b.it AS id_b
            FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
          edges AS (SELECT id_a AS src, id_b AS dst FROM prs
            UNION SELECT id_b, id_a FROM prs),
          deg AS (SELECT src AS z, CAST(COUNT(*) AS BIGINT) AS dz
            FROM edges GROUP BY 1),
          cedges AS (SELECT src, dst FROM (SELECT src, dst,
              row_number() OVER (PARTITION BY src ORDER BY dst) AS rk
            FROM edges) WHERE rk <= 8),
          wed AS (SELECT x.dst AS u, y.dst AS v, x.src AS z
            FROM cedges x JOIN cedges y ON x.src = y.src AND x.dst < y.dst),
          cand AS (SELECT w.u, w.v, w.z FROM wed w
            WHERE NOT EXISTS (SELECT 1 FROM prs p
              WHERE p.id_a = w.u AND p.id_b = w.v)),
          scored AS (SELECT cand.u, cand.v,
              CAST(COUNT(*) AS BIGINT) AS common_neighbors,
              CAST(SUM(1000000000000000000
                // CAST(round(ln(dz) * 1e6) AS BIGINT)) AS BIGINT)
                AS aa_score_micro
            FROM cand JOIN deg ON cand.z = deg.z
            WHERE dz >= 2 GROUP BY 1, 2)
          SELECT u AS id_a, v AS id_b, common_neighbors, aa_score_micro,
            CAST(aa_score_micro AS DOUBLE) / 1e12 AS aa_score
          FROM scored
          ORDER BY aa_score_micro DESC, id_a, id_b LIMIT 50""")),

    // Minimum detectable effect per event type for the hashed-arm
    // experiment: exact DECIMAL micro moments -> pooled variance ->
    // MDE at alpha 0.05 / power 0.80 as one pinned IEEE sequence.
    "q269_power_mde" -> Q(
      (s, dir) => Quality.minDetectableEffect(t(s, dir, "events"),
        "event_type", "user_id", "value", "mde1"),
      Some(s"""WITH base AS (SELECT event_type AS seg,
            ${graft.functions.Hashing.h60Sql(
              "'mde1:' || CAST(user_id AS VARCHAR)")} % 2 = 0 AS a,
            CAST(round(value * 1e6) AS BIGINT) AS v
          FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
            AND value IS NOT NULL),
        g AS (SELECT seg,
            CAST(COUNT(*) FILTER (WHERE a) AS BIGINT) AS n_a,
            CAST(COUNT(*) FILTER (WHERE NOT a) AS BIGINT) AS n_b,
            CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(v AS HUGEINT)) AS s,
            SUM(CAST(v AS HUGEINT) * v) AS q
          FROM base GROUP BY 1),
        v AS (SELECT seg, n_a, n_b,
            CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e12 AS pooled_var
          FROM g)
        SELECT seg AS segment, n_a, n_b, pooled_var,
          CASE WHEN n_a > 0 AND n_b > 0 AND pooled_var >= 0
            THEN 2.8015852181129688 * SQRT(pooled_var
              * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
          END AS mde_abs
        FROM v ORDER BY segment""")),

    // Classical additive seasonal decomposition of daily event value:
    // centered 7-day MA trend, weekday seasonal indices (centered),
    // residual — all exact truncating micro integers on the calendar
    // grid.
    "q268_seasonal_decompose" -> Q(
      (s, dir) => Temporal.classicalDecompose(t(s, dir, "events"),
        "ts", "value", 7),
      Some("""WITH obs AS (SELECT CAST(ts AS DATE) AS d,
            CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS s
          FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
          GROUP BY 1),
        mm AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM obs),
        grid AS (SELECT gs.d, COALESCE(o.s, 0) AS s,
            ((datediff('day', DATE '2024-01-01', gs.d) % 7) + 7) % 7 AS slot
          FROM (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
              AS DATE) AS d FROM mm) gs
          LEFT JOIN obs o ON o.d = gs.d),
        tr AS (SELECT d, s, slot,
            CASE WHEN COUNT(*) OVER w = 7
              THEN CAST(SUM(s) OVER w AS BIGINT) // 7 END AS trend_micro
          FROM grid
          WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        sr AS (SELECT slot,
            CAST(SUM(s - trend_micro) AS BIGINT) // COUNT(*) AS sea_raw
          FROM tr WHERE trend_micro IS NOT NULL GROUP BY 1),
        aj AS (SELECT CAST(SUM(sea_raw) AS BIGINT) // 7 AS sea_adj FROM sr),
        se AS (SELECT slot,
            sea_raw - (SELECT sea_adj FROM aj) AS seasonal_micro FROM sr)
        SELECT d AS day, s AS actual_micro, trend_micro, seasonal_micro,
          s - trend_micro - seasonal_micro AS residual_micro
        FROM tr LEFT JOIN se USING (slot) ORDER BY day""")),

    // Mann-Kendall trend significance on daily revenue — the exact
    // integer S/variance companion to q237's Theil-Sen slope (is the
    // robust trend actually significant?), tie-corrected.
    "q267_mann_kendall" -> Q(
      (s, dir) => Temporal.mannKendall(t(s, dir, "orders"),
        "o_orderdate", "o_totalprice"),
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
            CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT) AS s
          FROM orders
          WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
          GROUP BY 1),
        st AS (SELECT CAST(COALESCE(SUM(CASE WHEN b.s > a.s THEN 1
              WHEN b.s < a.s THEN -1 ELSE 0 END), 0) AS BIGINT) AS s_stat
          FROM daily a JOIN daily b ON a.d < b.d),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
        ties AS (SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
              AS BIGINT) AS tie_sum
          FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY s) g)
        SELECT n_days, s_stat,
          n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum AS var18_num,
          CASE WHEN n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum > 0
            THEN (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                       WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                       ELSE 0.0 END)
              / SQRT(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum
                  AS DOUBLE) / 18.0)
          END AS z
        FROM nn CROSS JOIN st CROSS JOIN ties""")),

    // Walk-forward forecast backtest: for each of the last 28 days, the
    // Holt-Winters one-step-ahead forecast issued from data strictly
    // before the day vs the realized actual — exact-integer abs error
    // and sMAPE on the micro grid (the evaluation q241's smoother needs
    // before anyone trusts it).
    "q263_forecast_backtest" -> Q(
      (s, dir) => Temporal.forecastBacktest(t(s, dir, "events"),
        "ts", "value", 7, 28),
      Some {
        val y = "COALESCE(o.s, 0)"
        val l2 = s"(($y - r.s1) + r.l + r.b) // 2"
        val b2 = s"($l2 - r.l + 3 * r.b) // 4"
        val snew = s"($y - $l2 + r.s1) // 2"
        s"""WITH RECURSIVE obs AS (SELECT CAST(ts AS DATE) AS d,
              CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS s
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
            GROUP BY 1),
          mm AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM obs),
          rec AS (
            SELECT o.d, o.s AS y, o.s AS l, CAST(0 AS BIGINT) AS b,
              CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2,
              CAST(0 AS BIGINT) AS s3, CAST(0 AS BIGINT) AS s4,
              CAST(0 AS BIGINT) AS s5, CAST(0 AS BIGINT) AS s6,
              CAST(0 AS BIGINT) AS s7
            FROM obs o, mm WHERE o.d = mm.lo
            UNION ALL
            SELECT r.d + 1, $y, $l2, $b2,
              r.s2, r.s3, r.s4, r.s5, r.s6, r.s7, $snew
            FROM rec r LEFT JOIN obs o ON o.d = r.d + 1, mm
            WHERE r.d < mm.hi),
          f AS (SELECT d, y,
              lag(l + b + s1) OVER (ORDER BY d) AS p
            FROM rec)
          SELECT d AS day, y AS actual_micro, p AS predicted_micro,
            abs(y - p) AS abs_err_micro,
            CASE WHEN abs(y) + abs(p) > 0
              THEN CAST((2000000::HUGEINT * abs(y - p))
                // (abs(y) + abs(p)) AS BIGINT)
              ELSE 0 END AS smape_micro
          FROM f, mm
          WHERE p IS NOT NULL AND d > mm.hi - 28
          ORDER BY day"""
      }),

    // Dedup-aware split leakage: salted-hash 80/20 train-eval split,
    // then count shared-LSH near-dup pairs straddling the boundary —
    // eval contamination a random split bakes in (the reason production
    // pipelines split by near-dup cluster, not by document).
    "q262_split_leakage" -> Q(
      (s, dir) => Dedup.splitLeakage(t(s, dir, "documents"), "doc_id",
        lshPairs(s, dir), "id_a", "id_b", 80, "split9"),
      Some(s"""WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
               FROM documents),
        grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 1)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
               FROM toks WHERE len(l) >= 3),
        sh AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS sh FROM grams),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        pairs AS (SELECT id_a, id_b FROM inter
                  JOIN sizes sa ON id_a = sa.doc_id
                  JOIN sizes sb ON id_b = sb.doc_id
                  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8),
        assign AS (SELECT doc_id AS id,
            CASE WHEN ${graft.functions.Hashing.h60Sql(
              "'split9:' || CAST(doc_id AS VARCHAR)")} % 100 < 80
              THEN 'train' ELSE 'eval' END AS split
          FROM documents),
        dt AS (SELECT
            CAST(COUNT(*) FILTER (WHERE split = 'train') AS BIGINT) AS n_train_docs,
            CAST(COUNT(*) FILTER (WHERE split = 'eval') AS BIGINT) AS n_eval_docs
          FROM assign),
        cl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
            CAST(COUNT(*) FILTER (WHERE sa.split = 'train' AND sb.split = 'train') AS BIGINT) AS n_train_train,
            CAST(COUNT(*) FILTER (WHERE sa.split <> sb.split) AS BIGINT) AS n_leaked,
            CAST(COUNT(*) FILTER (WHERE sa.split = 'eval' AND sb.split = 'eval') AS BIGINT) AS n_eval_eval
          FROM pairs JOIN assign sa ON pairs.id_a = sa.id
                     JOIN assign sb ON pairs.id_b = sb.id)
        SELECT n_train_docs, n_eval_docs, n_pairs, n_train_train,
          n_leaked, n_eval_eval,
          (n_leaked * 1000000) // greatest(n_pairs, 1) AS leaked_micro
        FROM dt CROSS JOIN cl""")),

    // Declarative expectations audit (dbt-test / Great-Expectations /
    // Deequ vocabulary): not-null, range, accepted-set, regex and
    // uniqueness rules over orders — one shared scan for all row-level
    // rules, one key-grid aggregate per uniqueness rule, exact counts.
    "q260_expectations_audit" -> Q(
      (s, dir) => {
        import graft.operators.Quality.Expectation._
        Quality.expectationsAudit(t(s, dir, "orders"), Seq(
          NotNull("r1_custkey_not_null", "o_custkey"),
          InRange("r2_totalprice_range", "o_totalprice", 0.0, 200000.0),
          InSet("r3_status_in_set", "o_orderstatus", Seq("F", "O", "P")),
          Matches("r4_priority_format", "o_orderpriority", "^[1-5]-"),
          Unique("r5_orderkey_unique", Seq("o_orderkey")),
          Unique("r6_cust_date_unique", Seq("o_custkey", "o_orderdate"))))
      },
      Some("""WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders),
        rows_lvl AS (SELECT
            CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS v1,
            CAST(COUNT(*) FILTER (WHERE o_totalprice IS NOT NULL AND
              (CAST(o_totalprice AS DOUBLE) < 0 OR CAST(o_totalprice AS DOUBLE) > 200000)) AS BIGINT) AS v2,
            CAST(COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL AND
              o_orderstatus NOT IN ('F', 'O', 'P')) AS BIGINT) AS v3,
            CAST(COUNT(*) FILTER (WHERE o_orderpriority IS NOT NULL AND
              NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS BIGINT) AS v4
          FROM orders),
        u5 AS (SELECT (SELECT n_rows FROM n) - CAST(COUNT(*) AS BIGINT) AS v
          FROM (SELECT DISTINCT o_orderkey FROM orders) d),
        u6 AS (SELECT (SELECT n_rows FROM n) - CAST(COUNT(*) AS BIGINT) AS v
          FROM (SELECT DISTINCT o_custkey, o_orderdate FROM orders) d)
        SELECT rule, (SELECT n_rows FROM n) AS n_rows, n_violations,
          n_violations = 0 AS pass
        FROM (
          SELECT 'r1_custkey_not_null' AS rule, v1 AS n_violations FROM rows_lvl
          UNION ALL SELECT 'r2_totalprice_range', v2 FROM rows_lvl
          UNION ALL SELECT 'r3_status_in_set', v3 FROM rows_lvl
          UNION ALL SELECT 'r4_priority_format', v4 FROM rows_lvl
          UNION ALL SELECT 'r5_orderkey_unique', v FROM u5
          UNION ALL SELECT 'r6_cust_date_unique', v FROM u6) r
        ORDER BY rule""")),

    // Row quarantine (the dead-letter relation): every orders row
    // violating at least one row-level expectation, tagged with the
    // rules it broke — per-row blame for triage/replay, the other half
    // of q260's counts.
    "q264_expectations_quarantine" -> Q(
      (s, dir) => {
        import graft.operators.Quality.Expectation._
        Quality.expectationsQuarantine(t(s, dir, "orders"), "o_orderkey",
          Seq(
            NotNull("r1_custkey_not_null", "o_custkey"),
            InRange("r2_totalprice_range", "o_totalprice", 0.0, 200000.0),
            InSet("r3_status_in_set", "o_orderstatus", Seq("F", "O", "P")),
            Matches("r4_priority_format", "o_orderpriority", "^[1-5]-")))
      },
      Some("""WITH r AS (SELECT o_orderkey, list_filter([
            CASE WHEN o_custkey IS NULL THEN 'r1_custkey_not_null' END,
            CASE WHEN o_totalprice IS NOT NULL AND
                (CAST(o_totalprice AS DOUBLE) < 0 OR
                 CAST(o_totalprice AS DOUBLE) > 200000)
              THEN 'r2_totalprice_range' END,
            CASE WHEN o_orderstatus IS NOT NULL AND
                o_orderstatus NOT IN ('F', 'O', 'P')
              THEN 'r3_status_in_set' END,
            CASE WHEN o_orderpriority IS NOT NULL AND
                NOT regexp_matches(o_orderpriority, '^[1-5]-')
              THEN 'r4_priority_format' END
          ], x -> x IS NOT NULL) AS v
          FROM orders)
        SELECT o_orderkey, array_to_string(v, ',') AS violated_rules,
          CAST(len(v) AS BIGINT) AS n_violated
        FROM r WHERE len(v) > 0 ORDER BY o_orderkey""")),

    // Difference-in-differences over the event stream: hashed arms ×
    // pre/post at the cutoff, observation-level means from one
    // 8-cell aggregate, DiD as the pinned IEEE sequence.
    "q265_did_estimate" -> Q(
      (s, dir) => Analytics.didEstimate(t(s, dir, "events"), "user_id",
        "ts", "value", "2024-01-16 00:00:00", "did1"),
      Some(s"""WITH base AS (SELECT
            ${graft.functions.Hashing.h60Sql(
              "'did1:' || CAST(user_id AS VARCHAR)")} % 2 = 0 AS a,
            CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00' AS pre,
            CAST(round(value * 1e6) AS BIGINT) AS v
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND value IS NOT NULL),
        c AS (SELECT
            CAST(COUNT(*) FILTER (WHERE a AND pre) AS BIGINT) AS n_pre_a,
            CAST(SUM(CASE WHEN a AND pre THEN v ELSE 0 END) AS BIGINT) AS sum_pre_a_micro,
            CAST(COUNT(*) FILTER (WHERE a AND NOT pre) AS BIGINT) AS n_post_a,
            CAST(SUM(CASE WHEN a AND NOT pre THEN v ELSE 0 END) AS BIGINT) AS sum_post_a_micro,
            CAST(COUNT(*) FILTER (WHERE NOT a AND pre) AS BIGINT) AS n_pre_b,
            CAST(SUM(CASE WHEN NOT a AND pre THEN v ELSE 0 END) AS BIGINT) AS sum_pre_b_micro,
            CAST(COUNT(*) FILTER (WHERE NOT a AND NOT pre) AS BIGINT) AS n_post_b,
            CAST(SUM(CASE WHEN NOT a AND NOT pre THEN v ELSE 0 END) AS BIGINT) AS sum_post_b_micro
          FROM base)
        SELECT *,
          ((CAST(sum_post_b_micro AS DOUBLE) / CAST(n_post_b AS DOUBLE) / 1e6
            - CAST(sum_pre_b_micro AS DOUBLE) / CAST(n_pre_b AS DOUBLE) / 1e6)
           - (CAST(sum_post_a_micro AS DOUBLE) / CAST(n_post_a AS DOUBLE) / 1e6
              - CAST(sum_pre_a_micro AS DOUBLE) / CAST(n_pre_a AS DOUBLE) / 1e6))
            AS did
        FROM c""")),

    // WRITE-AUDIT-PUBLISH: batch 1 (clean orders slice) passes the gate
    // and goes live; batch 2 (same pipeline with nulls injected into
    // o_custkey) is quarantined — the live table provably still serves
    // batch 1's content. The oracle recomputes both verdicts and the
    // surviving content from the raw table.
    "q261_write_audit_publish" -> Q(
      (s, dir) => {
        import graft.operators.Quality.Expectation._
        val table = s"${sys.props("java.io.tmpdir")}/graft_wap/" +
          s"orders_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
        Warehouse.resetTable(table)
        val orders = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        val rules = Seq(
          NotNull("custkey_not_null", "o_custkey"),
          InSet("status_in_set", "o_orderstatus", Seq("F", "O", "P")))
        val clean = orders.filter(col("o_orderkey") % 3 =!= 0)
        val dirty = orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_custkey",
            when(col("o_orderkey") % 9 === 0, lit(null))
              .otherwise(col("o_custkey")))
        val r1 = Warehouse.publishAudited(s, clean, table, rules)
        val r2 = Warehouse.publishAudited(s, dirty, table, rules)
        val live = Warehouse.readVersioned(s, table)
          .agg(count(lit(1)).as("live_n_rows"),
            sum("cents").as("live_sum_cents"))
        import s.implicits._
        Seq((1L, r1._2, r1._3), (2L, r2._2, r2._3))
          .toDF("batch", "published", "n_violations")
          .crossJoin(broadcast(live))
          .orderBy("batch")
      },
      Some("""WITH b1 AS (SELECT o_orderkey,
            CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders WHERE o_orderkey % 3 <> 0),
        live AS (SELECT CAST(COUNT(*) AS BIGINT) AS live_n_rows,
            CAST(SUM(cents) AS BIGINT) AS live_sum_cents FROM b1),
        v2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM orders
          WHERE o_orderkey % 3 = 0 AND o_orderkey % 9 = 0)
        SELECT batch, published, n_violations, live_n_rows, live_sum_cents
        FROM (SELECT CAST(1 AS BIGINT) AS batch, TRUE AS published,
                CAST(0 AS BIGINT) AS n_violations
              UNION ALL
              SELECT CAST(2 AS BIGINT), FALSE, (SELECT v FROM v2)) b
        CROSS JOIN live
        ORDER BY batch""")),

    // ----- SQL API surface ---------------------------------------------------

    // The spark.sql face of the engine: the same ANSI text runs on both
    // engines (registered temp views stand in for warehouse tables).
    "q30_sql_api" -> Q(
      (s, dir) => {
        Seq("lineitem", "orders", "customer", "nation").foreach { n =>
          t(s, dir, n).createOrReplaceTempView(n)
        }
        s.sql(sqlApiQuery)
      },
      Some(sqlApiQuery))
  )

  private def sqlApiQuery =
    """SELECT n_name,
      CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY n_name ORDER BY revenue DESC, n_name"""

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registry("q03_region_revenue").fn(spark, "/root/testdata/sf0.001")

  private def allQueries: Map[String, Q] = registry ++ registryR4 ++ registryTail

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map { case (k, q) => k -> q.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.collect { case (k, Q(_, Some(sql))) => k -> sql }
}
