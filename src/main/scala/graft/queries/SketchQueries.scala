package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops.TextOps
import Fixtures._

/** Mergeable sketches: HLL, bottom-k (KMV), count-min and heavy hitters. */
private[graft] object SketchQueries {

  val queries: Seq[Query] = Seq(

    // ---- extension: mergeable HLL sketch infrastructure (ops/Hll) -----
    // unlike approx_count_distinct (one query, opaque), these sketches
    // are m-row register TABLES: persist to parquet, merge any union of
    // partitions by register-max, estimate without rescanning — the
    // sketch-once/merge-many pattern incremental distinct counting
    // needs at 100 TB. md5-hashed and integer-exact, so the estimate is
    // the same double on every engine (the oracle restates all of it)
    Query("q_hll_distinct", (s, dir) => {
      val o = t(s, dir, "orders")
      graft.ops.Hll.distinctEstimate(o, "o_custkey", 6)
        .crossJoin(o.agg(countDistinct(col("o_custkey")).as("exact_n")))
    },
      // the HLL construction restated end to end: 60-bit md5 hash, bucket
      // = h mod 64, rho = 55 - bitlength(h div 64) via bin(), registers =
      // per-bucket max, harmonic sum as an EXACT bigint scaled by 2^55.
      // Float parity: the alpha factor goes through CAST(0.709 AS DOUBLE)
      // before any multiply (DuckDB's bare 0.709 is DECIMAL — multiplying
      // in decimal then converting would land one ulp off Spark's
      // double-from-the-start chain); every multiplier after it (64, 64,
      // 2^55) is a power-of-two-times-exact value, so the numerator is
      // exact in both engines and the one division is correctly rounded
      """WITH h AS (
        |  SELECT CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)
        |    || ':hll'), 1, 15)) AS BIGINT) AS hv
        |  FROM orders),
        |rho AS (
        |  SELECT CAST(hv % 64 AS INT) AS bucket,
        |    CASE WHEN hv // 64 = 0 THEN 55
        |         ELSE 55 - length(bin(hv // 64)) END AS rho
        |  FROM h),
        |reg AS (SELECT bucket, max(rho) AS reg FROM rho GROUP BY bucket),
        |agg AS (
        |  SELECT sum(1::BIGINT << (55 - reg)) AS s_scaled,
        |    count(*) AS n_present
        |  FROM reg)
        |SELECT
        |  CASE WHEN CAST(0.709 AS DOUBLE) * 64 * 64 * 36028797018963968.0
        |         / (s_scaled + (64 - n_present) * (1::BIGINT << 55)) <= 160.0
        |       AND 64 - n_present > 0
        |    THEN 64.0 * ln(64.0 / (64 - n_present))
        |    ELSE CAST(0.709 AS DOUBLE) * 64 * 64 * 36028797018963968.0
        |         / (s_scaled + (64 - n_present) * (1::BIGINT << 55))
        |  END AS est_n,
        |  CAST(n_present AS INT) AS n_buckets,
        |  (SELECT count(DISTINCT o_custkey) FROM orders) AS exact_n
        |FROM agg""".stripMargin),

    // merge-invariance under measurement: sketch two disjoint halves,
    // register-max them, and the estimate must equal the whole-table
    // sketch bit-for-bit
    Query("q_hll_merge", (s, dir) => {
      val o = t(s, dir, "orders")
      val even = graft.ops.Hll.sketch(
        o.where(col("o_orderkey") % 2 === 0), "o_custkey", 6)
      val odd = graft.ops.Hll.sketch(
        o.where(col("o_orderkey") % 2 === 1), "o_custkey", 6)
      val merged = graft.ops.Hll.estimate(graft.ops.Hll.merge(even, odd), 6)
        .select(col("est_n").as("est_merged"))
      val whole = graft.ops.Hll.estimate(
          graft.ops.Hll.sketch(o, "o_custkey", 6), 6)
        .select(col("est_n").as("est_whole"))
      merged.crossJoin(whole)
        .withColumn("agree", col("est_merged") === col("est_whole"))
    },
      // merging disjoint halves IS the whole-table sketch (same rows, max
      // is associative), so one estimate serves both columns
      """WITH h AS (
        |  SELECT CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)
        |    || ':hll'), 1, 15)) AS BIGINT) AS hv
        |  FROM orders),
        |rho AS (
        |  SELECT CAST(hv % 64 AS INT) AS bucket,
        |    CASE WHEN hv // 64 = 0 THEN 55
        |         ELSE 55 - length(bin(hv // 64)) END AS rho
        |  FROM h),
        |reg AS (SELECT bucket, max(rho) AS reg FROM rho GROUP BY bucket),
        |agg AS (
        |  SELECT sum(1::BIGINT << (55 - reg)) AS s_scaled,
        |    count(*) AS n_present
        |  FROM reg),
        |est AS (
        |  SELECT
        |    CASE WHEN CAST(0.709 AS DOUBLE) * 64 * 64 * 36028797018963968.0
        |           / (s_scaled + (64 - n_present) * (1::BIGINT << 55)) <= 160.0
        |         AND 64 - n_present > 0
        |      THEN 64.0 * ln(64.0 / (64 - n_present))
        |      ELSE CAST(0.709 AS DOUBLE) * 64 * 64 * 36028797018963968.0
        |           / (s_scaled + (64 - n_present) * (1::BIGINT << 55))
        |    END AS e
        |  FROM agg)
        |SELECT e AS est_merged, e AS est_whole, true AS agree FROM est""".stripMargin),

    // per-group sketches: distinct customers per order priority — the
    // grouped rollup shape (distinct users per source per day)
    Query("q_hll_by_priority", (s, dir) => {
      val o = t(s, dir, "orders")
      graft.ops.Hll.estimateBy(graft.ops.Hll.sketchBy(
          o, "o_orderpriority", "o_custkey", 6), "o_orderpriority", 6)
        .join(o.groupBy(col("o_orderpriority"))
          .agg(countDistinct(col("o_custkey")).as("exact_n")),
          Seq("o_orderpriority"))
    },
      """WITH h AS (
        |  SELECT o_orderpriority,
        |    CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)
        |      || ':hll'), 1, 15)) AS BIGINT) AS hv
        |  FROM orders),
        |rho AS (
        |  SELECT o_orderpriority, CAST(hv % 64 AS INT) AS bucket,
        |    CASE WHEN hv // 64 = 0 THEN 55
        |         ELSE 55 - length(bin(hv // 64)) END AS rho
        |  FROM h),
        |reg AS (
        |  SELECT o_orderpriority, bucket, max(rho) AS reg
        |  FROM rho GROUP BY 1, 2),
        |agg AS (
        |  SELECT o_orderpriority, sum(1::BIGINT << (55 - reg)) AS s_scaled,
        |    count(*) AS n_present
        |  FROM reg GROUP BY 1),
        |ex AS (
        |  SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_n
        |  FROM orders GROUP BY 1)
        |SELECT agg.o_orderpriority,
        |  CASE WHEN CAST(0.709 AS DOUBLE) * 64 * 64 * 36028797018963968.0
        |         / (s_scaled + (64 - n_present) * (1::BIGINT << 55)) <= 160.0
        |       AND 64 - n_present > 0
        |    THEN 64.0 * ln(64.0 / (64 - n_present))
        |    ELSE CAST(0.709 AS DOUBLE) * 64 * 64 * 36028797018963968.0
        |         / (s_scaled + (64 - n_present) * (1::BIGINT << 55))
        |  END AS est_n,
        |  ex.exact_n
        |FROM agg JOIN ex USING (o_orderpriority)""".stripMargin),

    // ---- extension: mergeable bottom-k (KMV) sketches (ops/Kmv) -------
    // the mergeable SAMPLE next to HLL's registers: k smallest md5
    // hashes estimate distinct counts (k=256 -> ~6% rel err) and the
    // same order statistic over a unique id is a deterministic uniform
    // row sample; everything k-bounded after one corpus pass
    Query("q_kmv_distinct", (s, dir) => {
      val o = t(s, dir, "orders")
      graft.ops.Kmv.estimate(graft.ops.Kmv.sketch(o, "o_custkey", 256), 256)
        .crossJoin(o.agg(countDistinct(col("o_custkey")).as("exact_n")))
    },
      // KMV oracles restate the bottom-k construction: same 60-bit md5
      // hash, same order statistic, same single float division (2^60 and
      // k-1 both CAST AS DOUBLE — bare decimal literals are DECIMAL in
      // DuckDB and multiply 1 ulp off)
      """WITH s AS (
        |  SELECT DISTINCT CAST(('0x' || substring(md5(
        |      CAST(o_custkey AS VARCHAR) || ':kmv'), 1, 15)) AS BIGINT) AS h
        |  FROM orders WHERE o_custkey IS NOT NULL
        |  ORDER BY 1 LIMIT 256),
        |a AS (SELECT count(*) AS n_sample, max(h) AS h_max FROM s)
        |SELECT
        |  CASE WHEN n_sample < 256 THEN CAST(n_sample AS DOUBLE)
        |    ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |         / CAST(h_max AS DOUBLE) END AS est_n,
        |  CAST(n_sample AS INT) AS n_sample,
        |  (SELECT count(DISTINCT o_custkey) FROM orders) AS exact_n
        |FROM a""".stripMargin),

    // merge-invariance is EXACT for bottom-k (a lattice, like HLL's
    // register max): the merged halves equal the whole-table sketch row
    // for row, so the estimates must agree bit for bit
    Query("q_kmv_merge", (s, dir) => {
      val o = t(s, dir, "orders")
      val even = graft.ops.Kmv.sketch(
        o.where(col("o_orderkey") % 2 === 0), "o_custkey", 256)
      val odd = graft.ops.Kmv.sketch(
        o.where(col("o_orderkey") % 2 === 1), "o_custkey", 256)
      val merged = graft.ops.Kmv.estimate(
          graft.ops.Kmv.merge(256, even, odd), 256)
        .select(col("est_n").as("est_merged"))
      val whole = graft.ops.Kmv.estimate(
          graft.ops.Kmv.sketch(o, "o_custkey", 256), 256)
        .select(col("est_n").as("est_whole"))
      merged.crossJoin(whole)
        .withColumn("agree", col("est_merged") === col("est_whole"))
    },
      // merging disjoint halves IS the whole-table bottom-k (a lattice),
      // so one estimate serves both columns
      """WITH s AS (
        |  SELECT DISTINCT CAST(('0x' || substring(md5(
        |      CAST(o_custkey AS VARCHAR) || ':kmv'), 1, 15)) AS BIGINT) AS h
        |  FROM orders WHERE o_custkey IS NOT NULL
        |  ORDER BY 1 LIMIT 256),
        |a AS (SELECT count(*) AS n_sample, max(h) AS h_max FROM s),
        |est AS (
        |  SELECT CASE WHEN n_sample < 256 THEN CAST(n_sample AS DOUBLE)
        |    ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |         / CAST(h_max AS DOUBLE) END AS e
        |  FROM a)
        |SELECT e AS est_merged, e AS est_whole, true AS agree FROM est""".stripMargin),

    // per-group sketches: distinct customers per order priority — the
    // grouped rollup shape, mirroring q_hll_by_priority so the two
    // sketch families are comparable on the same question
    Query("q_kmv_by_priority", (s, dir) => {
      val o = t(s, dir, "orders")
      graft.ops.Kmv.estimateBy(graft.ops.Kmv.sketchBy(
          o, "o_orderpriority", "o_custkey", 128), "o_orderpriority", 128)
        .join(o.groupBy(col("o_orderpriority"))
          .agg(countDistinct(col("o_custkey")).as("exact_n")),
          Seq("o_orderpriority"))
    },
      """WITH h AS (
        |  SELECT DISTINCT o_orderpriority,
        |    CAST(('0x' || substring(md5(
        |      CAST(o_custkey AS VARCHAR) || ':kmv'), 1, 15)) AS BIGINT) AS h
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |s AS (
        |  SELECT o_orderpriority, h,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY h) AS rn
        |  FROM h),
        |a AS (
        |  SELECT o_orderpriority, count(*) AS n_sample, max(h) AS h_max
        |  FROM s WHERE rn <= 128 GROUP BY 1),
        |ex AS (
        |  SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_n
        |  FROM orders GROUP BY 1)
        |SELECT a.o_orderpriority,
        |  CASE WHEN n_sample < 128 THEN CAST(n_sample AS DOUBLE)
        |    ELSE CAST(127 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |         / CAST(h_max AS DOUBLE) END AS est_n,
        |  CAST(n_sample AS INT) AS n_sample,
        |  ex.exact_n
        |FROM a JOIN ex USING (o_orderpriority)""".stripMargin),

    // KMV set algebra (Beyer et al. 2007): the bottom-k of A UNION B is
    // a uniform union sample, so the fraction present in BOTH sketches
    // estimates Jaccard and scales the union estimate down to the
    // intersection — "how many urgent-priority customers also order
    // high-priority", answered from two k-row sketches
    Query("q_kmv_setops", (s, dir) => {
      val o = t(s, dir, "orders")
      val a = graft.ops.Kmv.sketch(
        o.where(col("o_orderpriority") === "1-URGENT"), "o_custkey", 256)
      val b = graft.ops.Kmv.sketch(
        o.where(col("o_orderpriority") === "2-HIGH"), "o_custkey", 256)
      graft.ops.Kmv.setEstimates(a, b, 256)
    },
      // mirrors Kmv.setEstimates: bottom-256 of each side, bottom-256 of
      // the union, membership flags, rho computed BEFORE the multiply
      // (same float-op order as the engine)
      """WITH ha AS (
        |  SELECT DISTINCT CAST(('0x' || substring(md5(
        |      CAST(o_custkey AS VARCHAR) || ':kmv'), 1, 15)) AS BIGINT) AS h
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_orderpriority = '1-URGENT'
        |  ORDER BY 1 LIMIT 256),
        |hb AS (
        |  SELECT DISTINCT CAST(('0x' || substring(md5(
        |      CAST(o_custkey AS VARCHAR) || ':kmv'), 1, 15)) AS BIGINT) AS h
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_orderpriority = '2-HIGH'
        |  ORDER BY 1 LIMIT 256),
        |m AS (
        |  SELECT DISTINCT h FROM (
        |    SELECT h FROM ha UNION ALL SELECT h FROM hb)
        |  ORDER BY 1 LIMIT 256),
        |f AS (
        |  SELECT h, h IN (SELECT h FROM ha) AS ia,
        |    h IN (SELECT h FROM hb) AS ib FROM m),
        |a AS (
        |  SELECT count(*) AS n, max(h) AS hm,
        |    CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM f)
        |SELECT
        |  CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
        |    ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |         / CAST(hm AS DOUBLE) END AS est_union,
        |  CASE WHEN n > 0 THEN CAST(nb AS DOUBLE) / CAST(n AS DOUBLE)
        |    ELSE 0.0 END AS jaccard_est,
        |  (CASE WHEN n > 0 THEN CAST(nb AS DOUBLE) / CAST(n AS DOUBLE)
        |    ELSE 0.0 END) *
        |  (CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
        |    ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |         / CAST(hm AS DOUBLE) END) AS est_intersection,
        |  CAST(n AS INT) AS n_sample, nb AS n_both
        |FROM a""".stripMargin),

    // the grouped form: per-priority customer overlap between the even
    // and odd order-key halves — two sketchBy tables in, one overlap
    // row per group out, everything groups x k-bounded
    Query("q_kmv_setops_by", (s, dir) => {
      val o = t(s, dir, "orders")
      val a = graft.ops.Kmv.sketchBy(
        o.where(col("o_orderkey") % 2 === 0), "o_orderpriority",
        "o_custkey", 128)
      val b = graft.ops.Kmv.sketchBy(
        o.where(col("o_orderkey") % 2 === 1), "o_orderpriority",
        "o_custkey", 128)
      graft.ops.Kmv.setEstimatesBy(a, b, "o_orderpriority", 128)
    },
      // mirrors Kmv.setEstimatesBy on the even/odd order-key halves:
      // per-group rank <= 128 replaces each bottom-k, including the
      // union's re-take
      """WITH base AS (
        |  SELECT o_orderpriority, o_orderkey % 2 AS half,
        |    CAST(('0x' || substring(md5(
        |      CAST(o_custkey AS VARCHAR) || ':kmv'), 1, 15)) AS BIGINT) AS h
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |ha AS (
        |  SELECT o_orderpriority, h FROM (
        |    SELECT DISTINCT o_orderpriority, h FROM base WHERE half = 0)
        |  QUALIFY row_number() OVER (
        |    PARTITION BY o_orderpriority ORDER BY h) <= 128),
        |hb AS (
        |  SELECT o_orderpriority, h FROM (
        |    SELECT DISTINCT o_orderpriority, h FROM base WHERE half = 1)
        |  QUALIFY row_number() OVER (
        |    PARTITION BY o_orderpriority ORDER BY h) <= 128),
        |m AS (
        |  SELECT o_orderpriority, h FROM (
        |    SELECT DISTINCT o_orderpriority, h FROM (
        |      SELECT * FROM ha UNION ALL SELECT * FROM hb))
        |  QUALIFY row_number() OVER (
        |    PARTITION BY o_orderpriority ORDER BY h) <= 128),
        |f AS (
        |  SELECT m.o_orderpriority, m.h,
        |    EXISTS (SELECT 1 FROM ha WHERE ha.o_orderpriority =
        |      m.o_orderpriority AND ha.h = m.h) AS ia,
        |    EXISTS (SELECT 1 FROM hb WHERE hb.o_orderpriority =
        |      m.o_orderpriority AND hb.h = m.h) AS ib
        |  FROM m),
        |a AS (
        |  SELECT o_orderpriority, count(*) AS n, max(h) AS hm,
        |    CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM f GROUP BY 1)
        |SELECT o_orderpriority,
        |  CASE WHEN n < 128 THEN CAST(n AS DOUBLE)
        |    ELSE CAST(127 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |         / CAST(hm AS DOUBLE) END AS est_union,
        |  CASE WHEN n > 0 THEN CAST(nb AS DOUBLE) / CAST(n AS DOUBLE)
        |    ELSE 0.0 END AS jaccard_est,
        |  (CASE WHEN n > 0 THEN CAST(nb AS DOUBLE) / CAST(n AS DOUBLE)
        |    ELSE 0.0 END) *
        |  (CASE WHEN n < 128 THEN CAST(n AS DOUBLE)
        |    ELSE CAST(127 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |         / CAST(hm AS DOUBLE) END) AS est_intersection,
        |  CAST(n AS INT) AS n_sample, nb AS n_both
        |FROM a""".stripMargin),

    // grouped containment — per-priority coverage of the even order-key
    // half's customers by the odd half's, one k-bounded row per group
    Query("q_kmv_containment_by", (s, dir) => {
      val o = t(s, dir, "orders")
      val a = graft.ops.Kmv.sketchBy(
        o.where(col("o_orderkey") % 2 === 0), "o_orderpriority",
        "o_custkey", 128)
      val b = graft.ops.Kmv.sketchBy(
        o.where(col("o_orderkey") % 2 === 1), "o_orderpriority",
        "o_custkey", 128)
      graft.ops.Kmv.containmentBy(a, b, "o_orderpriority", 128)
    },
      // mirrors Kmv.containmentBy on the even/odd halves: the setops_by
      // construction with per-input member counts instead of the union
      // estimator
      """WITH base AS (
        |  SELECT o_orderpriority, o_orderkey % 2 AS half,
        |    CAST(('0x' || substring(md5(
        |      CAST(o_custkey AS VARCHAR) || ':kmv'), 1, 15)) AS BIGINT) AS h
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |ha AS (
        |  SELECT o_orderpriority, h FROM (
        |    SELECT DISTINCT o_orderpriority, h FROM base WHERE half = 0)
        |  QUALIFY row_number() OVER (
        |    PARTITION BY o_orderpriority ORDER BY h) <= 128),
        |hb AS (
        |  SELECT o_orderpriority, h FROM (
        |    SELECT DISTINCT o_orderpriority, h FROM base WHERE half = 1)
        |  QUALIFY row_number() OVER (
        |    PARTITION BY o_orderpriority ORDER BY h) <= 128),
        |m AS (
        |  SELECT o_orderpriority, h FROM (
        |    SELECT DISTINCT o_orderpriority, h FROM (
        |      SELECT * FROM ha UNION ALL SELECT * FROM hb))
        |  QUALIFY row_number() OVER (
        |    PARTITION BY o_orderpriority ORDER BY h) <= 128),
        |f AS (
        |  SELECT m.o_orderpriority, m.h,
        |    EXISTS (SELECT 1 FROM ha WHERE ha.o_orderpriority =
        |      m.o_orderpriority AND ha.h = m.h) AS ia,
        |    EXISTS (SELECT 1 FROM hb WHERE hb.o_orderpriority =
        |      m.o_orderpriority AND hb.h = m.h) AS ib
        |  FROM m),
        |a AS (
        |  SELECT o_orderpriority,
        |    CAST(sum(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nboth
        |  FROM f GROUP BY 1)
        |SELECT o_orderpriority,
        |  CASE WHEN na > 0 THEN CAST(nboth AS DOUBLE) / CAST(na AS DOUBLE)
        |    ELSE 0.0 END AS containment_a_in_b,
        |  CASE WHEN nb > 0 THEN CAST(nboth AS DOUBLE) / CAST(nb AS DOUBLE)
        |    ELSE 0.0 END AS containment_b_in_a,
        |  na AS n_a, nb AS n_b, nboth AS n_both
        |FROM a""".stripMargin),

    // KMV containment — the decontamination direction of set algebra:
    // urgent-priority customers are a LITERAL subset of all customers,
    // so containment(A in B) reads exactly 1.0 (every sampled A member
    // is a B member — no sampling error on a true subset), while the
    // reverse direction estimates |A|/|B| from the union sample
    Query("q_kmv_containment", (s, dir) => {
      val o = t(s, dir, "orders")
      val a = graft.ops.Kmv.sketch(
        o.where(col("o_orderpriority") === "1-URGENT"), "o_custkey", 256)
      val b = graft.ops.Kmv.sketch(o, "o_custkey", 256)
      graft.ops.Kmv.containment(a, b, 256)
    },
      // mirrors Kmv.containment: union bottom-k sample, per-input member
      // counts, one division per emitted ratio
      """WITH ha AS (
        |  SELECT DISTINCT CAST(('0x' || substring(md5(
        |      CAST(o_custkey AS VARCHAR) || ':kmv'), 1, 15)) AS BIGINT) AS h
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_orderpriority = '1-URGENT'
        |  ORDER BY 1 LIMIT 256),
        |hb AS (
        |  SELECT DISTINCT CAST(('0x' || substring(md5(
        |      CAST(o_custkey AS VARCHAR) || ':kmv'), 1, 15)) AS BIGINT) AS h
        |  FROM orders WHERE o_custkey IS NOT NULL
        |  ORDER BY 1 LIMIT 256),
        |m AS (
        |  SELECT DISTINCT h FROM (
        |    SELECT h FROM ha UNION ALL SELECT h FROM hb)
        |  ORDER BY 1 LIMIT 256),
        |f AS (
        |  SELECT h, h IN (SELECT h FROM ha) AS ia,
        |    h IN (SELECT h FROM hb) AS ib FROM m),
        |a AS (
        |  SELECT
        |    CAST(sum(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nboth
        |  FROM f)
        |SELECT
        |  CASE WHEN na > 0 THEN CAST(nboth AS DOUBLE) / CAST(na AS DOUBLE)
        |    ELSE 0.0 END AS containment_a_in_b,
        |  CASE WHEN nb > 0 THEN CAST(nboth AS DOUBLE) / CAST(nb AS DOUBLE)
        |    ELSE 0.0 END AS containment_b_in_a,
        |  na AS n_a, nb AS n_b, nboth AS n_both
        |FROM a""".stripMargin),

    // deterministic per-group cap — "at most k docs per domain/source",
    // the Gopher/C4-style frequency cap: survivors are the k smallest
    // id-hashes per group, stable across runs/engines/retries (a random
    // cap would churn the training set every rebuild)
    Query("q_domain_cap", (s, dir) =>
      graft.ops.Kmv.rowSampleBy(t(s, dir, "documents"),
          "source", "doc_id", 10)
        .select(col("doc_id"), col("source")),
      """WITH h AS (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substring(md5(
        |      CAST(doc_id AS VARCHAR) || ':kmv'), 1, 15)) AS BIGINT) AS h
        |  FROM documents WHERE doc_id IS NOT NULL),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |  FROM h)
        |SELECT doc_id, source FROM r WHERE rn <= 10""".stripMargin),

    // per-source length quantiles from the capped sample — the grouped
    // drift-monitoring readout (one row per source, k-bounded collects)
    Query("q_kmv_quantiles_by", (s, dir) =>
      graft.ops.Kmv.quantilesBy(
        graft.ops.Kmv.rowSampleBy(t(s, dir, "documents"),
          "source", "doc_id", 10),
        "source", "n_chars", Seq(50, 90)),
      """WITH h AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(('0x' || substring(md5(
        |      CAST(doc_id AS VARCHAR) || ':kmv'), 1, 15)) AS BIGINT) AS h
        |  FROM documents WHERE doc_id IS NOT NULL),
        |capped AS (
        |  SELECT source, n_chars FROM (
        |    SELECT source, n_chars,
        |      row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |    FROM h) WHERE rn <= 10),
        |r AS (
        |  SELECT source, n_chars AS v,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM capped WHERE n_chars IS NOT NULL)
        |SELECT source,
        |  max(CASE WHEN rn = (50 * n + 99) // 100 THEN v END) AS p50,
        |  max(CASE WHEN rn = (90 * n + 99) // 100 THEN v END) AS p90,
        |  CAST(max(n) AS INT) AS n_sample
        |FROM r GROUP BY source""".stripMargin),

    // one-pass approximate quantiles from the deterministic bottom-k
    // row sample: integer-rank extraction, every output a value the
    // table actually contains — nothing for engines to interpolate
    Query("q_kmv_quantiles", (s, dir) => {
      val o = t(s, dir, "orders")
      graft.ops.Kmv.sampleQuantiles(
        graft.ops.Kmv.rowSample(o, "o_orderkey", 1024, "o_totalprice"),
        "o_totalprice", Seq(25, 50, 75, 95))
    },
      """WITH s AS (
        |  SELECT CAST(('0x' || substring(md5(
        |      CAST(o_orderkey AS VARCHAR) || ':kmv'), 1, 15)) AS BIGINT) AS h,
        |    o_totalprice
        |  FROM orders WHERE o_orderkey IS NOT NULL
        |  ORDER BY h LIMIT 1024),
        |r AS (
        |  SELECT o_totalprice AS v,
        |    row_number() OVER (ORDER BY o_totalprice) AS rn,
        |    count(*) OVER () AS n
        |  FROM s WHERE o_totalprice IS NOT NULL)
        |SELECT
        |  max(CASE WHEN rn = (25 * n + 99) // 100 THEN v END) AS p25,
        |  max(CASE WHEN rn = (50 * n + 99) // 100 THEN v END) AS p50,
        |  max(CASE WHEN rn = (75 * n + 99) // 100 THEN v END) AS p75,
        |  max(CASE WHEN rn = (95 * n + 99) // 100 THEN v END) AS p95,
        |  CAST(max(n) AS INT) AS n_sample
        |FROM r""".stripMargin),

    // the STREAMING grouped quantile sample in batch degrade mode
    // (mapGroupsWithState with empty initial state — one batch): the
    // same bits as rowSampleBy → quantilesBy by the parity contract,
    // which the oracle restates in SQL (values ride as doubles — the
    // stream's value type)
    Query("q_kmv_quantiles_stream", (s, dir) =>
      graft.streaming.StreamOps.kmvQuantiles(
          t(s, dir, "documents"), "source", "doc_id", "n_chars",
          Seq(50, 90), k = 10)
        .toDF()
        .select(col("group").as("source"),
          expr("try_element_at(qs, 1)").as("p50"),
          expr("try_element_at(qs, 2)").as("p90"),
          col("n_sample")),
      // same construction as q_kmv_quantiles_by, values as DOUBLE — the
      // streaming twin's value type (its parity contract says batch
      // degrade mode = this pipeline, bit for bit)
      """WITH h AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(('0x' || substring(md5(
        |      CAST(doc_id AS VARCHAR) || ':kmv'), 1, 15)) AS BIGINT) AS h
        |  FROM documents WHERE doc_id IS NOT NULL),
        |capped AS (
        |  SELECT source, n_chars FROM (
        |    SELECT source, n_chars,
        |      row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |    FROM h) WHERE rn <= 10),
        |r AS (
        |  SELECT source, CAST(n_chars AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM capped WHERE n_chars IS NOT NULL)
        |SELECT source,
        |  max(CASE WHEN rn = (50 * n + 99) // 100 THEN v END) AS p50,
        |  max(CASE WHEN rn = (90 * n + 99) // 100 THEN v END) AS p90,
        |  CAST(max(n) AS INT) AS n_sample
        |FROM r GROUP BY source""".stripMargin),

    // ---- extension: approximate sketches within pinned tolerance ------
    // HLL++ distinct and quantile-sketch median, each checked against its
    // exact counterpart IN the query; the oracle pins the exact values
    // and `true` for the tolerance flags, so the driver verifies both
    // that the sketches run and that their error stays in budget
    // (HLL default rsd 0.05 -> 0.15 is a 3-sigma bound).
    Query("q_approx_sketches", (s, dir) =>
      t(s, dir, "orders").agg(
          approx_count_distinct(col("o_custkey")).as("apx_d"),
          countDistinct(col("o_custkey")).as("exact_d"),
          expr("approx_percentile(o_totalprice, 0.5, 1000)").as("apx_m"),
          expr("percentile(o_totalprice, 0.5)").as("exact_m"))
        .select(col("exact_d").as("exact_distinct"),
          (abs(col("apx_d") - col("exact_d")) <=
            col("exact_d") * 0.15).as("distinct_ok"),
          round(col("exact_m"), 2).as("exact_median"),
          (abs(col("apx_m") - col("exact_m")) <=
            col("exact_m") * 0.05).as("median_ok")),
      """SELECT count(DISTINCT o_custkey) AS exact_distinct,
        |  true AS distinct_ok,
        |  round(quantile_cont(o_totalprice, 0.5), 2) AS exact_median,
        |  true AS median_ok
        |FROM orders""".stripMargin),

    // ---- LLM: count-min sketch point frequencies ----------------------
    // the sketch-infrastructure trio's third leg (HLL distinct, MG
    // top-k, CMS any-key frequency): token counts estimated from a
    // 4x1024 cell table, probed for the exact top-20 — one-sided
    // guarantee est >= exact pinned in the output. All-BIGINT on md5
    // cells, so the oracle restates it without float concerns
    Query("q_cms_freq", (s, dir) => {
      val toks = t(s, dir, "documents").select(
        explode(TextOps.words(lower(col("text")))).as("token"))
      val sk = graft.ops.Freq.cmsSketch(toks, "token", 1024, 4)
      val top = toks.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("token")).limit(20)
      graft.ops.Freq.cmsEstimate(sk, top.select(col("token")),
          "token", 1024, 4)
        .join(top, Seq("token"))
        .select(col("token"), col("exact_n"), col("est").as("est_n"),
          (col("est") >= col("exact_n")).as("bounded"))
    },
      // the CMS construction restated: cell = md5(token ':cms' i) mod
      // 1024 per hash row i, sketch = per-cell counts, estimate = min
      // over the probe's cells with empty cells as 0
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |cells AS (
        |  SELECT i, CAST(CAST(('0x' || substring(md5(token || ':cms' || i),
        |    1, 15)) AS BIGINT) % 1024 AS INT) AS c
        |  FROM tok, unnest(generate_series(0, 3)) AS t(i)),
        |sk AS (SELECT i AS r, c, count(*) AS cnt FROM cells GROUP BY 1, 2),
        |ex AS (
        |  SELECT token, count(*) AS exact_n FROM tok GROUP BY 1
        |  ORDER BY exact_n DESC, token LIMIT 20),
        |pe AS (
        |  SELECT ex.token, ex.exact_n, i,
        |    CAST(CAST(('0x' || substring(md5(ex.token || ':cms' || i),
        |      1, 15)) AS BIGINT) % 1024 AS INT) AS c
        |  FROM ex, unnest(generate_series(0, 3)) AS t(i)),
        |est AS (
        |  SELECT pe.token, pe.exact_n, min(coalesce(sk.cnt, 0)) AS est_n
        |  FROM pe LEFT JOIN sk ON sk.r = pe.i AND sk.c = pe.c
        |  GROUP BY 1, 2)
        |SELECT token, exact_n, est_n, est_n >= exact_n AS bounded
        |FROM est""".stripMargin),

    // ---- LLM: CMS join-size preflight ---------------------------------
    // the inner-product estimator: price |orders ⋈ customer| from two
    // 4x1024 sketches — the sketch-based sibling of q_join_preflight's
    // exact key-domain costing; one-sided (est >= truth), all BIGINT
    Query("q_cms_join_size", (s, dir) => {
      val est = graft.ops.Freq.cmsJoinSize(
        graft.ops.Freq.cmsSketch(t(s, dir, "orders")
          .select(col("o_custkey").as("v")), "v", 1024, 4),
        graft.ops.Freq.cmsSketch(t(s, dir, "customer")
          .select(col("c_custkey").as("v")), "v", 1024, 4))
      val exact = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("exact_join_rows"))
      est.crossJoin(exact)
        .withColumn("bounded",
          col("est_join_rows") >= col("exact_join_rows"))
    },
      // both sketches rebuilt cell-for-cell, inner product per hash row,
      // min over the 4 rows (rows with no shared cells contribute 0)
      """WITH sa AS (
        |  SELECT i AS r,
        |    CAST(CAST(('0x' || substring(md5(o_custkey || ':cms' || i),
        |      1, 15)) AS BIGINT) % 1024 AS INT) AS c,
        |    count(*) AS cnt
        |  FROM orders, unnest(generate_series(0, 3)) AS t(i)
        |  GROUP BY 1, 2),
        |sb AS (
        |  SELECT i AS r,
        |    CAST(CAST(('0x' || substring(md5(c_custkey || ':cms' || i),
        |      1, 15)) AS BIGINT) % 1024 AS INT) AS c,
        |    count(*) AS cnt
        |  FROM customer, unnest(generate_series(0, 3)) AS t(i)
        |  GROUP BY 1, 2),
        |ip AS (
        |  SELECT sa.r, sum(sa.cnt * sb.cnt) AS ip
        |  FROM sa JOIN sb ON sa.r = sb.r AND sa.c = sb.c
        |  GROUP BY 1),
        |est AS (
        |  SELECT CAST(least(min(coalesce(ip.ip, 0)),
        |    9223372036854775807) AS BIGINT) AS est_join_rows
        |  FROM (SELECT DISTINCT r FROM sa) d LEFT JOIN ip USING (r)),
        |ex AS (
        |  SELECT count(*) AS exact_join_rows
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT est.est_join_rows, ex.exact_join_rows,
        |  est.est_join_rows >= ex.exact_join_rows AS bounded
        |FROM est, ex""".stripMargin),

    // ---- extension: exact heavy hitters via a Misra-Gries sketch ------
    // candidates from ONE bounded-summary pass (a mergeable MG typed
    // Aggregator — per-partition buffers of <= k counters, union-merged),
    // then an exact count confirm over candidates only: nothing
    // distinct-value-sized ever crosses the wire, unlike the q_vocab
    // full GROUP BY. The oracle states the exact final semantics with NO
    // sketch — a candidate-set miss would fail the hash compare, so the
    // MG guarantee itself is under oracle test. Frequency floor is the
    // exact rational 2/1000 of all tokens (BIGINT threshold arithmetic
    // on both engines — a float phi would diverge at ulp scale).
    // (ops/Freq.heavyHitters)
    Query("q_heavy_hitters", (s, dir) =>
      graft.ops.Freq.heavyHitters(
        t(s, dir, "documents")
          .select(explode(TextOps.words(lower(col("text")))).as("token")),
        "token", num = 2, den = 1000)
        .orderBy(col("cnt").desc, col("token")),
      // the md5-derived stub embedding, reproduced value-for-value; sums
      // are written left-associative to match the engine's reduce order
      // exact heavy-hitter semantics, sketch-free: the HAVING floor is the
      // same integer threshold the Spark side computes from the sketch's n
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |n AS (SELECT count(*) AS n FROM tok)
        |SELECT token, count(*) AS cnt
        |FROM tok GROUP BY token
        |HAVING count(*) >= (SELECT (2 * n + 999) // 1000 FROM n)""".stripMargin)
  )
}
