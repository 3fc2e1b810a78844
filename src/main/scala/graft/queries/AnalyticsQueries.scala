package graft
package queries

import org.apache.spark.sql.functions._

import graft.engine.Frame
import Fixtures._

/** Statistics, distributions, data-quality and privacy audits. */
private[graft] object AnalyticsQueries {

  val queries: Seq[Query] = Seq(

    // ---- extension: exact ROC AUC (Mann-Whitney, tie-corrected) -------
    // does the stopword-ratio score separate en from non-en? the decile
    // lift's single-number companion: all-integer doubled tie-averaged
    // ranks, one truncating micros divide (ops/Profile.aucExact)
    Query("q_auc", (s, dir) => {
      val ws = split(trim(lower(col("text"))), "\\s+")
      val scored = t(s, dir, "documents")
        .withColumn("__ns", size(filter(ws,
          w => w.isin("the", "a", "and", "of", "to"))).cast("long"))
        .withColumn("__nt", greatest(size(ws), lit(1)).cast("long"))
        .withColumn("score_micros", expr("(1000000L * __ns) div __nt"))
        .select(col("score_micros"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      graft.ops.Profile.aucExact(scored, "score_micros", "y")
    },
      // mirrors Profile.aucExact: same integer score, same doubled
      // tie-averaged rank construction
      """WITH s AS (
        |  SELECT (1000000 * len(list_filter(
        |       string_split_regex(trim(lower(text)), '\s+'),
        |       x -> x IN ('the', 'a', 'and', 'of', 'to'))))
        |    // greatest(len(string_split_regex(trim(lower(text)), '\s+')), 1)
        |      AS sc,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |g AS (
        |  SELECT sc, CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(y) AS BIGINT) AS m_pos
        |  FROM s GROUP BY 1),
        |c AS (
        |  SELECT *, coalesce(sum(m) OVER (ORDER BY sc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM g),
        |f AS (
        |  SELECT CAST(sum(m_pos) AS BIGINT) AS n_pos,
        |    CAST(sum(m) - sum(m_pos) AS BIGINT) AS n_neg,
        |    CAST(sum(m_pos * (2 * cum_before + m + 1)) AS BIGINT) AS r2
        |  FROM c)
        |SELECT n_pos, n_neg,
        |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |       ELSE (1000000 * (r2 - n_pos * (n_pos + 1)))
        |            // (2 * n_pos * n_neg) END AS auc_micros
        |FROM f""".stripMargin),

    // ---- extension: decile lift / calibration table -------------------
    // the model-eval companion of the quality-score family: docs bucketed
    // into exact score deciles (binByQuantile over the integer-micros
    // stopword-ratio score), then per decile the en-label positive rate
    // in exact micros — the lift/calibration table that says whether a
    // filter score actually orders the label
    Query("q_decile_lift", (s, dir) => {
      val ws = split(trim(lower(col("text"))), "\\s+")
      val scored = t(s, dir, "documents")
        .withColumn("__ns", size(filter(ws,
          w => w.isin("the", "a", "and", "of", "to"))).cast("long"))
        .withColumn("__nt", greatest(size(ws), lit(1)).cast("long"))
        .withColumn("score_micros", expr("(1000000L * __ns) div __nt"))
        .select(col("doc_id"), col("score_micros"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      val bins = graft.ops.Profile.binByQuantile(scored, "doc_id",
        "score_micros", nBins = 10, scale = 0)
      bins.join(scored, Seq("doc_id"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
        .withColumn("pos_rate_micros", expr("(1000000L * n_pos) div n"))
    },
      // mirrors q_decile_lift: same integer score, same CDF bin rule
      """WITH s AS (
        |  SELECT doc_id,
        |    (1000000 * len(list_filter(
        |       string_split_regex(trim(lower(text)), '\s+'),
        |       x -> x IN ('the', 'a', 'and', 'of', 'to'))))
        |    // greatest(len(string_split_regex(trim(lower(text)), '\s+')), 1)
        |      AS score_micros,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |c AS (SELECT score_micros AS u, count(*) AS n_v FROM s GROUP BY 1),
        |b AS (
        |  SELECT u, coalesce(sum(n_v) OVER (ORDER BY u
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before,
        |    sum(n_v) OVER () AS n_total
        |  FROM c),
        |m AS (SELECT u,
        |  CAST(least(9, cum_before * 10 // n_total) AS BIGINT) AS bin
        |  FROM b)
        |SELECT m.bin, count(*) AS n, CAST(sum(s.y) AS BIGINT) AS n_pos,
        |  (1000000 * CAST(sum(s.y) AS BIGINT)) // count(*) AS pos_rate_micros
        |FROM s JOIN m ON s.score_micros = m.u
        |GROUP BY m.bin""".stripMargin),

    // ---- extension: row-level z-score standardization -----------------
    // every event's value scaled against its type's own exact integer
    // moments, cancellation-free form — the distance-model featurization
    // transform (ops/Profile.standardize)
    Query("q_standardize", (s, dir) =>
      graft.ops.Profile.standardize(t(s, dir, "events"),
        "event_id", "event_type", "value"),
      // mirrors Profile.standardize: same exact integer moments, same
      // cancellation-free z chain (one divide, one sqrt per row)
      """WITH r AS (
        |  SELECT event_id, event_type,
        |    CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)
        |      AS value_unit
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(value_unit) AS BIGINT) AS s1,
        |    CAST(sum(value_unit * value_unit) AS BIGINT) AS s2
        |  FROM r GROUP BY 1)
        |SELECT r.event_id, r.event_type, r.value_unit,
        |  CASE WHEN n * s2 - s1 * s1 = 0 THEN NULL
        |       ELSE CAST(r.value_unit * n - s1 AS DOUBLE)
        |            / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) END AS z
        |FROM r JOIN m USING (event_type)""".stripMargin),

    // ---- extension: join preflight (exact output-cardinality report) --
    // would lineitem JOIN orders explode? state the inner-join output
    // size EXACTLY from the two key-count tables before shipping the
    // join; the hottest key and its product say whether to salt
    // (ops/Profile.joinPreflight)
    Query("q_join_preflight", (s, dir) =>
      graft.ops.Profile.joinPreflight(
        t(s, dir, "lineitem"), "l_orderkey",
        t(s, dir, "orders"), "o_orderkey"),
      // mirrors Profile.joinPreflight: same non-null-key universes, same
      // (product, string-key) tie order for the hot key
      """WITH cl AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS k, count(*) AS cl
        |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |cr AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS k, count(*) AS cr
        |  FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
        |j AS (
        |  SELECT coalesce(cl.k, cr.k) AS k, cl.cl, cr.cr, cl.cl * cr.cr AS prod
        |  FROM cl FULL OUTER JOIN cr ON cl.k = cr.k)
        |SELECT
        |  CAST(sum(coalesce(cl, 0)) AS BIGINT) AS n_left,
        |  CAST(sum(coalesce(cr, 0)) AS BIGINT) AS n_right,
        |  count(cl) AS left_keys, count(cr) AS right_keys,
        |  count(prod) AS matched_keys,
        |  CAST(coalesce(sum(prod), 0) AS BIGINT) AS est_rows,
        |  max(prod) AS max_key_product,
        |  (SELECT k FROM j WHERE prod IS NOT NULL
        |   ORDER BY prod DESC, k DESC LIMIT 1) AS hot_key
        |FROM j""".stripMargin),

    // ---- extension: stable k-fold cross-validation assignment ---------
    // md5(doc_id:seed) mod 5 folds over documents, reported as per-fold
    // counts + char sums (ops/Sampling.kFold — the stableSplit
    // convention widened to k buckets; folds survive any engine/retry)
    Query("q_kfold", (s, dir) => {
      graft.ops.Sampling.kFold(t(s, dir, "documents"), "doc_id", 5)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
    },
      // mirrors Sampling.kFold's md5 bucket construction
      """WITH b AS (
        |  SELECT n_chars,
        |    CAST(CAST(('0x' || substring(md5(doc_id::VARCHAR || ':42'),
        |      1, 12)) AS BIGINT) % 5 AS INT) AS fold
        |  FROM documents)
        |SELECT fold, count(*) AS n, CAST(sum(n_chars) AS BIGINT)
        |  AS sum_chars
        |FROM b GROUP BY 1""".stripMargin),

    // ---- extension: bootstrap CI for a mean (Poissonized resampling) --
    // 200 deterministic replicates in one pass (explode by B, exact
    // integer sums per replicate, order-statistic quantiles over the
    // B replicate means); md5-seeded Poisson(1) weights from literal
    // CDF constants so both engines draw identically
    Query("q_bootstrap_ci", (s, dir) =>
      graft.ops.Profile.bootstrapMeanCi(t(s, dir, "documents"),
        "doc_id", "n_chars", 200, "boot"),
      // the bootstrap restated: same md5 uniform, same literal Poisson(1)
      // CDF chain, exact BIGINT weighted sums per replicate, order
      // statistics at ranks 5 and 195 of the 200 replicate means
      """WITH rep AS (
        |  SELECT doc_id, n_chars, i AS rep,
        |    (CAST(('0x' || substring(md5(doc_id || ':' || i || ':boot'),
        |      1, 8)) AS BIGINT) + 0.5) / 4294967296.0 AS u
        |  FROM documents, unnest(generate_series(0, 199)) AS t(i)),
        |w AS (
        |  SELECT rep, n_chars,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238463 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.999916758850712 THEN 6
        |         WHEN u < 0.9999897508033253 THEN 7
        |         WHEN u < 0.999998874797402 THEN 8
        |         WHEN u < 0.9999998885745216 THEN 9
        |         ELSE 10 END AS w
        |  FROM rep),
        |m AS (
        |  SELECT rep, CAST(sum(w * n_chars) AS DOUBLE) / sum(w) AS mean_rep
        |  FROM w GROUP BY rep HAVING sum(w) > 0),
        |r AS (
        |  SELECT mean_rep, row_number() OVER (ORDER BY mean_rep, rep) AS rn,
        |    count(*) OVER () AS n_eff
        |  FROM m),
        |f AS (
        |  SELECT CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_full
        |  FROM documents)
        |SELECT f.mean_full,
        |  (SELECT mean_rep FROM r WHERE rn = 5) AS ci_lo,
        |  (SELECT mean_rep FROM r WHERE rn = 195) AS ci_hi,
        |  (SELECT CAST(any_value(n_eff) AS BIGINT) FROM r) AS n_replicates
        |FROM f""".stripMargin),

    // ---- extension: A/B comparison report (Welch's t) -----------------
    // click vs purchase value per user segment: exact decimal moment
    // sums on one (group, variant) aggregation, fixed IEEE t statistic
    // (ops/Profile.abCompare)
    Query("q_ab_test", (s, dir) => {
      graft.ops.Profile.abCompare(
        t(s, dir, "events").withColumn("segment",
          (col("user_id") % 5).cast("int")),
        "segment", "event_type", "value", "click", "purchase")
    },
      // mirrors Profile.abCompare: identical decimal moment sums and the
      // identical Welch expression tree
      """WITH e AS (
        |  SELECT CAST(user_id % 5 AS INT) AS segment, event_type, value
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |a AS (
        |  SELECT segment,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_a,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS n_b,
        |    CAST(sum(CAST(CASE WHEN event_type = 'click' THEN value
        |      ELSE 0.0 END AS DECIMAL(38,8))) AS DOUBLE) AS sa,
        |    CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value
        |      ELSE 0.0 END AS DECIMAL(38,8))) AS DOUBLE) AS sb,
        |    CAST(sum(CAST(CASE WHEN event_type = 'click'
        |      THEN value * value ELSE 0.0 END AS DECIMAL(38,8)))
        |      AS DOUBLE) AS ssa,
        |    CAST(sum(CAST(CASE WHEN event_type = 'purchase'
        |      THEN value * value ELSE 0.0 END AS DECIMAL(38,8)))
        |      AS DOUBLE) AS ssb
        |  FROM e GROUP BY 1),
        |f AS (
        |  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
        |  FROM a WHERE n_a > 1 AND n_b > 1),
        |g AS (
        |  SELECT segment, n_a, n_b, sa / na AS ma, sb / nb AS mb,
        |    (ssa - sa * sa / na) / (na - 1.0) / na
        |      + (ssb - sb * sb / nb) / (nb - 1.0) / nb AS se2,
        |    na, nb
        |  FROM f)
        |SELECT segment, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b,
        |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  round(mb - ma, 6) AS diff,
        |  CASE WHEN se2 > 0.0 THEN round((mb - ma) / sqrt(se2), 6) END
        |    AS t
        |FROM g""".stripMargin),

    // ---- extension: per-group closed-form OLS trend -------------------
    // price regressed on quantity per return flag: five decimal moment
    // sums on one group-keyed shuffle, fixed IEEE closed form over the
    // exact sums (ops/Profile.groupRegression — the covarianceMatrix
    // exactness rule, group-wise)
    Query("q_group_regression", (s, dir) =>
      graft.ops.Profile.groupRegression(t(s, dir, "lineitem"),
        "l_returnflag", "l_quantity", "l_extendedprice"),
      // mirrors Profile.groupRegression: identical decimal moment sums
      // and the identical closed-form expression tree over them
      """WITH a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE)
        |      AS sy,
        |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,8)))
        |      AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice * l_extendedprice
        |      AS DECIMAL(38,8))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,8)))
        |      AS DOUBLE) AS sxy
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY 1),
        |f AS (
        |  SELECT l_returnflag, n,
        |    sxx - sx * sx / CAST(n AS DOUBLE) AS ssx,
        |    syy - sy * sy / CAST(n AS DOUBLE) AS ssy,
        |    sxy - sx * sy / CAST(n AS DOUBLE) AS sxy_c,
        |    sx, sy
        |  FROM a)
        |SELECT l_returnflag, n,
        |  CASE WHEN ssx > 0.0 THEN round(sxy_c / ssx, 9) END AS slope,
        |  CASE WHEN ssx > 0.0 THEN
        |    round((sy - (sxy_c / ssx) * sx) / CAST(n AS DOUBLE), 9)
        |  END AS intercept,
        |  CASE WHEN ssx > 0.0 AND ssy > 0.0 THEN
        |    round(sxy_c * sxy_c / (ssx * ssy), 9) END AS r2
        |FROM f""".stripMargin),

    // ---- extension: deterministic per-group MODE ----------------------
    // most frequent l_quantity per return flag — built-in mode() is
    // tie-arbitrary on BOTH engines, so this is the tie-safe form:
    // count per (group, value), rank on (count DESC, value ASC)
    Query("q_group_mode", (s, dir) => {
      val counts = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
        .orderBy(col("n").desc, col("l_quantity"))
      counts.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("n"))
    },
      """SELECT l_returnflag, l_quantity AS mode_qty, n FROM (
        |  SELECT l_returnflag, l_quantity, count(*) AS n,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY count(*) DESC, l_quantity) AS rn
        |  FROM lineitem GROUP BY 1, 2)
        |WHERE rn = 1""".stripMargin),

    // ---- extension: exact one-pass covariance/correlation matrix ------
    // moment sums in DECIMAL(38,8) (exact for the 2-decimal fixtures),
    // final arithmetic a fixed IEEE sequence mirrored by the oracle —
    // unlike covar_pop/corr built-ins, reproducible across engines
    Query("q_covariance", (s, dir) =>
      graft.ops.Profile.covarianceMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount")),
      // the moment sums and final arithmetic mirror Profile.covarianceMatrix
      // operation-for-operation: decimal-exact sums, then the identical
      // IEEE sequence cov = sp/n - (sa/n)(sb/n),
      // corr = cov / (sqrt(va) * sqrt(vb))
      """WITH s AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS s_q,
        |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS ss_q,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS s_e,
        |    CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS ss_e,
        |    CAST(sum(CAST(l_discount AS DECIMAL(38,8))) AS DOUBLE) AS s_d,
        |    CAST(sum(CAST(l_discount * l_discount AS DECIMAL(38,8))) AS DOUBLE) AS ss_d,
        |    CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS sp_qe,
        |    CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(38,8))) AS DOUBLE) AS sp_qd,
        |    CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,8))) AS DOUBLE) AS sp_ed
        |  FROM lineitem),
        |f AS (SELECT *, CAST(n AS DOUBLE) AS nd FROM s)
        |SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n,
        |  round(sp_qe / nd - (s_q / nd) * (s_e / nd), 9) AS cov,
        |  round((sp_qe / nd - (s_q / nd) * (s_e / nd)) /
        |    (sqrt(ss_q / nd - (s_q / nd) * (s_q / nd)) *
        |     sqrt(ss_e / nd - (s_e / nd) * (s_e / nd))), 12) AS corr
        |FROM f
        |UNION ALL
        |SELECT 'l_quantity', 'l_discount', n,
        |  round(sp_qd / nd - (s_q / nd) * (s_d / nd), 9),
        |  round((sp_qd / nd - (s_q / nd) * (s_d / nd)) /
        |    (sqrt(ss_q / nd - (s_q / nd) * (s_q / nd)) *
        |     sqrt(ss_d / nd - (s_d / nd) * (s_d / nd))), 12)
        |FROM f
        |UNION ALL
        |SELECT 'l_extendedprice', 'l_discount', n,
        |  round(sp_ed / nd - (s_e / nd) * (s_d / nd), 9),
        |  round((sp_ed / nd - (s_e / nd) * (s_d / nd)) /
        |    (sqrt(ss_e / nd - (s_e / nd) * (s_e / nd)) *
        |     sqrt(ss_d / nd - (s_d / nd) * (s_d / nd))), 12)
        |FROM f""".stripMargin),

    // ---- extension: equi-width histogram (densified, fixed bounds) ----
    Query("q_histogram", (s, dir) =>
      graft.ops.Profile.histogram(t(s, dir, "orders"), "o_totalprice",
        nBins = 20, lo = 0.0, hi = 600000.0),
      // bin arithmetic mirrors Profile.histogram: floor((x-lo)/w) clamped
      // into [0, nBins), all bins densified via a generated grid
      """WITH c AS (
        |  SELECT least(greatest(CAST(floor((o_totalprice - 0.0) / 30000.0)
        |      AS BIGINT), 0), 19) AS bin, count(*) AS n
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
        |  GROUP BY 1),
        |g AS (SELECT unnest(generate_series(0, 19)) AS bin)
        |SELECT g.bin, coalesce(c.n, 0) AS n,
        |  0.0 + CAST(g.bin AS DOUBLE) * 30000.0 AS bin_lo
        |FROM g LEFT JOIN c ON g.bin = c.bin""".stripMargin),

    // ---- extension: exact two-sample KS drift statistic ---------------
    // the binning-free companion of q_drift_psi: D = max |CDF_a - CDF_b|
    // over the merged n_chars domain, all-integer (cum*n cross products
    // over the common denominator), single-digit sources vs the rest
    Query("q_ks_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Profile.ksStatistic(
        docs.where(length(col("source")) === 4),
        docs.where(length(col("source")) > 4), "n_chars")
    },
      // identical integer algebra: per-value counts, one cumulative
      // window, cross-product diffs, min-value argmax tie-break
      """WITH c AS (
        |  SELECT n_chars AS v,
        |    CAST(sum(CASE WHEN length(source) = 4 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN length(source) > 4 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY n_chars),
        |cum AS (
        |  SELECT v, sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb,
        |    sum(ca) OVER () AS na, sum(cb) OVER () AS nb
        |  FROM c WINDOW w AS (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (SELECT v, na, nb,
        |        abs(cuma * nb - cumb * na) AS dd FROM cum),
        |m AS (SELECT max(dd) AS dmax FROM d)
        |SELECT CAST(any_value(na) AS BIGINT) AS n_a,
        |  CAST(any_value(nb) AS BIGINT) AS n_b,
        |  (1000000 * CAST(any_value(dmax) AS BIGINT))
        |    // (CAST(any_value(na) AS BIGINT)
        |        * CAST(any_value(nb) AS BIGINT)) AS ks_micros,
        |  CAST(min(v) AS BIGINT) AS ks_at
        |FROM d, m WHERE d.dd = m.dmax""".stripMargin),

    // ---- extension: weighted exact percentiles ------------------------
    // price percentiles weighted by units shipped, per return flag —
    // the pre-aggregated-data form of the integer-CDF order statistic
    // (ops/Profile.exactPercentilesWeighted); l_quantity is integral
    Query("q_weighted_percentiles", (s, dir) =>
      graft.ops.Profile.exactPercentilesWeighted(t(s, dir, "lineitem"),
        "l_returnflag", "l_extendedprice", "l_quantity", Seq(50, 95)),
      // mirrors Profile.exactPercentilesWeighted: cumulative WEIGHTS in
      // the CDF, weighted rank ceil(W*p/100)
      """WITH c AS (
        |  SELECT l_returnflag AS g,
        |    CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * 100, 0)
        |      AS BIGINT) AS u,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS n_v
        |  FROM lineitem GROUP BY 1, 2),
        |b AS (
        |  SELECT *, coalesce(sum(n_v) OVER (PARTITION BY g ORDER BY u
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before,
        |    sum(n_v) OVER (PARTITION BY g) AS n_total
        |  FROM c),
        |e AS (
        |  SELECT b.*, p FROM b
        |  CROSS JOIN (SELECT unnest([50, 95]) AS p))
        |SELECT g AS l_returnflag, CAST(p AS INT) AS p, u AS value_unit,
        |  CAST(n_total AS BIGINT) AS total_weight
        |FROM e
        |WHERE cum_before < (n_total * p + 99) // 100
        |  AND (n_total * p + 99) // 100 <= cum_before + n_v""".stripMargin),

    // ---- extension: winsorized robust mean ----------------------------
    // per-event-type mean of value clamped into its exact-CDF p5/p95
    // band — integer end to end, two final IEEE divides
    // (ops/Profile.winsorizedMean)
    Query("q_winsorized_mean", (s, dir) =>
      graft.ops.Profile.winsorizedMean(t(s, dir, "events"),
        "event_type", "value"),
      // mirrors Profile.winsorizedMean: the q_group_percentiles CDF pick
      // at p5/p95, clamp, exact integer mean
      """WITH c AS (
        |  SELECT event_type AS g,
        |    CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)
        |      AS u, count(*) AS n_v
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT *, coalesce(sum(n_v) OVER (PARTITION BY g ORDER BY u
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before,
        |    sum(n_v) OVER (PARTITION BY g) AS n_total
        |  FROM c),
        |e AS (
        |  SELECT b.*, p FROM b CROSS JOIN (SELECT unnest([5, 95]) AS p)),
        |pk AS (
        |  SELECT g, p, u FROM e
        |  WHERE cum_before < (n_total * p + 99) // 100
        |    AND (n_total * p + 99) // 100 <= cum_before + n_v),
        |bounds AS (
        |  SELECT g, min(CASE WHEN p = 5 THEN u END) AS lo_unit,
        |    min(CASE WHEN p = 95 THEN u END) AS hi_unit
        |  FROM pk GROUP BY 1),
        |rows_u AS (
        |  SELECT event_type AS g,
        |    CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)
        |      AS u
        |  FROM events)
        |SELECT r.g AS event_type, count(*) AS n,
        |  min(lo_unit) AS lo_unit, min(hi_unit) AS hi_unit,
        |  CAST(sum(least(greatest(r.u, lo_unit), hi_unit)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 100.0 AS winsorized_mean
        |FROM rows_u r JOIN bounds USING (g) GROUP BY 1""".stripMargin),

    // ---- extension: robust outliers via median/MAD --------------------
    // per-event-type count of values with |x - median| * 10 > 30 * MAD:
    // two integer-CDF median picks + one exact BIGINT inequality, no
    // float anywhere (ops/Profile.madOutliers)
    Query("q_mad_outliers", (s, dir) =>
      graft.ops.Profile.madOutliers(t(s, dir, "events"),
        "event_type", "value", kTenths = 30),
      // mirrors Profile.madOutliers: the same two integer-CDF lower-median
      // picks and the tenths-scaled BIGINT outlier inequality
      """WITH gu AS (
        |  SELECT event_type AS g,
        |    CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)
        |      AS u
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |c1 AS (SELECT g, u, count(*) AS n_v FROM gu GROUP BY 1, 2),
        |b1 AS (
        |  SELECT *, coalesce(sum(n_v) OVER (PARTITION BY g ORDER BY u
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before,
        |    sum(n_v) OVER (PARTITION BY g) AS n_total
        |  FROM c1),
        |med AS (
        |  SELECT g, u AS m FROM b1
        |  WHERE cum_before < (n_total + 1) // 2
        |    AND (n_total + 1) // 2 <= cum_before + n_v),
        |dev AS (
        |  SELECT gu.g, abs(gu.u - med.m) AS du, med.m
        |  FROM gu JOIN med USING (g)),
        |c2 AS (SELECT g, du, count(*) AS n_v FROM dev GROUP BY 1, 2),
        |b2 AS (
        |  SELECT *, coalesce(sum(n_v) OVER (PARTITION BY g ORDER BY du
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before,
        |    sum(n_v) OVER (PARTITION BY g) AS n_total
        |  FROM c2),
        |mad AS (
        |  SELECT g, du AS mad FROM b2
        |  WHERE cum_before < (n_total + 1) // 2
        |    AND (n_total + 1) // 2 <= cum_before + n_v)
        |SELECT dev.g AS event_type, count(*) AS n,
        |  CAST(min(dev.m) AS BIGINT) AS median_unit,
        |  CAST(min(mad.mad) AS BIGINT) AS mad_unit,
        |  CAST(sum(CASE WHEN dev.du * 10 > mad.mad * 30 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (g) GROUP BY 1""".stripMargin),

    // ---- extension: exact per-group percentiles (no interpolation) ----
    // p25/p50/p75/p90 of value per event type as LOWER order statistics
    // at rank ceil(n*p/100) over the integer CDF — actual data values,
    // no float seam on either engine (ops/Profile.exactPercentiles)
    Query("q_group_percentiles", (s, dir) =>
      graft.ops.Profile.exactPercentiles(t(s, dir, "events"),
        "event_type", "value", Seq(25, 50, 75, 90)),
      // mirrors Profile.exactPercentiles: per-group integer CDF, lower
      // order statistic at rank ceil(n*p/100) = (n*p + 99) // 100
      """WITH c AS (
        |  SELECT event_type AS g,
        |    CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)
        |      AS u, count(*) AS n_v
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT *, coalesce(sum(n_v) OVER (PARTITION BY g ORDER BY u
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before,
        |    sum(n_v) OVER (PARTITION BY g) AS n_total
        |  FROM c),
        |e AS (
        |  SELECT b.*, p FROM b
        |  CROSS JOIN (SELECT unnest([25, 50, 75, 90]) AS p))
        |SELECT g AS event_type, CAST(p AS INT) AS p, u AS value_unit,
        |  CAST(n_total AS BIGINT) AS n_total
        |FROM e
        |WHERE cum_before < (n_total * p + 99) // 100
        |  AND (n_total * p + 99) // 100 <= cum_before + n_v""".stripMargin),

    // ---- extension: equi-depth (quantile) histogram -------------------
    // 20 ~equal-population buckets over l_extendedprice WITHOUT
    // quantile interpolation: bins from an exact integer CDF over the
    // distinct cent-value domain (ops/Profile.histogramEqDepth) — every
    // output column integer-derived, nothing for engines to round
    Query("q_histogram_eqdepth", (s, dir) =>
      graft.ops.Profile.histogramEqDepth(
        t(s, dir, "lineitem"), "l_extendedprice", nBins = 20),
      // mirrors Profile.histogramEqDepth: exact integer CDF over distinct
      // cent values, floor-div bin assignment (all-positive, so DuckDB's
      // flooring // equals Spark's truncating div)
      """WITH c AS (
        |  SELECT CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * 100, 0)
        |    AS BIGINT) AS u, count(*) AS n_v
        |  FROM lineitem GROUP BY 1),
        |b AS (
        |  SELECT u, n_v,
        |    coalesce(sum(n_v) OVER (ORDER BY u
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before,
        |    sum(n_v) OVER () AS n_total
        |  FROM c)
        |SELECT CAST(least(19, cum_before * 20 // n_total) AS BIGINT) AS bin,
        |  CAST(sum(n_v) AS BIGINT) AS n,
        |  min(u) AS lo_unit, max(u) AS hi_unit,
        |  CAST(sum(u * n_v) AS BIGINT) AS sum_unit
        |FROM b GROUP BY 1""".stripMargin),

    // ---- quality: PSI drift report (distribution-shift monitor) -------
    // per-bin Population Stability Index of the purchase slice vs all
    // other event types over value in [0, 500), 20 bins; quantized ln
    Query("q_drift_psi", (s, dir) => {
      val e = t(s, dir, "events")
      graft.ops.Profile.driftReport(
        e.where(col("event_type") =!= "purchase"),
        e.where(col("event_type") === "purchase"),
        "value", nBins = 20, lo = 0.0, hi = 500.0)
    },
      // mirrors Profile.driftReport token-for-token: same clamped-bin
      // expression as q_histogram, window-total shares, quantized ln
      """WITH rb AS (
        |  SELECT least(greatest(CAST(floor((CAST(value AS DOUBLE) - 0.0)
        |      / 25.0) AS BIGINT), 0), 19) AS bin, count(*) AS n
        |  FROM events
        |  WHERE event_type <> 'purchase'
        |    AND value IS NOT NULL AND NOT isnan(value)
        |  GROUP BY 1),
        |cb AS (
        |  SELECT least(greatest(CAST(floor((CAST(value AS DOUBLE) - 0.0)
        |      / 25.0) AS BIGINT), 0), 19) AS bin, count(*) AS n
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND value IS NOT NULL AND NOT isnan(value)
        |  GROUP BY 1),
        |grid AS (SELECT unnest(generate_series(0, 19)) AS bin),
        |h AS (
        |  SELECT g.bin, 0.0 + CAST(g.bin AS DOUBLE) * 25.0 AS bin_lo,
        |    CAST(coalesce(rb.n, 0) AS BIGINT) AS n_ref,
        |    CAST(coalesce(cb.n, 0) AS BIGINT) AS n_cur
        |  FROM grid g
        |  LEFT JOIN rb ON g.bin = rb.bin
        |  LEFT JOIN cb ON g.bin = cb.bin),
        |s AS (
        |  SELECT *,
        |    greatest(CAST(n_ref AS DOUBLE) /
        |      CAST(sum(n_ref) OVER () AS DOUBLE), 1e-6) AS rs,
        |    greatest(CAST(n_cur AS DOUBLE) /
        |      CAST(sum(n_cur) OVER () AS DOUBLE), 1e-6) AS cs
        |  FROM h)
        |SELECT bin, bin_lo, n_ref, n_cur,
        |  round((cs - rs) * round(ln(cs / rs), 6), 6) AS psi_contrib
        |FROM s""".stripMargin),

    // ---- extension: row-level quantile binning (featurization) --------
    // every event's value bucketized into its exact equi-depth decile
    // under the integer-CDF rule shared with q_histogram_eqdepth — the
    // no-interpolation bucketize-by-quantile feature transform
    // (ops/Profile.binByQuantile)
    Query("q_quantile_bins", (s, dir) =>
      graft.ops.Profile.binByQuantile(
        t(s, dir, "events").where(col("event_id") < 3000),
        "event_id", "value", nBins = 10),
      // mirrors Profile.binByQuantile: same quantized unit, same integer
      // CDF, same bin rule
      """WITH e AS (
        |  SELECT event_id,
        |    CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)
        |      AS value_unit
        |  FROM events
        |  WHERE event_id < 3000 AND value IS NOT NULL AND NOT isnan(value)),
        |c AS (SELECT value_unit AS u, count(*) AS n_v FROM e GROUP BY 1),
        |b AS (
        |  SELECT u, coalesce(sum(n_v) OVER (ORDER BY u
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before,
        |    sum(n_v) OVER () AS n_total
        |  FROM c),
        |m AS (SELECT u,
        |  CAST(least(9, cum_before * 10 // n_total) AS BIGINT) AS bin
        |  FROM b)
        |SELECT e.event_id, e.value_unit, m.bin
        |FROM e JOIN m ON e.value_unit = m.u""".stripMargin),

    // ---- extension: market-basket co-occurrence lift ------------------
    // bought-together parts per order with exact fixed-point lift; the
    // per-basket self-join is bounded by the basket-size cap (oversized
    // baskets drop whole — at sf0.01 that's real: orders run up to 13
    // distinct parts vs the cap of 5) (ops/Baskets.liftPairs)
    Query("q_basket_lift", (s, dir) =>
      graft.ops.Baskets.liftPairs(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", maxBasketSize = 5, minPairCount = 2),
      // mirrors Baskets.liftPairs: same capped universe for pairs, support
      // counts, and the basket total; same truncating fixed-point lift
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |sz AS (SELECT b, count(*) AS n FROM it GROUP BY b),
        |ok AS (SELECT it.b, it.i FROM it JOIN sz USING (b) WHERE sz.n <= 5),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM ok),
        |sup AS (SELECT i, CAST(count(*) AS BIGINT) AS cnt FROM ok GROUP BY i),
        |pr AS (
        |  SELECT x.i AS item_a, y.i AS item_b,
        |    CAST(count(*) AS BIGINT) AS pair_cnt
        |  FROM ok x JOIN ok y ON x.b = y.b AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pr.item_a, pr.item_b, pr.pair_cnt,
        |  sa.cnt AS cnt_a, sb.cnt AS cnt_b,
        |  (1000000 * nb.n_baskets * pr.pair_cnt) // (sa.cnt * sb.cnt)
        |    AS lift_micros
        |FROM pr
        |JOIN sup sa ON pr.item_a = sa.i
        |JOIN sup sb ON pr.item_b = sb.i
        |CROSS JOIN nb""".stripMargin),

    // ---- LLM: ingestion profiling (per-column quality summary) --------
    // exactDistinct so the oracle can mirror; long/string columns only
    // (double min/max stringification differs across engines)
    Query("q_profile", (s, dir) =>
      Frame(t(s, dir, "documents"))
        .profile(Seq("doc_id", "lang", "source", "n_chars"),
          exactDistinct = true).df,
      """SELECT 'doc_id' AS col_name, count(*) AS n_rows,
        |  count(*) - count(doc_id) AS n_null,
        |  count(DISTINCT doc_id) AS n_distinct,
        |  CAST(min(doc_id) AS VARCHAR) AS min_s,
        |  CAST(max(doc_id) AS VARCHAR) AS max_s FROM documents
        |UNION ALL
        |SELECT 'lang', count(*), count(*) - count(lang),
        |  count(DISTINCT lang), min(lang), max(lang) FROM documents
        |UNION ALL
        |SELECT 'source', count(*), count(*) - count(source),
        |  count(DISTINCT source), min(source), max(source) FROM documents
        |UNION ALL
        |SELECT 'n_chars', count(*), count(*) - count(n_chars),
        |  count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
        |  CAST(max(n_chars) AS VARCHAR) FROM documents""".stripMargin),

    // ---- extension: join-key skew diagnostics -------------------------
    // the pre-shuffle measurement that decides hash vs salted vs
    // broadcast: l_orderkey (mild skew), l_suppkey (balanced),
    // l_returnflag (3 keys, catastrophic if hash-partitioned)
    Query("q_skew_report", (s, dir) =>
      graft.ops.Profile.skewReport(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_suppkey", "l_returnflag")),
      // per-key-column blocks over the same grouped counts the engine
      // aggregates; integer '/' is float division in both engines, so the
      // skew-ratio arithmetic matches token for token
      """WITH c1 AS (SELECT CAST(l_orderkey AS VARCHAR) AS key, count(*) AS cnt
        |            FROM lineitem GROUP BY 1),
        |c2 AS (SELECT CAST(l_suppkey AS VARCHAR) AS key, count(*) AS cnt
        |       FROM lineitem GROUP BY 1),
        |c3 AS (SELECT CAST(l_returnflag AS VARCHAR) AS key, count(*) AS cnt
        |       FROM lineitem GROUP BY 1)
        |SELECT 'l_orderkey' AS key_col, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  count(*) AS n_keys, CAST(max(cnt) AS BIGINT) AS max_key_rows,
        |  (SELECT key FROM c1 ORDER BY cnt DESC, key NULLS FIRST LIMIT 1) AS top_key,
        |  round(max(cnt) / (CAST(sum(cnt) AS BIGINT) / count(*)), 6) AS skew_ratio,
        |  round(max(cnt) / CAST(sum(cnt) AS BIGINT), 6) AS top_share,
        |  round(quantile_cont(cnt, 0.5), 6) AS p50_key_rows,
        |  round(quantile_cont(cnt, 0.99), 6) AS p99_key_rows
        |FROM c1
        |UNION ALL
        |SELECT 'l_suppkey', CAST(sum(cnt) AS BIGINT), count(*),
        |  CAST(max(cnt) AS BIGINT),
        |  (SELECT key FROM c2 ORDER BY cnt DESC, key NULLS FIRST LIMIT 1),
        |  round(max(cnt) / (CAST(sum(cnt) AS BIGINT) / count(*)), 6),
        |  round(max(cnt) / CAST(sum(cnt) AS BIGINT), 6),
        |  round(quantile_cont(cnt, 0.5), 6), round(quantile_cont(cnt, 0.99), 6)
        |FROM c2
        |UNION ALL
        |SELECT 'l_returnflag', CAST(sum(cnt) AS BIGINT), count(*),
        |  CAST(max(cnt) AS BIGINT),
        |  (SELECT key FROM c3 ORDER BY cnt DESC, key NULLS FIRST LIMIT 1),
        |  round(max(cnt) / (CAST(sum(cnt) AS BIGINT) / count(*)), 6),
        |  round(max(cnt) / CAST(sum(cnt) AS BIGINT), 6),
        |  round(quantile_cont(cnt, 0.5), 6), round(quantile_cont(cnt, 0.99), 6)
        |FROM c3""".stripMargin),

    // ---- extension: per-row DQ annotation (the gate form) -------------
    // every event annotated with the rules it fails, '|'-joined in
    // declaration order, '' = clean (ops/Dq.annotate — the same
    // expression the streaming dqGate runs per micro-batch; pure
    // per-row codegen, pipelines in the scan)
    Query("q_dq_annotate", (s, dir) => {
      graft.ops.Dq.annotate(eventsUsLong(s, dir),
          Seq(
            "value_range" -> (col("value") < 0.0 || col("value") > 400.0),
            "type_domain" -> !col("event_type").isin(
              "click", "view", "purchase", "signup"),
            "user_known" -> (col("user_id") >= 100)))
        .select(col("event_id"), col("violations"))
    },
      // mirrors Dq.annotate: concat_ws skips the NULL marks of passing
      // rules on both engines, so the joined string is the violation
      // list in declaration order
      """SELECT event_id, concat_ws('|',
        |  CASE WHEN value < 0.0 OR value > 400.0 THEN 'value_range' END,
        |  CASE WHEN event_type NOT IN ('click', 'view', 'purchase',
        |    'signup') THEN 'type_domain' END,
        |  CASE WHEN user_id >= 100 THEN 'user_known' END) AS violations
        |FROM events""".stripMargin),

    // ---- extension: data-quality expectations report ------------------
    // five named rules over lineitem in three passes TOTAL: all row
    // rules (null / range / domain) fold into ONE full-scan aggregate,
    // the uniqueness rule is one keyed agg (and FIRES on this data —
    // (l_orderkey, l_linenumber) is not unique in the fixture), the
    // FK rule is one anti join (ops/Dq.report)
    Query("q_dq_checks", (s, dir) => {
      graft.ops.Dq.report(t(s, dir, "lineitem"),
        rowRules = Seq(
          "not_null:l_orderkey" -> col("l_orderkey").isNull,
          "range:l_quantity:1-45" ->
            (col("l_quantity") < 1.0 || col("l_quantity") > 45.0),
          "range:l_discount:0-0.08" ->
            (col("l_discount") < 0.0 || col("l_discount") > 0.08),
          "domain:l_returnflag" ->
            !col("l_returnflag").isin("A", "N", "R")),
        uniqueRules = Seq(graft.ops.Dq.UniqueRule(
          "unique:l_orderkey+l_linenumber",
          Seq("l_orderkey", "l_linenumber"))),
        refRules = Seq(graft.ops.Dq.RefRule(
          "ref:l_orderkey->orders", Seq("l_orderkey"),
          t(s, dir, "orders"), Seq("o_orderkey"))))
    },
      // mirrors Dq.report rule for rule: conditional sums for the row
      // rules, sum(cnt-1) for uniqueness, NOT EXISTS on non-NULL keys
      // for referential integrity
      """SELECT 'not_null:l_orderkey' AS rule,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS violations FROM lineitem
        |UNION ALL
        |SELECT 'range:l_quantity:1-45',
        |  CAST(sum(CASE WHEN l_quantity < 1.0 OR l_quantity > 45.0
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'range:l_discount:0-0.08',
        |  CAST(sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.08
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'domain:l_returnflag',
        |  CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'unique:l_orderkey+l_linenumber',
        |  (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM (
        |    SELECT count(*) AS c FROM lineitem
        |    GROUP BY l_orderkey, l_linenumber))
        |UNION ALL
        |SELECT 'ref:l_orderkey->orders',
        |  (SELECT count(*) FROM lineitem l
        |   WHERE l_orderkey IS NOT NULL AND NOT EXISTS (
        |     SELECT 1 FROM orders o
        |     WHERE o.o_orderkey = l.l_orderkey))""".stripMargin),

    // ---- LLM: privacy / governance audits (ops/Privacy.scala) ---------
    // k-anonymity over (nation, segment) quasi-identifiers: one
    // hash-agg, one row per equivalence class, violation = class < k
    Query("q_k_anonymity", (s, dir) =>
      graft.ops.Privacy.kAnonymityAudit(t(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), 10)
        .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
          col("violating")),
      """SELECT c_nationkey, c_mktsegment, count(*) AS n,
        |  count(*) < 10 AS violating
        |FROM customer GROUP BY 1, 2""".stripMargin),

    // l-diversity with account-balance band as the sensitive attribute:
    // catches the homogeneity attack k-anonymity misses
    Query("q_l_diversity", (s, dir) =>
      graft.ops.Privacy.lDiversityAudit(
          t(s, dir, "customer").withColumn("bal_band",
            floor(col("c_acctbal") / 2000).cast("long")),
          Seq("c_nationkey", "c_mktsegment"), "bal_band", 3)
        .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
          col("n_sensitive"), col("violating")),
      """WITH b AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band
        |  FROM customer)
        |SELECT c_nationkey, c_mktsegment, count(*) AS n,
        |  count(DISTINCT bal_band) AS n_sensitive,
        |  count(DISTINCT bal_band) < 3 AS violating
        |FROM b GROUP BY 1, 2""".stripMargin),

    // cell suppression to the k target: quasi columns nulled in small
    // classes, every row survives — unordered window, one shuffle
    Query("q_k_suppress", (s, dir) =>
      graft.ops.Privacy.suppressToKAnonymity(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment")),
          Seq("c_nationkey", "c_mktsegment"), 10),
      """WITH sized AS (
        |  SELECT c_custkey, c_nationkey, c_mktsegment,
        |    count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS cn
        |  FROM customer)
        |SELECT c_custkey,
        |  CASE WHEN cn < 10 THEN NULL ELSE c_nationkey END AS c_nationkey,
        |  CASE WHEN cn < 10 THEN NULL ELSE c_mktsegment END AS c_mktsegment
        |FROM sized""".stripMargin),

    // differentially-private count release: discrete-Laplace noise from
    // md5-seeded geometric pairs — deterministic per (group, seed), so
    // retries republish identical values and the oracle can restate it
    Query("q_dp_counts", (s, dir) =>
      graft.ops.Privacy.dpNoisyCounts(t(s, dir, "orders"),
        "o_orderpriority", 0.5, "graft-r7"),
      // the discrete-Laplace release restated: u = (md5-head32 + 0.5)/2^32,
      // geometric = floor(ln(u) / -epsilon), noise = g1 - g2; ln(p) is
      // written -0.5 directly (p = e^-0.5) so neither engine computes an
      // exp/ln roundtrip
      """WITH g AS (
        |  SELECT o_orderpriority, count(*) AS exact_n
        |  FROM orders GROUP BY 1),
        |u AS (
        |  SELECT o_orderpriority, exact_n,
        |    (CAST(('0x' || substring(md5('v:' || o_orderpriority
        |      || 'graft-r7:g1'),
        |      1, 8)) AS BIGINT) + 0.5) / 4294967296.0 AS u1,
        |    (CAST(('0x' || substring(md5('v:' || o_orderpriority
        |      || 'graft-r7:g2'),
        |      1, 8)) AS BIGINT) + 0.5) / 4294967296.0 AS u2
        |  FROM g)
        |SELECT o_orderpriority, exact_n,
        |  exact_n + CAST(floor(ln(u1) / -0.5) AS BIGINT)
        |          - CAST(floor(ln(u2) / -0.5) AS BIGINT) AS noisy_n
        |FROM u""".stripMargin),

    // ---- LLM: cross-source quantile normalization --------------------
    // each source's n_chars distribution maps onto the pooled one via a
    // 16-bin equi-depth reference — all-integer rank arithmetic (the
    // interpolation-free quantile convention), so scorers with
    // arbitrary scales become comparable by rank
    Query("q_quantile_normalize", (s, dir) =>
      graft.ops.Profile.quantileNormalize(t(s, dir, "documents"),
        "doc_id", "source", "n_chars", 16),
      // the normalization restated: domain CDF -> per-domain-row covered
      // bin range -> boundary table; per-source integer rank -> bin ->
      // boundary join. Integer div throughout, no interpolation
      """WITH dom AS (
        |  SELECT n_chars AS v, count(*) AS cnt FROM documents GROUP BY 1),
        |cdf AS (
        |  SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum,
        |    sum(cnt) OVER () AS n
        |  FROM dom),
        |bounds AS (
        |  SELECT k, v AS normalized
        |  FROM (SELECT v,
        |          CAST((cum - cnt) * 16 // n + 1 AS BIGINT) AS k_lo,
        |          CAST(cum * 16 // n AS BIGINT) AS k_hi
        |        FROM cdf),
        |    unnest(generate_series(k_lo, k_hi)) AS t(k)),
        |grp AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars, doc_id) AS r,
        |    count(*) OVER (PARTITION BY source) AS ng
        |  FROM documents)
        |SELECT g.doc_id, g.source, g.n_chars,
        |  (g.r * 16 + g.ng - 1) // g.ng AS q_bin,
        |  b.normalized
        |FROM grp g JOIN bounds b ON b.k = (g.r * 16 + g.ng - 1) // g.ng""".stripMargin)
  )
}
