package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.Frame
import Fixtures._

/** Event-time and time-series analytics: windows, sessions, funnels,
  * resampling, as-of and interval joins. */
private[graft] object TimeSeriesQueries {

  val queries: Seq[Query] = Seq(

    // ---- extension: event-time tumbling-window aggregation ------------
    Query("q_events_hourly", (s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts_us")).cast("string").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    },
      """SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // ---- extension: sliding event-time windows (1h size, 30m slide) ---
    Query("q_events_sliding", (s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts_us"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").cast("string").as("win_start"),
          col("event_type"), col("n")),
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 AS b
        |  FROM events),
        |x AS (
        |  SELECT event_type, unnest([b, b - 1800]) AS ws FROM e)
        |SELECT CAST(make_timestamp(ws * 1000000) AS VARCHAR) AS win_start,
        |  event_type, count(*) AS n
        |FROM x GROUP BY 1, 2""".stripMargin),

    // ---- extension: per-key lag-k autocorrelation ---------------------
    // is the value series self-similar one step back? exact BIGINT
    // moments over (u, lag(u)) pairs on the (sec, event_id) total order,
    // fixed IEEE Pearson chain (ops/TimeSeries.autocorr)
    Query("q_autocorr", (s, dir) =>
      graft.ops.TimeSeries.autocorr(events(s, dir), "event_type",
        Seq(col("ts_sec"), col("event_id")), "value", lagK = 1),
      // mirrors TimeSeries.autocorr: same lag pairing on the same total
      // order, same exact moments, same IEEE Pearson token sequence
      """WITH e AS (
        |  SELECT event_type, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)
        |      AS u
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |p AS (
        |  SELECT event_type, u,
        |    lag(u, 1) OVER (PARTITION BY event_type
        |      ORDER BY sec, event_id) AS v
        |  FROM e),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(u) AS BIGINT) AS su, CAST(sum(v) AS BIGINT) AS sv,
        |    CAST(sum(u * v) AS BIGINT) AS suv,
        |    CAST(sum(u * u) AS BIGINT) AS su2,
        |    CAST(sum(v * v) AS BIGINT) AS sv2
        |  FROM p WHERE v IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_pairs,
        |  CASE WHEN n_pairs * su2 - su * su = 0
        |         OR n_pairs * sv2 - sv * sv = 0 THEN NULL
        |       ELSE CAST(n_pairs * suv - su * sv AS DOUBLE)
        |            / (sqrt(CAST(n_pairs * su2 - su * su AS DOUBLE))
        |               * sqrt(CAST(n_pairs * sv2 - sv * sv AS DOUBLE)))
        |  END AS autocorr
        |FROM m""".stripMargin),

    // ---- extension: per-key dyadic EWMA (exact smoothing gauge) -------
    // alpha=1/2 EWMA over each event type's trailing 16 values with
    // normalized power-of-two weights — all BIGINT (quantized cents,
    // shifts, one truncating micros divide), so the smoothed series is
    // bit-identical on any engine (ops/TimeSeries.ewmaDyadic)
    Query("q_ewma", (s, dir) =>
      graft.ops.TimeSeries.ewmaDyadic(
        events(s, dir).where(col("event_id") < 5000),
        "event_type", Seq(col("ts_sec"), col("event_id")),
        "value", lookback = 16)
        .select(col("event_type"), col("event_id"),
          col("value_unit"), col("ewma_unit_micros")),
      // mirrors TimeSeries.ewmaDyadic: same trailing-16 frame list, same
      // dyadic weights (1-based list -> 1 << (i-1); Spark's 0-based
      // transform index -> 1 << i), same truncating micros divide
      """WITH e AS (
        |  SELECT event_type, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)
        |      AS value_unit
        |  FROM events
        |  WHERE event_id < 5000 AND value IS NOT NULL AND NOT isnan(value)),
        |w AS (
        |  SELECT event_type, event_id, value_unit,
        |    list(value_unit) OVER (PARTITION BY event_type
        |      ORDER BY sec, event_id
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
        |  FROM e)
        |SELECT event_type, event_id, value_unit,
        |  CAST((1000000 * list_sum(
        |     [l[i] * (1 << (i - 1)) FOR i IN generate_series(1, len(l))]))
        |    // ((1 << len(l)) - 1) AS BIGINT) AS ewma_unit_micros
        |FROM w""".stripMargin),

    // ---- extension: period-over-period share shift --------------------
    // which event type drove the mix change between the first and second
    // half of the time range (split at the integer midpoint of
    // min/max epoch secs — engine-portable); shares in exact micros
    // (ops/Profile.shareShift)
    Query("q_share_shift", (s, dir) => {
      val e = events(s, dir).select(col("event_type"), col("ts_sec"))
      val bounds = e.agg(min(col("ts_sec")).as("lo"), max(col("ts_sec")).as("hi"))
      val tagged = e.crossJoin(broadcast(bounds)) // 1-row scalar attach
      graft.ops.Profile.shareShift(tagged, "event_type",
        tagged("ts_sec") * 2 >= tagged("lo") + tagged("hi"))
    },
      // mirrors Profile.shareShift on the same midpoint split
      """WITH e AS (
        |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |b AS (SELECT min(sec) AS lo, max(sec) AS hi FROM e),
        |t AS (SELECT event_type, (sec * 2 >= lo + hi) AS is_b
        |      FROM e CROSS JOIN b),
        |g AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN is_b THEN 0 ELSE 1 END) AS BIGINT) AS cnt_a,
        |    CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
        |  FROM t GROUP BY 1),
        |w AS (
        |  SELECT *, sum(cnt_a) OVER () AS tot_a, sum(cnt_b) OVER () AS tot_b
        |  FROM g)
        |SELECT event_type, cnt_a, cnt_b,
        |  CAST(CASE WHEN tot_a = 0 THEN NULL
        |       ELSE 1000000 * cnt_a // tot_a END AS BIGINT) AS share_a_micros,
        |  CAST(CASE WHEN tot_b = 0 THEN NULL
        |       ELSE 1000000 * cnt_b // tot_b END AS BIGINT) AS share_b_micros,
        |  CAST((CASE WHEN tot_b = 0 THEN NULL
        |        ELSE 1000000 * cnt_b // tot_b END)
        |  - (CASE WHEN tot_a = 0 THEN NULL
        |          ELSE 1000000 * cnt_a // tot_a END) AS BIGINT) AS delta_micros
        |FROM w""".stripMargin),

    // ---- extension: sliding-window EXACT distinct users ---------------
    // trailing 3h distinct-user counts per hourly slide — the rolling
    // "active users" gauge. window() replicates each event into its 3
    // covering windows (cost = span/slide, here 3x) and countDistinct is
    // exact per window; at wider spans the approximate swap is
    // approx_count_distinct under the same grouping (q_approx_sketches
    // pins that path's error bounds)
    Query("q_sliding_distinct", (s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts_us"), "3 hours", "1 hour").as("w"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .select(col("w.start").cast("string").as("win_start"),
          col("n_users"), col("n_events")),
      // sliding-window replication stated directly: an event in hour b is
      // inside the 3h windows starting b, b-1h, b-2h
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS b
        |  FROM events),
        |x AS (
        |  SELECT user_id, unnest([b, b - 3600, b - 7200]) AS ws FROM e)
        |SELECT CAST(make_timestamp(ws * 1000000) AS VARCHAR) AS win_start,
        |  count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM x GROUP BY 1""".stripMargin),

    // ---- extension: sessionization via window fns (lag + running sum) -
    Query("q_sessionize", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_sec").as("sec"))
        .withColumn("brk",
          when(col("sec") - lag(col("sec"), 1).over(w) > 1800L, 1L).otherwise(0L))
        .withColumn("sess_id", sum(col("brk"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("n_events"))
    },
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |g AS (
        |  SELECT user_id, sec, event_id,
        |    CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id
        |                                   ORDER BY sec, event_id) > 1800
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (
        |  SELECT user_id,
        |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS sess_id
        |  FROM g)
        |SELECT user_id, sess_id, count(*) AS n_events
        |FROM s GROUP BY user_id, sess_id""".stripMargin),

    // ---- extension: sequential funnel (view -> signup -> purchase) ----
    // per-user stage times chained by strict ordering; each stage is a
    // keyed agg + broadcast-able join on user_id — no window needed
    Query("q_funnel", (s, dir) => {
      val ev = eventsUsLong(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_us"))
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("t0"))
      val sg = ev.where(col("event_type") === "signup")
        .join(v, Seq("user_id")).where(col("ts_us") > col("t0"))
        .groupBy("user_id").agg(min("ts_us").as("t1"))
      val p = ev.where(col("event_type") === "purchase")
        .join(sg, Seq("user_id")).where(col("ts_us") > col("t1"))
        .groupBy("user_id").agg(min("ts_us").as("t2"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(sg.agg(count(lit(1)).as("n_signup_after_view")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase_after_signup")))
    },
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |v AS (
        |  SELECT user_id, min(ts_us) AS t0 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |sg AS (
        |  SELECT e.user_id, min(ts_us) AS t1 FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'signup' AND ts_us > t0 GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN sg USING (user_id)
        |  WHERE event_type = 'purchase' AND ts_us > t1 GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |       (SELECT count(*) FROM sg) AS n_signup_after_view,
        |       (SELECT count(*) FROM p) AS n_purchase_after_signup""".stripMargin),

    // ---- extension: funnel latency percentiles ------------------------
    // how long does view -> signup take? per-user first-signup-after-
    // first-view deltas in whole seconds, then exact p50/p90 over the
    // converting users via the integer-CDF order statistic — the funnel
    // counting query's time-dimension companion, composed from the same
    // stage chain + Profile.exactPercentiles (no interpolation seam)
    Query("q_funnel_latency", (s, dir) => {
      val ev = eventsUsLong(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_us"))
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("t0"))
      val sg = ev.where(col("event_type") === "signup")
        .join(v, Seq("user_id")).where(col("ts_us") > col("t0"))
        .groupBy("user_id").agg(min("ts_us").as("t1"))
      val lat = sg.join(v, Seq("user_id"))
        .select(expr("(t1 - t0) div 1000000").as("delta_sec"),
          lit("all").as("cohort"))
      graft.ops.Profile.exactPercentiles(lat, "cohort", "delta_sec",
        Seq(50, 90), scale = 0)
    },
      // mirrors the q_funnel stage chain + the exactPercentiles CDF pick
      // over the per-user conversion deltas (integer seconds, scale 0)
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |v AS (
        |  SELECT user_id, min(ts_us) AS t0 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |sg AS (
        |  SELECT e.user_id, min(ts_us) AS t1 FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'signup' AND ts_us > t0 GROUP BY e.user_id),
        |lat AS (
        |  SELECT (t1 - t0) // 1000000 AS u FROM sg JOIN v USING (user_id)),
        |c AS (SELECT u, count(*) AS n_v FROM lat GROUP BY u),
        |b AS (
        |  SELECT *, coalesce(sum(n_v) OVER (ORDER BY u
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before,
        |    sum(n_v) OVER () AS n_total
        |  FROM c),
        |x AS (SELECT b.*, p FROM b CROSS JOIN (SELECT unnest([50, 90]) AS p))
        |SELECT 'all' AS cohort, CAST(p AS INT) AS p, u AS value_unit,
        |  CAST(n_total AS BIGINT) AS n_total
        |FROM x
        |WHERE cum_before < (n_total * p + 99) // 100
        |  AND (n_total * p + 99) // 100 <= cum_before + n_v""".stripMargin),

    // ---- extension: time-series resample + forward-fill ---------------
    // per-user hourly grid from first to last active hour; gap hours
    // carry the latest earlier hourly sum (decimal-exact), event counts
    // coalesce to zero — the feature-pipeline regularization step
    Query("q_resample_ffill", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("ts_sec"), col("value"))
      graft.ops.TimeSeries.resampleFfill(ev, "user_id",
          expr("ts_sec div 3600"),
          aggs = Seq(count(lit(1)).as("n_events"), dsum(col("value")).as("v")),
          fillCols = Seq("v"))
        .select(col("user_id"), col("bucket"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          col("v").as("v_ffill"))
    },
      """WITH hr AS (
        |  SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
        |           FROM hr GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket
        |         FROM bounds),
        |j AS (
        |  SELECT g.user_id, g.bucket,
        |    coalesce(hr.n_events, 0) AS n_events, hr.v
        |  FROM grid g LEFT JOIN hr
        |    ON g.user_id = hr.user_id AND g.bucket = hr.bucket)
        |SELECT user_id, bucket, n_events,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
        |FROM j""".stripMargin),

    // ---- extension: cohort retention matrix ---------------------------
    // hourly cohorts over events: first-active hour per user, then how
    // many of each cohort remain active k hours later — the product-
    // analytics staple (two keyed aggs + one entity join; output is
    // bounded by #buckets^2 regardless of row count)
    Query("q_cohort_retention", (s, dir) =>
      graft.ops.TimeSeries.cohortRetention(events(s, dir), "user_id",
        expr("ts_sec div 3600")),
      // mirrors TimeSeries.cohortRetention at hourly resolution: distinct
      // (user, hour) activity, min-hour cohorts, (cohort, period) counts,
      // cohort size = the period-0 count via first_value
      """WITH a AS (
        |  SELECT DISTINCT user_id AS entity,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS bucket
        |  FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT entity, min(bucket) AS cohort FROM a GROUP BY entity),
        |m AS (
        |  SELECT cohort, bucket - cohort AS period, count(*) AS n_active
        |  FROM a JOIN c USING (entity) GROUP BY 1, 2)
        |SELECT cohort, period, n_active,
        |  first_value(n_active) OVER (PARTITION BY cohort ORDER BY period
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cohort_size,
        |  round(CAST(n_active AS DOUBLE) /
        |    CAST(first_value(n_active) OVER (PARTITION BY cohort
        |      ORDER BY period
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE),
        |    6) AS retention
        |FROM m""".stripMargin),

    // ---- extension: rolling z-score outlier detection -----------------
    // each event's value scored against its user's 20 preceding values
    // (frame excludes the current row so an outlier can't mask itself);
    // decimal-accumulated frame moments keep the score cross-engine
    // bit-exact
    Query("q_rolling_zscore", (s, dir) =>
      graft.ops.TimeSeries.rollingZscore(
        events(s, dir).select(col("user_id"), col("event_id"),
          col("ts_sec").as("sec"), col("value")),
        "user_id", Seq(col("sec"), col("event_id")), "value",
        lookback = 20, minPeriods = 10),
      // mirrors TimeSeries.rollingZscore: decimal frame moments over the
      // 20-preceding-rows frame, then the identical double mean/var/z
      // token sequence; zero-variance history yields NULL z
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    value
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, sec, value,
        |    count(value) OVER fr AS n_hist,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) OVER fr AS DOUBLE) AS s,
        |    CAST(sum(CAST(value * value AS DECIMAL(28,8))) OVER fr AS DOUBLE)
        |      AS s2
        |  FROM e
        |  WINDOW fr AS (PARTITION BY user_id ORDER BY sec, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT user_id, event_id, sec, value, n_hist,
        |    round(s / n_hist, 6) AS mean_hist,
        |    CASE WHEN greatest(s2 / n_hist - (s / n_hist) * (s / n_hist),
        |        0.0) > 0.0
        |      THEN round((value - s / n_hist) /
        |        sqrt(greatest(s2 / n_hist - (s / n_hist) * (s / n_hist),
        |          0.0)), 6)
        |      END AS z
        |  FROM w WHERE n_hist >= 10)
        |SELECT user_id, event_id, sec, value, n_hist, mean_hist, z,
        |  coalesce(abs(z) > 3.0, false) AS is_outlier
        |FROM z""".stripMargin),

    // ---- extension: as-of join (latest right row at or before left ts) -
    Query("q_asof_join", (s, dir) => {
      // microsecond epoch on both sides: DuckDB timestamps are us-precision
      val ev = eventsUsLong(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      // right side pre-deduped to one row per (user, time), keeping the
      // max click_id — identical to the engine's max-payload-struct
      // tie-break (click_us == ts_us), and it removes DuckDB ASOF JOIN's
      // arbitrary-row choice on exact time ties, so the oracle compare
      // cannot flake if the fixture ever holds two clicks at one instant
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id"), col("ts_us"), col("click_id"),
          col("ts_us").as("click_us"))
      Frame(purchases).asOf(Frame(clicks), "user_id", "ts_us",
        Seq("click_id", "click_us")).df
    },
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |         max(event_id) AS click_id, epoch_us(ts) AS click_us
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, epoch_us(ts))
        |SELECT p.event_id, p.user_id, p.ts_us, p.value,
        |       c.click_id AS asof_click_id, c.click_us AS asof_click_us
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us""".stripMargin),

    // same as-of join through the TIME-RANGE SALTED path (skew defense:
    // each user's window split across 8 time buckets + carry pre-pass) —
    // byte-identical result, so it shares q_asof_join's oracle SQL
    Query("q_asof_salted", (s, dir) => {
      val ev = eventsUsLong(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id"), col("ts_us"), col("click_id"),
          col("ts_us").as("click_us"))
      Frame(purchases).asOf(Frame(clicks), "user_id", "ts_us",
        Seq("click_id", "click_us"), saltBuckets = 8).df
    },
      // the salted path must produce the identical result — same oracle
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |         max(event_id) AS click_id, epoch_us(ts) AS click_us
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, epoch_us(ts))
        |SELECT p.event_id, p.user_id, p.ts_us, p.value,
        |       c.click_id AS asof_click_id, c.click_us AS asof_click_us
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us""".stripMargin),

    // forward direction: each purchase takes the EARLIEST click at or
    // after it (next-touch attribution), same shuffle cost as backward
    Query("q_asof_forward", (s, dir) => {
      val ev = eventsUsLong(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id"), col("ts_us"), col("click_id"),
          col("ts_us").as("click_us"))
      Frame(purchases).asOf(Frame(clicks), "user_id", "ts_us",
        Seq("click_id", "click_us"), direction = "forward").df
    },
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |         max(event_id) AS click_id, epoch_us(ts) AS click_us
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, epoch_us(ts))
        |SELECT p.event_id, p.user_id, p.ts_us, p.value,
        |       c.click_id AS asof_click_id, c.click_us AS asof_click_us
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us <= c.ts_us""".stripMargin),

    // tolerance band: a backward match older than 2 days nulls out (the
    // left row survives) — pandas merge_asof tolerance semantics
    Query("q_asof_tolerance", (s, dir) => {
      val ev = eventsUsLong(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id"), col("ts_us"), col("click_id"),
          col("ts_us").as("click_us"))
      Frame(purchases).asOf(Frame(clicks), "user_id", "ts_us",
        Seq("click_id", "click_us"), tolerance = Some(172800000000L)).df
    },
      // DuckDB ASOF has no tolerance — post-filter the matched distance
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |         max(event_id) AS click_id, epoch_us(ts) AS click_us
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, epoch_us(ts)),
        |m AS (
        |  SELECT p.event_id, p.user_id, p.ts_us, p.value,
        |         c.click_id, c.click_us, c.ts_us AS c_ts
        |  FROM p ASOF LEFT JOIN c
        |    ON p.user_id = c.user_id AND p.ts_us >= c.ts_us)
        |SELECT event_id, user_id, ts_us, value,
        |  CASE WHEN ts_us - c_ts <= 172800000000 THEN click_id END
        |    AS asof_click_id,
        |  CASE WHEN ts_us - c_ts <= 172800000000 THEN click_us END
        |    AS asof_click_us
        |FROM m""".stripMargin),

    // ---- extension: point-in-interval range join (attribution shape) --
    // every click within one day AFTER a purchase by the same user; the
    // range dimension is bin-sharded so candidates come from an equi-join
    // on (user, day-bin), never a per-key cross product (ops/RangeJoin)
    Query("q_range_join", (s, dir) => {
      val ev = eventsUsLong(s, dir)
      val day = 86400000000L // one day of microseconds
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts_us").as("p_start"), (col("ts_us") + day).as("p_end"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts_us"))
      Frame(clicks).rangeJoin(Frame(purchases), "user_id", "ts_us",
          "p_user", "p_start", "p_end", binWidth = day)
        .df.select(col("user_id"), col("purchase_id"), col("click_id"))
    },
      """WITH iv AS (
        |  SELECT event_id AS purchase_id, user_id,
        |         ts AS s, ts + INTERVAL 1 DAY AS e
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts
        |  FROM events WHERE event_type = 'click')
        |SELECT c.user_id AS user_id, iv.purchase_id, c.click_id
        |FROM c JOIN iv ON c.user_id = iv.user_id
        |  AND c.ts >= iv.s AND c.ts < iv.e""".stripMargin),

    // ---- extension: next-bucket trend forecast ------------------------
    // per event type: regress the daily value total on the day index
    // (ops/Profile.groupRegression) and extrapolate one bucket past
    // the last observed day. The daily totals enter the regression as
    // exact MICROS LONGs: a 6-decimal double total would hit the
    // double->DECIMAL cast seam inside the moment sums (Spark rounds
    // the shortest repr, DuckDB the binary value — caught live at
    // sf0.1), while integer y keeps every moment product exactly
    // representable; one final divide returns to value units
    Query("q_trend_forecast", (s, dir) => {
      val daily = eventsUsLong(s, dir)
        .withColumn("day", expr("ts_us div 86400000000"))
        .groupBy(col("event_type"), col("day"))
        .agg(round(sum(col("value").cast(DecimalType(18, 6))) * 1000, 0)
          .cast("long").as("total_milli"))
      // ALL-INTEGER moment regression: x (day) and y (milli total) are
      // BIGINTs, so every moment sum and the closed-form numerators
      // stay exact — the float form diverged cross-engine because
      // DuckDB float-divides its decimal int128 on the way to double
      // (1 ulp), and the sxy - sx*sy/n cancellation amplified that
      // ulp ~1e4x (caught live at sf0.01). BIGINT->double casts are
      // correctly rounded on every engine, so the final divides agree
      // bitwise. slope = (n*sxy - sx*sy) / (n*sxx - sx^2);
      // intercept = (sy*den - sx*nums) / (n*den)
      val agged = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("day")).as("sx"),
          sum(col("total_milli")).as("sy"),
          sum(col("day") * col("day")).as("sxx"),
          sum(col("day") * col("total_milli")).as("sxy"),
          max(col("day")).as("last_day"))
      val den = col("n") * col("sxx") - col("sx") * col("sx")
      val nums = col("n") * col("sxy") - col("sx") * col("sy")
      val numi = col("sy") * den - col("sx") * nums
      val slopeD = nums.cast("double") / den.cast("double")
      val interceptD = numi.cast("double") / (col("n") * den).cast("double")
      agged.where(den > 0)
        .select(col("event_type"), col("n"),
          round(slopeD / 1000.0, 6).as("slope"),
          round(interceptD / 1000.0, 6).as("intercept"),
          col("last_day"),
          round((slopeD * (col("last_day") + 1).cast("double")
            + interceptD) / 1000.0, 6).as("forecast"))
    },
      // mirrors q_trend_forecast: the q_group_regression moment tree over
      // exact MICROS-integer daily totals (every product exactly
      // representable — no double->DECIMAL cast seam), then the same
      // extrapolation + unit-restoring divides
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(sum(CAST(value AS DECIMAL(18,6))) * 1000, 0)
        |      AS BIGINT) AS total_milli
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(day) AS BIGINT) AS sx,
        |    CAST(sum(total_milli) AS BIGINT) AS sy,
        |    CAST(sum(day * day) AS BIGINT) AS sxx,
        |    CAST(sum(day * total_milli) AS BIGINT) AS sxy,
        |    max(day) AS last_day
        |  FROM daily GROUP BY 1),
        |f AS (
        |  SELECT event_type, n, last_day,
        |    n * sxx - sx * sx AS den,
        |    n * sxy - sx * sy AS nums, sx, sy
        |  FROM a),
        |g AS (
        |  SELECT event_type, n, last_day,
        |    CAST(nums AS DOUBLE) / CAST(den AS DOUBLE) AS slope_m,
        |    CAST(sy * den - sx * nums AS DOUBLE)
        |      / CAST(n * den AS DOUBLE) AS intercept_m
        |  FROM f WHERE den > 0)
        |SELECT event_type, n,
        |  round(slope_m / 1000.0, 6) AS slope,
        |  round(intercept_m / 1000.0, 6) AS intercept,
        |  last_day,
        |  round((slope_m * CAST(last_day + 1 AS DOUBLE) + intercept_m)
        |    / 1000.0, 6) AS forecast
        |FROM g""".stripMargin),

    // ---- extension: growth accounting (DAU decomposition) -------------
    // per activity day: active users decomposed into new / retained /
    // resurrected, churn balanced against the preceding day
    // (ops/TimeSeries.growthAccounting); day = epoch-micros div 1 day
    Query("q_growth_accounting", (s, dir) => {
      graft.ops.TimeSeries.growthAccounting(
        eventsUsLong(s, dir)
          .withColumn("day", expr("ts_us div 86400000000")),
        "user_id", "day")
    },
      // mirrors TimeSeries.growthAccounting: distinct (user, day), lag
      // per user, bucket-level self-join for the churn balance
      """WITH act AS (
        |  SELECT DISTINCT user_id AS e, epoch_us(ts) // 86400000000 AS b
        |  FROM events),
        |fl AS (
        |  SELECT *, lag(b) OVER (PARTITION BY e ORDER BY b) AS prev
        |  FROM act),
        |per AS (
        |  SELECT b, count(*) AS n_active,
        |    sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS n_new,
        |    sum(CASE WHEN prev = b - 1 THEN 1 ELSE 0 END) AS n_retained,
        |    sum(CASE WHEN prev IS NOT NULL AND prev < b - 1
        |      THEN 1 ELSE 0 END) AS n_resurrected
        |  FROM fl GROUP BY 1)
        |SELECT p.b AS bucket, CAST(p.n_active AS BIGINT) AS n_active,
        |  CAST(p.n_new AS BIGINT) AS n_new,
        |  CAST(p.n_retained AS BIGINT) AS n_retained,
        |  CAST(p.n_resurrected AS BIGINT) AS n_resurrected,
        |  CAST(coalesce(q.n_active, 0) - p.n_retained AS BIGINT)
        |    AS n_churned
        |FROM per p LEFT JOIN per q ON q.b = p.b - 1""".stripMargin),

    // ---- extension: event-flow transition matrix ----------------------
    // adjacent (from, to) event-type counts over each user's timeline
    // (ops/TimeSeries.transitions) — the Markov flow matrix behind
    // funnel diagrams; (ts_us, event_id) total order
    Query("q_event_transitions", (s, dir) => {
      graft.ops.TimeSeries.transitions(eventsUsLong(s, dir),
        "user_id", "ts_us", "event_type", tieCols = Seq("event_id"))
    },
      // mirrors TimeSeries.transitions: lead() adjacency on the same
      // total order
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS to_state
        |  FROM events)
        |SELECT event_type AS from_state, to_state, count(*) AS n
        |FROM e WHERE to_state IS NOT NULL
        |GROUP BY 1, 2""".stripMargin),

    // ---- extension: pre-conversion paths ------------------------------
    // the 3-step event paths immediately preceding each purchase,
    // counted corpus-wide (ops/TimeSeries.pathsBefore) — '>'-joined
    // sortable strings per the comparator convention
    Query("q_conversion_paths", (s, dir) => {
      graft.ops.TimeSeries.pathsBefore(eventsUsLong(s, dir),
        "user_id", "ts_us", "event_type", target = "purchase",
        depth = 3, tieCols = Seq("event_id"))
    },
      // mirrors TimeSeries.pathsBefore: the 3-lag chain, concat_ws
      // dropping the NULLs of short histories on both engines
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    concat_ws('>',
        |      lag(event_type, 3) OVER w, lag(event_type, 2) OVER w,
        |      lag(event_type, 1) OVER w) AS path
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id))
        |SELECT path, count(*) AS n
        |FROM e WHERE event_type = 'purchase' AND path <> ''
        |GROUP BY 1""".stripMargin),

    // ---- extension: per-key time-weighted average (gauge metric) ------
    // each user's value as a step function over their event timeline:
    // exact BIGINT cents x floored-seconds weighting, two final IEEE
    // divisions (ops/TimeSeries.timeWeightedAvg); (ts_us, event_id)
    // is the total order the zero-length-slot rule needs
    Query("q_time_weighted_avg", (s, dir) => {
      graft.ops.TimeSeries.timeWeightedAvg(eventsUsLong(s, dir),
        "user_id", "ts_us", "value", tieCols = Seq("event_id"))
    },
      // mirrors TimeSeries.timeWeightedAvg: same cents/seconds fixed
      // point, same (ts_us, event_id) total order, same division order
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
        |  FROM events),
        |stepped AS (
        |  SELECT user_id, value,
        |    (lead(ts_us) OVER (PARTITION BY user_id
        |       ORDER BY ts_us, event_id) - ts_us) // 1000000 AS dur_s
        |  FROM e),
        |q AS (
        |  SELECT user_id,
        |    CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)
        |      AS v_cents, dur_s
        |  FROM stepped WHERE dur_s IS NOT NULL)
        |SELECT user_id, count(*) AS n_steps,
        |  CAST(sum(dur_s) AS BIGINT) AS sum_dur_s,
        |  CAST(sum(v_cents * dur_s) AS DOUBLE)
        |    / CAST(sum(dur_s) AS DOUBLE) / 100.0 AS twa
        |FROM q GROUP BY user_id
        |HAVING sum(dur_s) > 0""".stripMargin),

    // ---- extension: per-key interval coalescing (gaps-and-islands) ----
    // each user's 1-day purchase-attribution windows flattened into
    // maximal disjoint coverage spans (ops/TimeSeries.mergeIntervals) —
    // touching windows merge under half-open semantics; one key-keyed
    // shuffle feeds both windows and the closing aggregation
    Query("q_interval_merge", (s, dir) => {
      val day = 86400000000L
      val iv = eventsUsLong(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("s_us"),
          (col("ts_us") + day).as("e_us"))
      graft.ops.TimeSeries.mergeIntervals(iv, "user_id", "s_us", "e_us")
    },
      // mirrors TimeSeries.mergeIntervals: running-max island detection,
      // tie-order-insensitive under duplicate intervals
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s_us,
        |    epoch_us(ts) + 86400000000 AS e_us
        |  FROM events WHERE event_type = 'purchase'),
        |o AS (
        |  SELECT *, max(e_us) OVER (PARTITION BY user_id
        |      ORDER BY s_us, e_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS prev_max
        |  FROM iv),
        |fl AS (
        |  SELECT *, CASE WHEN prev_max IS NULL OR s_us > prev_max
        |    THEN 1 ELSE 0 END AS new_island
        |  FROM o),
        |isl AS (
        |  SELECT *, sum(new_island) OVER (PARTITION BY user_id
        |      ORDER BY s_us, e_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS island
        |  FROM fl)
        |SELECT user_id, min(s_us) AS start, max(e_us) AS "end",
        |  count(*) AS n_merged
        |FROM isl GROUP BY user_id, island""".stripMargin),

    // ---- extension: interval-overlap join (both sides are ranges) -----
    // pairs of purchase attribution windows by the same user that overlap
    // in time: both interval sets bin-shard and each overlapping pair
    // matches exactly once, in the bin of the later start (ops/RangeJoin
    // .intervalOverlap). a_id < b_id keeps one row per unordered pair.
    Query("q_interval_overlap", (s, dir) => {
      val ev = eventsUsLong(s, dir)
      val day = 86400000000L
      def windows(idName: String, keyName: String, sName: String, eName: String) =
        ev.where(col("event_type") === "purchase")
          .select(col("event_id").as(idName), col("user_id").as(keyName),
            col("ts_us").as(sName), (col("ts_us") + day).as(eName))
      Frame(windows("a_id", "a_user", "a_start", "a_end"))
        .intervalOverlap(Frame(windows("b_id", "b_user", "b_start", "b_end")),
          "a_user", "a_start", "a_end", "b_user", "b_start", "b_end",
          binWidth = day)
        .df.where(col("a_id") < col("b_id"))
        .select(col("a_user").as("user_id"), col("a_id"), col("b_id"))
    },
      """WITH w AS (
        |  SELECT event_id AS id, user_id, ts AS s, ts + INTERVAL 1 DAY AS e
        |  FROM events WHERE event_type = 'purchase')
        |SELECT a.user_id AS user_id, a.id AS a_id, b.id AS b_id
        |FROM w a JOIN w b ON a.user_id = b.user_id
        |  AND a.s < b.e AND b.s < a.e AND a.id < b.id""".stripMargin)
  )
}
