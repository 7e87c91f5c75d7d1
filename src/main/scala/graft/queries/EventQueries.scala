package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Tables}
import graft.Tables.{moneySum, sqlMoneySum, sqlMoneyAvg}
import graft.functions.TextFunctions.md5U52

/** Event-time analytics over the `events` table — the batch twins of the
  * reference's streaming semantics (SURVEY.md §2.8, §2.11): tumbling
  * windows, sessionization, as-of lookback ("seconds since last error",
  * the reference's latency metric A2 generalized), pivot, percentiles.
  *
  * Timestamp parity: parquet `ts` is nanosecond; Spark truncates to µs on
  * read while DuckDB keeps ns. Every oracle therefore works on
  * `CAST(ts AS TIMESTAMP)` (µs truncation) so both engines sort and
  * bucket identically, and epoch seconds are taken with an explicit
  * floor() because DuckDB's ::BIGINT rounds while Spark's
  * unix_timestamp() floors.
  */
object EventQueries {

  /** DuckDB: µs-truncated view of events.ts. */
  private val TS = "CAST(ts AS TIMESTAMP)"
  /** DuckDB: floor-epoch-seconds, matching Spark's unix_timestamp(). */
  private val EPOCH = s"CAST(floor(epoch($TS)) AS BIGINT)"

  def all: Seq[(String, Q)] = Seq(

    // ---- q18: tumbling-window aggregation -------------------------------
    "q18_events_hourly" -> Q(
      (s, d) => Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"),
             moneySum(col("value")).as("sum_value"),
             max(col("value")).as("max_value"))
        .orderBy(col("hr"), col("event_type")),
      Some(s"""
        SELECT CAST(date_trunc('hour', $TS) AS TIMESTAMP) AS hr, event_type,
               COUNT(*) AS n,
               ${sqlMoneySum("value")} AS sum_value,
               MAX(value) AS max_value
        FROM events
        GROUP BY 1, 2
        ORDER BY hr, event_type"""),
      "Tumbling 1h event-time window (batch twin of window(ts,'1 hour'))."),

    // ---- q19: sessionization (30-minute inactivity gap) ------------------
    "q19_sessionize" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val withSess = Tables.events(s, d)
          .withColumn("ep", unix_timestamp(col("ts")))
          .withColumn("gap", col("ep") - lag(col("ep"), 1).over(w))
          .withColumn("is_new", when(col("gap").isNull || col("gap") > 1800, 1).otherwise(0))
          .withColumn("sess",
            sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        withSess.groupBy(col("user_id"), col("sess"))
          .agg(count(lit(1)).as("sess_events"),
               (max(col("ep")) - min(col("ep"))).as("sess_dur"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
               sum(col("sess_events")).cast("long").as("n_events"),
               max(col("sess_events")).as("max_sess_events"),
               max(col("sess_dur")).as("max_sess_dur"))
          .orderBy(col("user_id"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, $EPOCH AS ep, $TS AS tsu FROM events
        ), g AS (
          SELECT user_id, event_id, tsu, ep,
            CASE WHEN ep - LAG(ep) OVER w IS NULL
                   OR ep - LAG(ep) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        ), sessed AS (
          SELECT user_id, ep,
            SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
          FROM g
        ), per_sess AS (
          SELECT user_id, sess, COUNT(*) AS sess_events,
                 MAX(ep) - MIN(ep) AS sess_dur
          FROM sessed GROUP BY user_id, sess
        )
        SELECT user_id, COUNT(*) AS n_sessions,
               CAST(SUM(sess_events) AS BIGINT) AS n_events,
               MAX(sess_events) AS max_sess_events,
               MAX(sess_dur) AS max_sess_dur
        FROM per_sess GROUP BY user_id ORDER BY user_id"""),
      "Gap-based sessions via lag + running sum (batch twin of session_window)."),

    // ---- q20: as-of lookback (last error before each event) --------------
    "q20_since_last_error" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, d)
          .withColumn("ep", unix_timestamp(col("ts")))
          .withColumn("last_err",
            max(when(col("event_type") === "error", col("ep"))).over(w))
          .select(col("event_id"), col("user_id"), col("event_type"),
                  (col("ep") - col("last_err")).as("secs_since_error"))
          .orderBy(col("event_id"))
      },
      Some(s"""
        WITH e AS (
          SELECT event_id, user_id, event_type, $EPOCH AS ep, $TS AS tsu FROM events
        )
        SELECT event_id, user_id, event_type,
          ep - MAX(CASE WHEN event_type = 'error' THEN ep END) OVER (
            PARTITION BY user_id ORDER BY tsu, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS secs_since_error
        FROM e
        ORDER BY event_id"""),
      "As-of semantics via running-max over a trailing frame (J-asof twin)."),

    // ---- q21: pivot -------------------------------------------------------
    "q21_pivot_event_types" -> Q(
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0)
        .orderBy(col("user_id")),
      Some("""
        SELECT user_id,
          COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
          COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS error,
          COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
          COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
          COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS "view"
        FROM events
        GROUP BY user_id
        ORDER BY user_id"""),
      "groupBy().pivot() with pinned value list (single-pass, no re-scan)."),

    // ---- q22: JSON extraction -------------------------------------------
    "q22_json_props" -> Q(
      (s, d) => Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(col("k")).cast("long").as("sum_k"),
             min(col("k")).as("min_k"),
             max(col("k")).as("max_k"),
             moneySum(col("value")).as("sum_value"))
        .orderBy(col("event_type")),
      Some(s"""
        SELECT event_type, COUNT(*) AS n,
          CAST(SUM(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          MIN(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS min_k,
          MAX(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS max_k,
          ${sqlMoneySum("value")} AS sum_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type"""),
      "get_json_object over events.props (P3/P4 JSON envelope twin)."),

    // ---- q23: percentiles ------------------------------------------------
    "q23_value_percentiles" -> Q(
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             round(expr("percentile(value, 0.5)"), 4).as("p50"),
             round(expr("percentile(value, 0.9)"), 4).as("p90"),
             min(col("value")).as("min_v"),
             max(col("value")).as("max_v"))
        .orderBy(col("event_type")),
      Some("""
        SELECT event_type, COUNT(*) AS n,
          round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS p50,
          round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 4) AS p90,
          MIN(value) AS min_v,
          MAX(value) AS max_v
        FROM events
        GROUP BY event_type
        ORDER BY event_type"""),
      "Exact interpolated percentiles (rounded to absorb fp noise)."),

    // ---- q25: range (interval) join ---------------------------------------
    "q25_range_join" -> Q(
      (s, d) => {
        val e = Tables.events(s, d).withColumn("ep", unix_timestamp(col("ts")))
        val errors = e.filter(col("event_type") === "error")
          .select(col("user_id").as("u"), col("event_id").as("err_id"), col("ep").as("err_ep"))
        val follow = e.select(col("user_id"), col("event_id"), col("ep"), col("event_type"))
        errors.join(follow,
            col("u") === col("user_id") &&
              col("ep") > col("err_ep") && col("ep") <= col("err_ep") + 300,
            "left")
          .groupBy(col("err_id"))
          .agg(count(col("event_id")).as("n_follow"),
               count(when(col("event_type") === "purchase", 1)).as("n_purchases"))
          .orderBy(col("err_id"))
      },
      Some(s"""
        WITH e AS (SELECT user_id, event_id, event_type, $EPOCH AS ep FROM events),
        err AS (SELECT user_id AS u, event_id AS err_id, ep AS err_ep
                FROM e WHERE event_type = 'error')
        SELECT err_id,
               COUNT(f.event_id) AS n_follow,
               COUNT(CASE WHEN f.event_type = 'purchase' THEN 1 END) AS n_purchases
        FROM err LEFT JOIN e f
          ON f.user_id = err.u AND f.ep > err.err_ep AND f.ep <= err.err_ep + 300
        GROUP BY err_id
        ORDER BY err_id"""),
      "Interval join: events within 5 minutes after each error, per error."),

    // ---- q36: sketches (no oracle: sketch binaries are engine-specific) --
    "q36_sketches" -> Q(
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("hll_users"),
          expr("percentile_approx(value, 0.5, 1000)").as("approx_p50"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type")),
      None,
      "Datasketches HLL + approx percentile (accuracy-vs-exact in QueriesSpec)."),

    // ---- q24: approximate distinct (no SQL oracle: HLL impls differ) ----
    "q24_approx_distinct" -> Q(
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
             countDistinct(col("user_id")).as("exact_users"))
        .orderBy(col("event_type")),
      None,
      "HLL++ sketch vs exact; rows-only check (sketches differ by engine)."),

    // ---- q67: resample to an hourly grid with forward fill ----------------
    "q67_resample_ffill" -> Q(
      (s, d) => {
        val e = Tables.events(s, d)
          .withColumn("ep", unix_timestamp(col("ts")))
          .withColumn("bucket", (col("ep").cast("long") / 3600).cast("long") * 3600)
        // last observed value per (user, bucket): max_by over the
        // composite (ep, event_id) key — deterministic under ts ties and
        // partially aggregated map-side (a SortAggregate, since struct
        // keys aren't hash-bufferable, but still no per-user window
        // shuffle and no row_number pass over the raw events)
        val perBucket = e.groupBy(col("user_id"), col("bucket"))
          .agg(max_by(col("value"), struct(col("ep"), col("event_id"))).as("obs"),
               count(lit(1)).as("n_events"))
        // gap-fill directly from perBucket instead of joining a
        // separately-built grid back onto it: the ffill window runs
        // over the SMALL per-bucket relation (null-safe — last
        // non-null obs, same skip-null semantics as before), then each
        // observed bucket explodes the hourly cells up to (but not
        // including) the next observed bucket, carrying its ffilled
        // value. Identical rows: the old grid spanned min..max bucket
        // per user, which is exactly the union of these half-open
        // spans plus the final observed bucket — and a generated
        // cell's last-non-null observation IS its predecessor's
        // ffilled value. Replaces a second full scan+aggregate of the
        // raw events and the grid⋈perBucket sort-merge join (6
        // exchanges, 2 scans) with one scan and 3 exchanges.
        val w = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
        perBucket
          .withColumn("value_ffill",
            last(col("obs"), ignoreNulls = true)
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("next_b", lead(col("bucket"), 1).over(w))
          .select(col("user_id"), col("bucket"), col("n_events"),
            col("value_ffill"),
            explode(sequence(col("bucket"),
              coalesce(col("next_b") - 3600L, col("bucket")),
              lit(3600L))).as("grid_bucket"))
          .select(col("user_id"), col("grid_bucket").as("bucket"),
            when(col("grid_bucket") === col("bucket"), col("n_events"))
              .otherwise(lit(0L)).as("n_events"),
            col("value_ffill"))
          .orderBy(col("user_id"), col("bucket"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, value, $EPOCH AS ep,
                 ($EPOCH // 3600) * 3600 AS bucket
          FROM events
        ), pb AS (
          SELECT user_id, bucket, n_events, obs FROM (
            SELECT user_id, bucket, value AS obs,
                   COUNT(*) OVER (PARTITION BY user_id, bucket) AS n_events,
                   ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                                      ORDER BY ep DESC, event_id DESC) AS rn
            FROM e) WHERE rn = 1
        ), grid AS (
          SELECT user_id, unnest(range(b0, b1 + 3600, 3600)) AS bucket
          FROM (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
                FROM e GROUP BY user_id)
        )
        SELECT g.user_id, g.bucket,
               COALESCE(pb.n_events, 0) AS n_events,
               last_value(pb.obs IGNORE NULLS) OVER (
                 PARTITION BY g.user_id ORDER BY g.bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
        FROM grid g LEFT JOIN pb ON g.user_id = pb.user_id AND g.bucket = pb.bucket
        ORDER BY g.user_id, g.bucket"""),
      "Time-series resampling: hourly grid per user (sequence+explode) " +
        "with forward-filled last observation — gap filling for feature " +
        "pipelines; last-per-bucket is a partial-aggregated max_by, the " +
        "fill a per-user running window."),

    // ---- q71: trailing event-time RANGE window ----------------------------
    "q71_trailing_range" -> Q(
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val w = Window.partitionBy(col("user_id")).orderBy(col("ep"))
          .rangeBetween(-600, 0)
        Tables.events(s, d)
          .withColumn("ep", unix_timestamp(col("ts")))
          .select(col("user_id"), col("event_id"), col("ep"),
            count(lit(1)).over(w).as("n_trail"),
            // decimal accumulation: engines disagree on raw double window
            // sums (Spark running-add vs DuckDB segment tree associativity)
            sum(col("value").cast(DecimalType(27, 6))).over(w)
              .cast("double").as("sum_trail"))
          .orderBy(col("event_id"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, value, $EPOCH AS ep FROM events
        )
        SELECT user_id, event_id, ep,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_trail,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE) AS sum_trail
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ep
                     RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
        ORDER BY event_id"""),
      "Trailing 10-minute event-time RANGE frame per user (the " +
        "time-based sibling of q37's numeric RANGE): per-key windows " +
        "parallelize across users; decimal partials keep the rolling " +
        "sum engine-exact."),

    // ---- q74: distribution window functions -------------------------------
    "q74_window_distribution" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("value"), col("event_id"))
        Tables.events(s, d)
          .filter(col("value").isNotNull)
          .select(col("event_type"), col("event_id"), col("value"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 9).as("pct_rank"),
            round(cume_dist().over(w), 9).as("cume"))
          .orderBy(col("event_id"))
      },
      Some(s"""
        SELECT event_type, event_id, value,
               CAST(ntile(4) OVER w AS INT) AS quartile,
               round(percent_rank() OVER w, 9) AS pct_rank,
               round(cume_dist() OVER w, 9) AS cume
        FROM events WHERE value IS NOT NULL
        WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        ORDER BY event_id"""),
      "Distribution window functions (ntile/percent_rank/cume_dist) " +
        "per event type; rank arithmetic rounded to dodge last-ulp " +
        "division noise."),

    // ---- q75: hopping (sliding) window aggregation, batch twin -------------
    "q75_hopping_windows" -> Q(
      (s, d) => {
        val e = Tables.events(s, d)
        e.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
          .select(unix_timestamp(col("window.start")).as("ws_ep"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy(col("ws_ep"), col("event_type"))
      },
      Some(s"""
        WITH e AS (
          SELECT event_type, value, $EPOCH AS ep FROM events
        ), assigned AS (
          -- every event belongs to exactly two 1h windows hopping by 30min
          SELECT event_type, value,
                 unnest([ (ep // 1800) * 1800, (ep // 1800) * 1800 - 1800 ]) AS ws_ep,
                 ep
          FROM e
        )
        SELECT ws_ep, event_type, COUNT(*) AS n,
               ${sqlMoneySum("value")} AS sum_value
        FROM assigned
        WHERE ep >= ws_ep AND ep < ws_ep + 3600
        GROUP BY ws_ep, event_type
        ORDER BY ws_ep, event_type"""),
      "Batch twin of the streaming sliding window: window(ts, 1h, 30m) " +
        "per event type; oracle assigns each event its two hops " +
        "explicitly. Epoch-second window starts dodge tz ambiguity."),

    // ---- q82: portable HLL (the sketch itself is hash-proved) -------------
    "q82_portable_hll" -> Q(
      (s, d) => graft.operators.Sketches.hllDistinct(
          Tables.events(s, d), "event_type", "user_id")
        .orderBy(col("event_type")),
      Some("""
        WITH h AS (
          SELECT event_type AS g,
                 CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
          FROM events
        ), b AS (
          SELECT g, h % 256 AS idx, h // 256 AS w FROM h
        ), r AS (
          SELECT g, idx,
                 MAX(CASE WHEN w = 0 THEN 45
                          ELSE 45 - CAST(length(bin(w)) AS INT) END) AS r
          FROM b GROUP BY g, idx
        ), s AS (
          SELECT g, CAST(COUNT(*) AS INT) AS n_present,
                 list_aggregate(list(1.0/(CAST(1 AS BIGINT) << r) ORDER BY idx), 'sum') AS s
          FROM r GROUP BY g
        ), est AS (
          SELECT g, n_present,
                 round(CASE WHEN (0.7213/(1.0 + 1.079/256.0)) * 65536.0 /
                                 (s + (256 - n_present) * 1.0) <= 640.0
                            AND (256 - n_present) > 0
                       THEN 256.0 * ln(256.0 / (256 - n_present))
                       ELSE (0.7213/(1.0 + 1.079/256.0)) * 65536.0 /
                            (s + (256 - n_present) * 1.0) END, 4) AS hll_estimate
          FROM s
        ), e AS (
          SELECT event_type AS g, COUNT(DISTINCT user_id) AS exact_distinct
          FROM events GROUP BY 1
        )
        SELECT est.g AS event_type, est.hll_estimate,
               256 - est.n_present AS n_zero_registers,
               e.exact_distinct,
               round(abs(est.hll_estimate - e.exact_distinct) / e.exact_distinct, 6) AS rel_err
        FROM est JOIN e ON e.g = est.g
        ORDER BY event_type"""),
      "HyperLogLog built on md5-derived registers and a pinned " +
        "order-deterministic estimator, so the SKETCH ITSELF " +
        "hash-matches the oracle (the built-in HLL++ q24 stays " +
        "rows-only by nature); exact count + relative error ride " +
        "along as the quality audit. Shuffle carries at most 256 " +
        "(group, idx, rho) rows per group at any input size."),

    // ---- q83: portable histogram quantile sketch --------------------------
    "q83_histogram_quantiles" -> Q(
      (s, d) => graft.operators.Sketches.histogramQuantiles(
          Tables.events(s, d), "event_type", "value")
        .orderBy(col("event_type")),
      Some("""
        WITH s AS (
          SELECT event_type AS g, MIN(value) AS mn, MAX(value) AS mx,
                 COUNT(*) AS n
          FROM events GROUP BY 1
        ), b AS (
          SELECT e.event_type AS g,
                 CASE WHEN s.mx = s.mn THEN 0
                      ELSE CAST(least(255, floor((e.value - s.mn) / (s.mx - s.mn) * 256)) AS INT)
                 END AS idx
          FROM events e JOIN s ON s.g = e.event_type
        ), h AS (
          SELECT g, idx, COUNT(*) AS c FROM b GROUP BY g, idx
        ), cum AS (
          SELECT h.g, h.idx,
                 SUM(h.c) OVER (PARTITION BY h.g ORDER BY h.idx) AS cum,
                 s.mn, s.mx, s.n
          FROM h JOIN s ON s.g = h.g
        ), est AS (
          SELECT g,
            round(MIN(CASE WHEN cum >= ceil(0.5 * n) THEN
              (CASE WHEN mx = mn THEN mn ELSE mn + (mx - mn) * idx / 256 END) END), 6) AS p50_est,
            round(MIN(CASE WHEN cum >= ceil(0.9 * n) THEN
              (CASE WHEN mx = mn THEN mn ELSE mn + (mx - mn) * idx / 256 END) END), 6) AS p90_est,
            round(MIN(CASE WHEN cum >= ceil(0.99 * n) THEN
              (CASE WHEN mx = mn THEN mn ELSE mn + (mx - mn) * idx / 256 END) END), 6) AS p99_est
          FROM cum GROUP BY g
        ), ex AS (
          SELECT event_type AS g, COUNT(*) AS n,
                 round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS p50,
                 round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 4) AS p90,
                 round(CAST(quantile_cont(value, 0.99) AS DOUBLE), 4) AS p99
          FROM events GROUP BY 1
        )
        SELECT est.g AS event_type, ex.n,
               est.p50_est, est.p90_est, est.p99_est,
               ex.p50, ex.p90, ex.p99,
               round(greatest(abs(est.p50_est - ex.p50),
                              abs(est.p90_est - ex.p90),
                              abs(est.p99_est - ex.p99)), 6) AS max_abs_err
        FROM est JOIN ex ON ex.g = est.g
        ORDER BY event_type"""),
      "Equi-width histogram quantile sketch: fixed 256-bin grid, " +
        "cumulative-count estimates — deterministic in every step, so " +
        "the SKETCH hash-matches the oracle (percentile_approx q36 " +
        "stays rows-only by nature); exact percentiles + max error " +
        "ride along, bounded by one bin width."),

    // ---- q108: ordered conversion funnel ----------------------------------
    "q108_funnel" -> Q(
      (s, d) => graft.operators.EventOps.funnel(Tables.events(s, d),
        "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), horizonSec = 86400L),
      Some(s"""
        WITH e AS (
          SELECT user_id, event_type, $EPOCH AS ep FROM events
        ), s1 AS (
          SELECT user_id, MIN(ep) AS t1 FROM e
          WHERE event_type = 'view' GROUP BY 1
        ), s2 AS (
          SELECT e.user_id, MIN(s1.t1) AS t1, MIN(e.ep) AS t2
          FROM e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'click'
            AND e.ep >= s1.t1 AND e.ep <= s1.t1 + 86400
          GROUP BY 1
        ), s3 AS (
          SELECT e.user_id, MIN(s2.t1) AS t1, MIN(e.ep) AS t3
          FROM e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = 'purchase'
            AND e.ep >= s2.t2 AND e.ep <= s2.t1 + 86400
          GROUP BY 1
        ), c AS (
          SELECT CAST(1 AS INT) AS step_idx, 'view' AS step,
                 (SELECT COUNT(*) FROM s1) AS n_users
          UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
          UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
        )
        SELECT step_idx, step, n_users,
               CASE WHEN first_value(n_users) OVER (ORDER BY step_idx) = 0
                    THEN 0.0
                    ELSE round(CAST(n_users AS DOUBLE) /
                         first_value(n_users) OVER (ORDER BY step_idx), 9)
               END AS conv_overall,
               CASE WHEN coalesce(lag(n_users) OVER (ORDER BY step_idx), n_users) = 0
                    THEN 0.0
                    ELSE round(CAST(n_users AS DOUBLE) /
                         coalesce(lag(n_users) OVER (ORDER BY step_idx), n_users), 9)
               END AS conv_prev
        FROM c
        ORDER BY step_idx"""),
      "Ordered conversion funnel (view->click->purchase within 24h of " +
        "first view): k-1 rounds of one-event-type filter joined to the " +
        "shrinking per-user reached-set, each a map-side-combined min " +
        "keyed on user — no per-user event lists, no collect_list hot-key " +
        "buffers; shuffles carry one row per surviving user per round."),

    // ---- q115: as-of join (latest view before each purchase) --------------
    "q115_asof_join" -> Q(
      (s, d) => {
        val e = Tables.events(s, d).withColumn("ep", unix_timestamp(col("ts")))
        val l = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ep"))
        val r = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"),
            col("value").as("view_value"), col("ep"))
        graft.operators.EventOps.asofJoin(l, r, "user_id", "ep", "ep",
            Seq("event_id"), Seq("view_id", "view_value"), "view_id")
          .withColumn("gap_sec", col("ep") - col("asof_t"))
          .orderBy(col("event_id"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, event_type, value, $EPOCH AS ep FROM events
        ), u AS (
          SELECT user_id, ep AS t, 1 AS side, CAST(0 AS BIGINT) AS tie,
                 event_id,
                 CAST(NULL AS STRUCT(asof_t BIGINT, view_id BIGINT,
                                     view_value DOUBLE)) AS rv
          FROM e WHERE event_type = 'purchase'
          UNION ALL
          SELECT user_id, ep, 0, event_id, CAST(NULL AS BIGINT),
                 struct_pack(asof_t := ep, view_id := event_id,
                             view_value := value)
          FROM e WHERE event_type = 'view'
        ), m AS (
          SELECT user_id, t, side, event_id,
                 last_value(rv IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY t, side, tie
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mr
          FROM u
        )
        SELECT user_id, t AS ep, event_id,
               struct_extract(mr, 'asof_t') AS asof_t,
               struct_extract(mr, 'view_id') AS view_id,
               struct_extract(mr, 'view_value') AS view_value,
               t - struct_extract(mr, 'asof_t') AS gap_sec
        FROM m WHERE side = 1 ORDER BY event_id"""),
      "As-of join: each purchase matched to the user's latest view at or " +
        "before it, via tag-union + one per-key ordered window (the " +
        "matched row rides as a struct so columns can't mix). One " +
        "key-shuffle total at any size — the range-join form expands " +
        "each left row by its right history; this one is linear."),

    // ---- q118: bottom-k (KMV) distinct sketch -----------------------------
    "q118_kmv_distinct" -> Q(
      (s, d) => graft.operators.Sketches.kmvDistinct(
          Tables.events(s, d), "event_type", "user_id", k = 64)
        .orderBy(col("event_type")),
      Some("""
        WITH h AS (
          SELECT DISTINCT event_type AS g,
                 CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
          FROM events
        ), r AS (
          SELECT g, h,
                 ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
          FROM h
        ), est AS (
          SELECT g, CAST(COUNT(*) AS INT) AS n_kept, MAX(h) AS hk
          FROM r WHERE rn <= 64 GROUP BY g
        ), e AS (
          SELECT event_type AS g, COUNT(DISTINCT user_id) AS exact_distinct
          FROM events GROUP BY 1
        )
        SELECT est.g AS event_type,
               round(CASE WHEN est.n_kept < 64 THEN CAST(est.n_kept AS DOUBLE)
                          ELSE CAST(63 AS DOUBLE) * 4503599627370496e0 / CAST(est.hk AS DOUBLE)
                     END, 4) AS kmv_estimate,
               est.n_kept, e.exact_distinct,
               round(abs(CASE WHEN est.n_kept < 64 THEN CAST(est.n_kept AS DOUBLE)
                              ELSE CAST(63 AS DOUBLE) * 4503599627370496e0 / CAST(est.hk AS DOUBLE)
                         END - e.exact_distinct) / e.exact_distinct, 6) AS rel_err
        FROM est JOIN e ON e.g = est.g
        ORDER BY event_type"""),
      "Bottom-k / KMV cardinality sketch on the md5 hash family — the " +
        "third portable distinct estimator beside q82's HLL, " +
        "self-auditing against the exact count. The per-group bottom-k " +
        "plans as WindowGroupLimit, so map tasks forward at most k rows " +
        "per group; the distinct shuffle carries 16-byte (group, hash) " +
        "rows."),

    // ---- q128: as-of join through the custom physical operator -------------
    "q128_asof_native" -> Q(
      (s, d) => {
        val e = Tables.events(s, d).withColumn("ep", unix_timestamp(col("ts")))
        // unique-per-key join time: (epoch, event_id) composite — the
        // exec breaks time ties by right sort order, so determinism
        // needs a total order (event ids are unique)
        val jt = (col("ep") * 10000000L + col("event_id")).as("jt")
        val l = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ep"),
            (col("ep") * 10000000L + lit(9999999L)).as("jt"))
        val r = e.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
            col("value").as("view_value"), col("ep").as("asof_t"), jt)
        graft.operators.EventOps.asOfJoinNative(l, r,
            "user_id", "v_user", "jt", "jt")
          .select(col("user_id"), col("ep"), col("event_id"),
            col("asof_t"), col("view_id"), col("view_value"),
            (col("ep") - col("asof_t")).as("gap_sec"))
          .orderBy(col("event_id"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, event_type, value, $EPOCH AS ep FROM events
        ), p AS (
          SELECT user_id, event_id, ep FROM e WHERE event_type = 'purchase'
        ), v AS (
          SELECT user_id, event_id AS view_id, ep AS asof_t, value AS view_value
          FROM e WHERE event_type = 'view'
        )
        SELECT p.user_id, p.ep, p.event_id,
               m.asof_t, m.view_id, m.view_value,
               p.ep - m.asof_t AS gap_sec
        FROM p LEFT JOIN LATERAL (
          SELECT asof_t, view_id, view_value FROM v
          WHERE v.user_id = p.user_id AND v.asof_t <= p.ep
          ORDER BY asof_t DESC, view_id DESC LIMIT 1) m ON true
        ORDER BY p.event_id"""),
      "The same as-of semantics as q115, but through the library's " +
        "custom LogicalPlan + SparkStrategy + physical exec " +
        "(AsOfJoinExec): Catalyst plans one exchange + sort per side " +
        "and each co-partition merges in a single forward pass with " +
        "O(1) state — no window buffer, no tag-union detour. " +
        "Hash-equal to a LATERAL last-row-per-key oracle."),

    // ---- q129: broadcast as-of join (bounded dimension right side) ---------
    "q129_asof_broadcast" -> Q(
      (s, d) => {
        val e = Tables.events(s, d).withColumn("ep", unix_timestamp(col("ts")))
        // reference-curve dimension: per (event_type, day) exact-decimal
        // daily average, PUBLISHED at end of day (avail_t = midnight+24h)
        // — |types| × |days| rows, bounded by the calendar not the
        // corpus, the shape the broadcast as-of exists for
        val daily = e.groupBy(col("event_type"),
            date_trunc("day", col("ts")).as("day"))
          .agg(round(Tables.moneyAvg(col("value")), 6).as("day_avg"),
            count(lit(1)).as("n_day"))
          .select(col("event_type"),
            (unix_timestamp(col("day")) + 86400L).as("avail_t"),
            col("day_avg"), col("n_day"))
        val l = e.select(col("user_id"), col("event_id"), col("event_type"),
          col("ep"), col("value"))
        graft.operators.EventOps.asOfJoinBroadcast(l, daily, "event_type",
            "ep", "avail_t", rCols = Seq("day_avg", "n_day"))
          .withColumn("rel_day", round(col("value") / col("day_avg"), 6))
          .orderBy(col("event_id"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, event_type, value, $EPOCH AS ep,
                 CAST(date_trunc('day', $TS) AS TIMESTAMP) AS day
          FROM events
        ), dim AS (
          SELECT event_type,
                 CAST(floor(epoch(day)) AS BIGINT) + 86400 AS avail_t,
                 round(${sqlMoneyAvg("value")}, 6) AS day_avg,
                 COUNT(*) AS n_day
          FROM e GROUP BY event_type, day
        )
        SELECT e.user_id, e.event_id, e.event_type, e.ep, e.value,
               m.avail_t AS asof_t, m.day_avg, m.n_day,
               round(e.value / m.day_avg, 6) AS rel_day
        FROM e LEFT JOIN LATERAL (
          SELECT avail_t, day_avg, n_day FROM dim
          WHERE dim.event_type = e.event_type AND dim.avail_t <= e.ep
          ORDER BY avail_t DESC LIMIT 1) m ON true
        ORDER BY event_id"""),
      "The third as-of form: each event joined to its type's latest " +
        "PUBLISHED daily reference average (available the following " +
        "midnight). The right side is a true dimension — |types| x " +
        "|days|, bounded by the calendar — folded into per-key sorted " +
        "histories that BROADCAST, so the big left side never shuffles " +
        "(the batch analog of the reference's stream-static broadcast " +
        "join); asOfJoinBroadcast REFUSES data-proportional right sides " +
        "past maxRightRows. Plan-pinned left-shuffle-free."),

    // ---- q130: forward as-of (next event after), big-big native exec ------
    "q130_asof_forward" -> Q(
      (s, d) => {
        val e = Tables.events(s, d).withColumn("ep", unix_timestamp(col("ts")))
        // forward tie order: at equal epoch the SMALLEST view_id wins,
        // so the composite time puts left at (ep, 0) and right at
        // (ep, id) — right jt >= left jt iff view at-or-after purchase
        val l = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ep"),
            (col("ep") * 10000000L).as("jt"))
        val r = e.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
            col("value").as("view_value"), col("ep").as("next_t"),
            (col("ep") * 10000000L + col("event_id")).as("jt"))
        graft.operators.EventOps.asOfJoinNative(l, r,
            "user_id", "v_user", "jt", "jt", direction = "forward")
          .select(col("user_id"), col("ep"), col("event_id"),
            col("next_t"), col("view_id"), col("view_value"),
            (col("next_t") - col("ep")).as("wait_sec"))
          .orderBy(col("event_id"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, event_type, value, $EPOCH AS ep FROM events
        ), p AS (
          SELECT user_id, event_id, ep FROM e WHERE event_type = 'purchase'
        ), v AS (
          SELECT user_id, event_id AS view_id, ep AS next_t, value AS view_value
          FROM e WHERE event_type = 'view'
        )
        SELECT p.user_id, p.ep, p.event_id,
               m.next_t, m.view_id, m.view_value,
               m.next_t - p.ep AS wait_sec
        FROM p LEFT JOIN LATERAL (
          SELECT next_t, view_id, view_value FROM v
          WHERE v.user_id = p.user_id AND v.next_t >= p.ep
          ORDER BY next_t ASC, view_id ASC LIMIT 1) m ON true
        ORDER BY p.event_id"""),
      "Forward as-of through the NATIVE exec (direction flag on " +
        "AsOfJoinExec): the FIRST view at or after each purchase (did " +
        "the user come back, and how long did it take). Big-big safe — " +
        "one exchange + sort per side, single merge pass with zero " +
        "retained state in the forward direction, no broadcast size " +
        "assumption; nearest and the broadcast forms stay unit-tested."),

    // ---- q131: cohort retention matrix ------------------------------------
    "q131_cohort_retention" -> Q(
      (s, d) => {
        val wk = date_trunc("week", col("ts"))
        val userWeeks = Tables.events(s, d)
          .select(col("user_id"), wk.as("w")).distinct()
        val cohorts = userWeeks.groupBy(col("user_id"))
          .agg(min(col("w")).as("cohort_week"))
        val sizes = cohorts.groupBy(col("cohort_week"))
          .agg(countDistinct(col("user_id")).as("cohort_size"))
        userWeeks.join(cohorts, "user_id")
          .withColumn("week_offset",
            (datediff(col("w"), col("cohort_week")) / 7).cast("int"))
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .join(sizes, "cohort_week")
          .select(col("cohort_week"), col("week_offset"), col("n_active"),
            col("cohort_size"),
            round(col("n_active").cast("double") / col("cohort_size"), 6)
              .as("retention"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      Some(s"""
        WITH uw AS (
          SELECT DISTINCT user_id,
                 CAST(date_trunc('week', $TS) AS TIMESTAMP) AS w
          FROM events
        ), c AS (
          SELECT user_id, MIN(w) AS cohort_week FROM uw GROUP BY user_id
        ), sz AS (
          SELECT cohort_week, COUNT(DISTINCT user_id) AS cohort_size
          FROM c GROUP BY cohort_week
        ), act AS (
          SELECT c.cohort_week,
                 CAST(date_diff('day', c.cohort_week, uw.w) // 7 AS INT) AS week_offset,
                 COUNT(DISTINCT uw.user_id) AS n_active
          FROM uw JOIN c USING (user_id)
          GROUP BY 1, 2
        )
        SELECT act.cohort_week, act.week_offset, act.n_active, sz.cohort_size,
               round(CAST(act.n_active AS DOUBLE) / sz.cohort_size, 6) AS retention
        FROM act JOIN sz USING (cohort_week)
        ORDER BY cohort_week, week_offset"""),
      "Cohort retention matrix: users cohorted by first-activity week, " +
        "fraction active at each week offset — the standard product-" +
        "analytics companion to q108's funnel. Shuffles carry distinct " +
        "(user, week) pairs with map-side combine; output is bounded by " +
        "weeks^2 whatever the event volume."),

    // ---- q132: association lift between event types ------------------------
    "q132_event_lift" -> Q(
      (s, d) => {
        val e = Tables.events(s, d)
        // per-user distinct event-type sets; pair space bounded by
        // |types|^2 regardless of event volume
        val ut = e.select(col("user_id"), col("event_type")).distinct()
          .localCheckpoint() // feeds totals, singles, and the pair join
        val nUsers = ut.select(col("user_id")).distinct().count()
        val singles = ut.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n"))
        val pairs = ut.as("a").join(ut.as("b"),
            col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
          .agg(countDistinct(col("a.user_id")).as("n_both"))
        pairs
          .join(singles.select(col("event_type").as("t1"), col("n").as("n1")), "t1")
          .join(singles.select(col("event_type").as("t2"), col("n").as("n2")), "t2")
          .select(col("t1"), col("t2"), col("n_both"), col("n1"), col("n2"),
            round(col("n_both").cast("double") * nUsers /
              (col("n1") * col("n2")).cast("double"), 6).as("lift"),
            round(col("n_both").cast("double") / col("n1"), 6).as("conf_1_to_2"))
          .orderBy(col("t1"), col("t2"))
      },
      Some("""
        WITH ut AS (
          SELECT DISTINCT user_id, event_type FROM events
        ), nu AS (
          SELECT COUNT(DISTINCT user_id) AS n_users FROM ut
        ), s AS (
          SELECT event_type, COUNT(DISTINCT user_id) AS n FROM ut GROUP BY 1
        ), p AS (
          SELECT a.event_type AS t1, b.event_type AS t2,
                 COUNT(DISTINCT a.user_id) AS n_both
          FROM ut a JOIN ut b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2
        )
        SELECT p.t1, p.t2, p.n_both, s1.n AS n1, s2.n AS n2,
               round(CAST(p.n_both AS DOUBLE) * nu.n_users /
                 CAST(s1.n * s2.n AS DOUBLE), 6) AS lift,
               round(CAST(p.n_both AS DOUBLE) / s1.n, 6) AS conf_1_to_2
        FROM p JOIN s s1 ON s1.event_type = p.t1
               JOIN s s2 ON s2.event_type = p.t2
               CROSS JOIN nu
        ORDER BY p.t1, p.t2"""),
      "Association mining over per-user behavior sets: support, " +
        "confidence, and lift for every event-type pair. The pair join " +
        "runs on DISTINCT (user, type) rows — at most |types| per user — " +
        "so the pair space is |types|^2-bounded at any event volume."),

    // ---- q133: Kaplan-Meier time-to-convert -------------------------------
    "q133_survival_km" -> Q(
      (s, d) => graft.operators.EventOps.kaplanMeier(
          Tables.events(s, d).withColumn("ep", unix_timestamp(col("ts"))),
          "user_id", "ep",
          isStart = col("event_type") === "view",
          isEvent = col("event_type") === "purchase"),
      Some(s"""
        WITH e AS (
          SELECT user_id, event_type, $EPOCH AS ep FROM events
        ), pu AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'view' THEN ep END) AS t0,
                 MAX(ep) AS t_last,
                 MIN(CASE WHEN event_type = 'purchase' THEN ep END) AS te_any
          FROM e GROUP BY user_id
        ), u AS (
          SELECT user_id, t0, t_last,
                 CASE WHEN te_any >= t0 THEN te_any END AS te
          FROM pu WHERE t0 IS NOT NULL
        ), du AS (
          SELECT user_id, te IS NOT NULL AS observed,
                 CAST(floor((COALESCE(te, t_last) - t0) / 86400.0) AS BIGINT) AS dur
          FROM u
        ), bd AS (
          SELECT dur, SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS d,
                 COUNT(*) AS c
          FROM du GROUP BY dur
        ), risk AS (
          SELECT dur, d, c,
                 (SELECT COUNT(*) FROM du) - COALESCE(SUM(c) OVER (
                   ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS n_risk
          FROM bd
        ), ev AS (
          SELECT dur, d, n_risk,
                 CASE WHEN d < n_risk THEN
                   CAST(round(ln(1 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)), 12)
                     AS DECIMAL(28,12)) END AS term
          FROM risk WHERE d > 0
        )
        SELECT dur, CAST(n_risk AS BIGINT) AS n_risk,
               CAST(d AS BIGINT) AS n_events,
               CASE WHEN MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER w = 1
                    THEN 0.0
                    ELSE round(exp(CAST(SUM(term) OVER w AS DOUBLE)), 6)
               END AS survival
        FROM ev
        WINDOW w AS (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY dur"""),
      "Kaplan-Meier time-to-convert: product-limit survival from first " +
        "view to first purchase, right-censored at last activity. The " +
        "running product is exp of an order-independent decimal ln-sum " +
        "(engine-exact); risk sets come from one cumulative window over " +
        "the bounded distinct-duration relation, never per-user rows."),

    // ---- q134: funnel time-to-convert quantiles ---------------------------
    "q134_funnel_durations" -> Q(
      (s, d) => {
        val fu = graft.operators.EventOps.funnelUsers(
          Tables.events(s, d), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        val completed = fu.filter(col("steps_completed") === 3)
          .select(lit("all").as("g"),
            floor((col("t_last") - col("t_first")) / lit(60.0)).cast("long")
              .as("dur_min"))
        graft.operators.Sketches.exactQuantiles(
            completed, "g", "dur_min", qs = Seq(0.5, 0.9, 0.99))
          .select(col("q"), col("quantile_disc").as("dur_min"))
          .orderBy(col("q"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_type, $EPOCH AS ep FROM events
        ), s1 AS (
          SELECT user_id, MIN(ep) AS t1 FROM e
          WHERE event_type = 'view' GROUP BY 1
        ), s2 AS (
          SELECT e.user_id, MIN(s1.t1) AS t1, MIN(e.ep) AS t2
          FROM e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'click' AND e.ep >= s1.t1
          GROUP BY 1
        ), s3 AS (
          SELECT e.user_id, MIN(s2.t1) AS t1, MIN(e.ep) AS t3
          FROM e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = 'purchase' AND e.ep >= s2.t2
          GROUP BY 1
        ), du AS (
          SELECT CAST(floor((t3 - t1) / 60.0) AS BIGINT) AS v FROM s3
        ), f AS (
          SELECT v, COUNT(*) AS cnt FROM du GROUP BY v
        ), c AS (
          SELECT v, cnt,
                 SUM(cnt) OVER (ORDER BY v) AS cum,
                 SUM(cnt) OVER () AS n
          FROM f
        ), qv AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
        SELECT q, v AS dur_min
        FROM c CROSS JOIN qv
        WHERE cum >= greatest(ceil(q * n), 1)
          AND cum - cnt < greatest(ceil(q * n), 1)
        ORDER BY q"""),
      "Funnel latency distribution: exact time-to-convert quantiles " +
        "(view -> click -> purchase, in-order earliest-completion " +
        "chain) over minute buckets via the q119 sort-free quantile " +
        "path — the composition of the funnel and quantile operators."),

    // ---- q137: CUSUM changepoint detection --------------------------------
    "q137_cusum_changepoint" -> Q(
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val e = Tables.events(s, d)
          .withColumn("ep", unix_timestamp(col("ts")))
          .select(col("user_id"), col("event_id"), col("ep"), col("value"))
        val stats = e.groupBy(col("user_id")).agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(27, 6))).as("s1"),
          sum((col("value") * col("value")).cast(DecimalType(38, 12))).as("s2"))
          .withColumn("mean", col("s1").cast("double") / col("n"))
          .withColumn("sd", sqrt((col("s2").cast("double") -
            col("s1").cast("double") * col("s1").cast("double") / col("n")) /
            col("n")))
          .filter(col("sd") > 0)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ep"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wOrd = Window.partitionBy(col("user_id"))
          .orderBy(col("ep"), col("event_id"))
        // S_k = Σ_{i<=k} x_i − k·mean: the cumulative term is a DECIMAL
        // window sum (order-independent exact; the q71 segment-tree
        // parity concern), the rest a fixed double chain
        val scored = e.join(stats, "user_id")
          .withColumn("k", row_number().over(wOrd))
          .withColumn("cum",
            sum(col("value").cast(DecimalType(27, 6))).over(w).cast("double"))
          .withColumn("s_k", col("cum") - col("k") * col("mean"))
          .withColumn("abs_s", abs(col("s_k")))
        val pick = Window.partitionBy(col("user_id"))
          .orderBy(col("abs_s").desc, col("event_id"))
        scored.withColumn("rn", row_number().over(pick)).filter(col("rn") === 1)
          .select(col("user_id"), col("n"),
            col("event_id").as("cp_event_id"), col("k").as("cp_k"),
            round(col("abs_s") / (col("sd") * sqrt(col("n").cast("double"))), 6)
              .as("cusum_stat"))
          .orderBy(col("user_id"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, value, $EPOCH AS ep, $TS AS tsu FROM events
        ), st AS (
          SELECT user_id, COUNT(*) AS n,
                 SUM(CAST(value AS DECIMAL(27,6))) AS s1,
                 SUM(CAST(value * value AS DECIMAL(38,12))) AS s2
          FROM e GROUP BY user_id
        ), g AS (
          SELECT user_id, n,
                 CAST(s1 AS DOUBLE) / n AS mean,
                 sqrt((CAST(s2 AS DOUBLE) -
                   CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n) AS sd
          FROM st
        ), sc AS (
          SELECT e.user_id, e.event_id, g.n, g.mean, g.sd,
                 ROW_NUMBER() OVER w AS k,
                 CAST(SUM(CAST(e.value AS DECIMAL(27,6))) OVER (
                   PARTITION BY e.user_id ORDER BY e.tsu, e.event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum
          FROM e JOIN g USING (user_id)
          WHERE g.sd > 0
          WINDOW w AS (PARTITION BY e.user_id ORDER BY e.tsu, e.event_id)
        ), ab AS (
          SELECT user_id, event_id, n, sd, k,
                 abs(cum - k * mean) AS abs_s
          FROM sc
        ), pick AS (
          SELECT user_id, event_id, n, sd, k, abs_s,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY abs_s DESC, event_id) AS rn
          FROM ab
        )
        SELECT user_id, n, event_id AS cp_event_id, CAST(k AS INT) AS cp_k,
               round(abs_s / (sd * sqrt(CAST(n AS DOUBLE))), 6) AS cusum_stat
        FROM pick WHERE rn = 1
        ORDER BY user_id"""),
      "CUSUM changepoint per user series: argmax |S_k| of the centered " +
        "cumulative sum, standardized — the mean-shift detector. The " +
        "cumulative term is a DECIMAL window sum (order-independent " +
        "exact, the q71 parity technique); everything else is a fixed " +
        "double chain. One key shuffle; per-key top-1 via " +
        "WindowGroupLimit."),

    // ---- q126: KMV audience overlap ---------------------------------------
    "q126_kmv_overlap" -> Q(
      (s, d) => {
        val e = Tables.events(s, d)
        graft.operators.Sketches.kmvOverlap(
          e.filter(col("event_type") === "view").select(col("user_id")),
          "user_id",
          e.filter(col("event_type") === "purchase").select(col("user_id")),
          "user_id", k = 64)
      },
      Some("""
        WITH ha AS (
          SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
          FROM events WHERE event_type = 'view'
        ), hb AS (
          SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
          FROM events WHERE event_type = 'purchase'
        ), bottom AS (
          SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb)
          ORDER BY h LIMIT 64
        ), agg AS (
          SELECT CAST(COUNT(*) AS INT) AS n_kept, MAX(h) AS hk,
                 SUM(CASE WHEN h IN (SELECT h FROM ha)
                           AND h IN (SELECT h FROM hb) THEN 1 ELSE 0 END) AS n_both
          FROM bottom
        ), ex AS (
          SELECT (SELECT COUNT(*) FROM (SELECT h FROM ha UNION SELECT h FROM hb)) AS exact_union,
                 (SELECT COUNT(*) FROM ha WHERE h IN (SELECT h FROM hb)) AS exact_inter
        )
        SELECT 64 AS k, n_kept,
               round(CAST(n_both AS DOUBLE) / n_kept, 6) AS jaccard_est,
               round(CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
                          ELSE CAST(63 AS DOUBLE) * 4503599627370496e0 / CAST(hk AS DOUBLE)
                     END, 4) AS union_est,
               round(CAST(n_both AS DOUBLE) / n_kept *
                     CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
                          ELSE CAST(63 AS DOUBLE) * 4503599627370496e0 / CAST(hk AS DOUBLE)
                     END, 4) AS inter_est,
               exact_union, exact_inter
        FROM agg CROSS JOIN ex"""),
      "KMV set algebra: the retained bottom-k hash sample composes — " +
        "union via the KMV estimator over the combined bottom-k, " +
        "Jaccard as the both-sides fraction of that sample, " +
        "intersection as their product (audience overlap). Global " +
        "bottom-k plans as TakeOrderedAndProject; exact union/" +
        "intersection audit the estimates."),

    // ---- q124: AQP estimate with CLT error bound --------------------------
    "q124_aqp_avg" -> Q(
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val e = Tables.events(s, d)
        val bucket = md5U52(col("event_id").cast("string"), 4).cast("int") % 100
        // deterministic 10% sample (content-derived — any engine and
        // any partitioning draws the same rows)
        val samp = e.filter(bucket < 10)
        val est = samp.groupBy(col("event_type")).agg(
          count(lit(1)).as("n_s"),
          sum(col("value").cast(DecimalType(27, 6))).as("s1"),
          sum((col("value") * col("value")).cast(DecimalType(38, 12))).as("s2"))
        val exact = e.groupBy(col("event_type")).agg(
          (sum(col("value").cast(DecimalType(27, 6))).cast("double") /
            count(lit(1))).as("exact_avg_raw"))
        val estAvg = col("s1").cast("double") / col("n_s")
        val varS = (col("s2").cast("double") -
          col("s1").cast("double") * col("s1").cast("double") / col("n_s")) /
          (col("n_s") - 1)
        val half = lit(1.96) * sqrt(varS / col("n_s"))
        est.join(exact, "event_type")
          .select(col("event_type"), col("n_s"),
            round(estAvg, 6).as("est_avg"),
            round(col("exact_avg_raw"), 6).as("exact_avg"),
            round(half, 6).as("half_width"),
            (abs(estAvg - col("exact_avg_raw")) <= half).as("within_ci"))
          .orderBy(col("event_type"))
      },
      Some("""
        WITH s AS (
          SELECT event_type, value FROM events
          WHERE CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 4)) AS INT) % 100 < 10
        ), est AS (
          SELECT event_type, COUNT(*) AS n_s,
                 SUM(CAST(value AS DECIMAL(27,6))) AS s1,
                 SUM(CAST(value * value AS DECIMAL(38,12))) AS s2
          FROM s GROUP BY event_type
        ), ex AS (
          SELECT event_type,
                 CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS exact_avg_raw
          FROM events GROUP BY event_type
        )
        SELECT est.event_type, est.n_s,
               round(CAST(s1 AS DOUBLE) / n_s, 6) AS est_avg,
               round(exact_avg_raw, 6) AS exact_avg,
               round(1.96e0 * sqrt(((CAST(s2 AS DOUBLE) -
                 CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_s) / (n_s - 1)) / n_s), 6) AS half_width,
               abs(CAST(s1 AS DOUBLE) / n_s - exact_avg_raw) <=
                 1.96e0 * sqrt(((CAST(s2 AS DOUBLE) -
                   CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_s) / (n_s - 1)) / n_s) AS within_ci
        FROM est JOIN ex ON ex.event_type = est.event_type
        ORDER BY est.event_type"""),
      "Approximate query processing with an error bound: a 10% " +
        "content-hash sample estimates per-group mean with a 95% CLT " +
        "half-width, the exact answer rides along as the audit. " +
        "Decimal-exact moments make the whole chain engine-identical; " +
        "the sample is partitioning-independent, so at 100 TB the " +
        "estimate scans 10% of the data with zero coordination."),

    // ---- q122: time-series motif search -----------------------------------
    "q122_ts_motif" -> {
      val pattern = Seq(0.0, 1.0, 2.0, 3.0, 3.0, 2.0, 1.0, 0.0)
      val pMean = pattern.sum / pattern.length
      val pSd = math.sqrt(
        pattern.map(x => (x - pMean) * (x - pMean)).sum / pattern.length)
      val zq = pattern.map(x => (x - pMean) / pSd)
      val zqSql = zq.mkString("[", ", ", "]")
      Q(
        (s, d) => graft.operators.EventOps.motifTopK(
            Tables.events(s, d)
              .select(col("user_id"), col("ts"), col("event_id"), col("value")),
            "user_id", "ts", "event_id", "value", pattern, k = 3)
          .orderBy(col("user_id"), col("rank")),
        Some(s"""
          WITH e AS (
            SELECT user_id, event_id, value, $TS AS tsu FROM events
          ), w AS (
            SELECT user_id, event_id AS start_id,
                   list(value) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                                     ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS win
            FROM e
          ), f AS (
            SELECT * FROM w WHERE len(win) = 8
          ), z1 AS (
            SELECT user_id, start_id, win, list_sum(win) / 8 AS m FROM f
          ), z2 AS (
            SELECT user_id, start_id, win, m,
                   list_sum(list_transform(win, x -> (x - m) * (x - m))) / 8 AS v
            FROM z1
          ), sc AS (
            SELECT user_id, start_id,
                   round(list_sum(list_transform(generate_series(1, 8), i ->
                     ((win[i] - m) / sqrt(v)) * ($zqSql[i]))) / 8, 6) AS corr
            FROM z2 WHERE v > 0
          ), r AS (
            SELECT user_id, start_id, corr,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY corr DESC, start_id) AS rank
            FROM sc
          )
          SELECT user_id, start_id, corr, CAST(rank AS INT) AS rank
          FROM r WHERE rank <= 3
          ORDER BY user_id, rank"""),
        "Time-series subsequence similarity (UCR/MASS motif query): " +
          "slide a z-normalized length-8 window along each user's value " +
          "series, rank by normalized correlation against the query " +
          "shape. One key shuffle; windows are bounded L-element arrays; " +
          "folds are per-row and engine-deterministic; per-user top-k " +
          "cuts via WindowGroupLimit.")
    },

    // ---- q140: first/last-touch attribution via the native as-of ----------
    "q140_attribution" -> Q(
      (s, d) => {
        val e = Tables.events(s, d).withColumn("ep", unix_timestamp(col("ts")))
        val Lookback = 604800L // 7 days
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"),
            (get_json_object(col("props"), "$.k").cast("long") % 5L)
              .as("channel"),
            col("ep").as("view_ep"),
            (col("ep") * 10000000L + col("event_id")).as("jt"))
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"), col("ep"))
        // last-touch: latest view at or before the purchase (backward
        // as-of, ties to the later view), credited only if inside the
        // lookback window
        val last = graft.operators.EventOps.asOfJoinNative(
            p.withColumn("jt", col("ep") * 10000000L + lit(9999999L)), v,
            "user_id", "v_user", "jt", "jt")
          .select(col("p_id"),
            when(col("view_ep") >= col("ep") - Lookback, col("channel"))
              .as("last_ch"))
        // first-touch: earliest view at or after (purchase − lookback)
        // (forward as-of), credited only if at or before the purchase
        val first = graft.operators.EventOps.asOfJoinNative(
            p.withColumn("jt", (col("ep") - Lookback) * 10000000L), v,
            "user_id", "v_user", "jt", "jt", direction = "forward")
          .select(col("p_id"),
            when(col("view_ep") <= col("ep"), col("channel")).as("first_ch"))
        val total = p.groupBy().agg(count(lit(1)).as("_total"))
        val f = first.filter(col("first_ch").isNotNull)
          .groupBy(col("first_ch").as("channel"))
          .agg(count(lit(1)).as("n_first"))
        val l = last.filter(col("last_ch").isNotNull)
          .groupBy(col("last_ch").as("channel"))
          .agg(count(lit(1)).as("n_last"))
        f.join(l, Seq("channel"), "full_outer").crossJoin(total)
          .select(col("channel"),
            coalesce(col("n_first"), lit(0L)).as("n_first"),
            coalesce(col("n_last"), lit(0L)).as("n_last"),
            round(coalesce(col("n_first"), lit(0L)).cast("double") /
              col("_total"), 6).as("first_share"),
            round(coalesce(col("n_last"), lit(0L)).cast("double") /
              col("_total"), 6).as("last_share"))
          .orderBy(col("channel"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, event_type, $EPOCH AS ep,
                 CAST(json_extract_string(props, '$$.k') AS BIGINT) % 5 AS channel
          FROM events
        ), p AS (
          SELECT user_id, event_id AS p_id, ep FROM e
          WHERE event_type = 'purchase'
        ), v AS (
          SELECT user_id, channel, event_id AS view_id, ep AS view_ep
          FROM e WHERE event_type = 'view'
        ), a AS (
          SELECT p.p_id,
                 (SELECT CASE WHEN v.view_ep >= p.ep - 604800
                              THEN v.channel END
                  FROM v WHERE v.user_id = p.user_id AND v.view_ep <= p.ep
                  ORDER BY v.view_ep DESC, v.view_id DESC LIMIT 1) AS last_ch,
                 (SELECT CASE WHEN v.view_ep <= p.ep THEN v.channel END
                  FROM v WHERE v.user_id = p.user_id
                    AND v.view_ep >= p.ep - 604800
                  ORDER BY v.view_ep ASC, v.view_id ASC LIMIT 1) AS first_ch
          FROM p
        ), f AS (
          SELECT first_ch AS channel, COUNT(*) AS n_first FROM a
          WHERE first_ch IS NOT NULL GROUP BY 1
        ), l AS (
          SELECT last_ch AS channel, COUNT(*) AS n_last FROM a
          WHERE last_ch IS NOT NULL GROUP BY 1
        ), t AS (SELECT COUNT(*) AS total FROM p)
        SELECT COALESCE(f.channel, l.channel) AS channel,
               COALESCE(f.n_first, 0) AS n_first,
               COALESCE(l.n_last, 0) AS n_last,
               round(COALESCE(f.n_first, 0) / t.total, 6) AS first_share,
               round(COALESCE(l.n_last, 0) / t.total, 6) AS last_share
        FROM f FULL OUTER JOIN l ON f.channel = l.channel CROSS JOIN t
        ORDER BY channel"""),
      "Marketing attribution composed from BOTH directions of the " +
        "native as-of exec: last-touch = backward as-of (latest view " +
        "before each purchase, window-gated), first-touch = forward " +
        "as-of from the lookback horizon — each a two-linear-shuffle " +
        "merge at any scale, channel credit shares against a " +
        "scalar-aggregate purchase total (no driver-side count)."),

    // ---- q143: SCD Type-2 dimension build (change capture + intervals) ----
    "q143_scd2_intervals" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val tiers = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"),
            floor(col("value") / 100).cast("int").as("tier"))
        val changed = tiers
          .withColumn("prev_tier", lag(col("tier"), 1).over(w))
          .filter(!(col("tier") <=> col("prev_tier")))
        changed
          .withColumn("version", row_number().over(w).cast("int"))
          .withColumn("valid_to", lead(col("ts"), 1).over(w))
          .select(col("user_id"), col("version"),
            col("ts").as("valid_from"), col("valid_to"), col("tier"),
            col("valid_to").isNull.as("is_current"))
          .orderBy(col("user_id"), col("version"))
      },
      Some(s"""
        WITH p AS (
          SELECT user_id, $TS AS ts, event_id,
                 CAST(floor(value / 100) AS INT) AS tier
          FROM events WHERE event_type = 'purchase'
        ), c AS (
          SELECT *, lag(tier) OVER
            (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tier
          FROM p
        ), f AS (
          SELECT * FROM c WHERE tier IS DISTINCT FROM prev_tier
        )
        SELECT user_id,
               CAST(row_number() OVER w AS INT) AS version,
               ts AS valid_from,
               lead(ts) OVER w AS valid_to,
               tier,
               (lead(ts) OVER w IS NULL) AS is_current
        FROM f
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY user_id, version"""),
      "Slowly-changing-dimension Type 2 build from a change stream — " +
        "the warehouse dimension-maintenance classic: per-user purchase " +
        "tier states, CONSECUTIVE duplicates collapsed by a lag() " +
        "change-capture filter (null-safe), surviving changes numbered " +
        "and framed into [valid_from, valid_to) intervals with an " +
        "is_current flag. Two window passes over the user-partitioned " +
        "relation, no self-join — the interval table the as-of/range " +
        "joins (q25/q128) then probe at any scale."),

    // ---- q144: gaps-and-islands activity streaks --------------------------
    "q144_activity_streaks" -> Q(
      (s, d) => {
        val days = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("d"))
          .distinct()
        val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
        days
          .withColumn("anchor",
            date_sub(col("d"), row_number().over(w)))
          .groupBy(col("user_id"), col("anchor"))
          .agg(count(lit(1)).cast("int").as("streak_days"),
            date_format(min(col("d")), "yyyy-MM-dd").as("streak_start"),
            date_format(max(col("d")), "yyyy-MM-dd").as("streak_end"))
          .select(col("user_id"), col("streak_start"), col("streak_end"),
            col("streak_days"))
          .orderBy(col("user_id"), col("streak_start"))
      },
      Some(s"""
        WITH days AS (
          SELECT DISTINCT user_id, CAST($TS AS DATE) AS d FROM events
        ), g AS (
          SELECT user_id, d,
                 d - CAST(row_number() OVER
                   (PARTITION BY user_id ORDER BY d) AS INT) AS anchor
          FROM days
        )
        SELECT user_id,
               strftime(min(d), '%Y-%m-%d') AS streak_start,
               strftime(max(d), '%Y-%m-%d') AS streak_end,
               CAST(COUNT(*) AS INT) AS streak_days
        FROM g
        GROUP BY user_id, anchor
        ORDER BY user_id, streak_start"""),
      "Gaps-and-islands via the date-minus-row_number anchor trick: " +
        "distinct active days per user collapse to one row per " +
        "CONSECUTIVE run (the retention 'streak'), each with start/end/" +
        "length. One distinct + one user-partitioned window + one " +
        "bounded aggregate — no self-join, no sequence explosion; the " +
        "complement of q19's gap-based sessionization (time gaps " +
        "there, calendar-day runs here)."),

    // ---- q146: Markov transition matrix over event sequences --------------
    "q146_markov_transitions" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val trans = Tables.events(s, d)
          .withColumn("dst", lead(col("event_type"), 1).over(w))
          .filter(col("dst").isNotNull)
          .groupBy(col("event_type").as("src"), col("dst"))
          .agg(count(lit(1)).as("n"))
        val srcTotal = Window.partitionBy(col("src"))
        trans
          .withColumn("p", round(col("n").cast("double") /
            sum(col("n")).over(srcTotal).cast("double"), 6))
          .orderBy(col("src"), col("dst"))
      },
      Some(s"""
        WITH seq AS (
          SELECT event_type AS src,
                 lead(event_type) OVER
                   (PARTITION BY user_id ORDER BY $TS, event_id) AS dst
          FROM events
        ), t AS (
          SELECT src, dst, COUNT(*) AS n FROM seq
          WHERE dst IS NOT NULL GROUP BY 1, 2
        )
        SELECT src, dst, n,
               round(CAST(n AS DOUBLE) /
                 CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE), 6) AS p
        FROM t
        ORDER BY src, dst"""),
      "First-order Markov transition matrix over per-user event " +
        "sequences — the journey-mining/next-event primitive: one " +
        "user-partitioned lead() pass, then a |types|²-bounded " +
        "aggregate (25 rows here whatever the corpus size) with row " +
        "probabilities from a partition-sum window over that bounded " +
        "relation. The behavioral twin of q107's token bigram LM."),

    // ---- q148: nearest-direction as-of through the native exec ------------
    "q148_asof_nearest" -> Q(
      (s, d) => {
        val e = Tables.events(s, d).withColumn("ep", unix_timestamp(col("ts")))
        // unique total-order join time (epoch, event_id composite) so
        // the |Δ| comparison and tie-break are engine-exact
        val jt = (col("ep") * 10000000L + col("event_id")).as("jt")
        val l = e.filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id"), col("ep"), jt)
        val r = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"),
            col("event_id").as("purch_id"), col("value").as("purch_value"),
            col("ep").as("purch_ep"), jt)
        graft.operators.EventOps.asOfJoinNative(l, r,
            "user_id", "p_user", "jt", "jt", direction = "nearest")
          .select(col("user_id"), col("event_id"), col("ep"),
            col("purch_id"), col("purch_value"),
            (col("purch_ep") - col("ep")).as("delta_sec"))
          .orderBy(col("event_id"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, event_type, value, $EPOCH AS ep
          FROM events
        ), err AS (
          SELECT user_id, event_id, ep,
                 ep * 10000000 + event_id AS jt
          FROM e WHERE event_type = 'error'
        ), p AS (
          SELECT user_id, event_id AS purch_id, value AS purch_value,
                 ep AS purch_ep, ep * 10000000 + event_id AS jt
          FROM e WHERE event_type = 'purchase'
        )
        SELECT err.user_id, err.event_id, err.ep,
               m.purch_id, m.purch_value,
               m.purch_ep - err.ep AS delta_sec
        FROM err LEFT JOIN LATERAL (
          SELECT purch_id, purch_value, purch_ep FROM p
          WHERE p.user_id = err.user_id
          ORDER BY abs(p.jt - err.jt),
                   (CASE WHEN p.jt <= err.jt THEN 0 ELSE 1 END)
          LIMIT 1) m ON true
        ORDER BY err.event_id"""),
      "NEAREST-direction as-of through the custom physical exec: for " +
        "each error, the closest purchase by the same user in EITHER " +
        "time direction (ties backward) — root-cause correlation at " +
        "big-big scale. Same single merge pass as q128/q130 (one " +
        "exchange + sort per side, O(1) retained state plus the " +
        "un-consumed right head); |Δ| compares a unique " +
        "(epoch, event_id) composite so both engines resolve " +
        "identically. Hash-equal to a LATERAL min-|Δ| oracle."),

    // ---- q149: unpivot (wide -> long), the pivot round-trip ---------------
    "q149_unpivot_roundtrip" -> Q(
      (s, d) => {
        val wide = Tables.events(s, d)
          .groupBy(col("user_id"))
          .pivot("event_type",
            Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          .na.fill(0)
        wide.unpivot(
            Array(col("user_id")),
            Array(col("click"), col("error"), col("purchase"),
              col("signup"), col("view")),
            "event_type", "n")
          .filter(col("n") > 0)
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
        ORDER BY user_id, event_type"""),
      "Unpivot/melt (wide -> long): q21's pivoted matrix runs back " +
        "through Dataset.unpivot and must hash-equal the plain long " +
        "groupBy — the round-trip proof that pivot and unpivot are " +
        "exact inverses (zero-count cells drop out). Unpivot is a " +
        "projection-time explode, no shuffle beyond the originating " +
        "aggregate."),

    // ---- q151: dyadic EWMA smoothing + deviation ---------------------------
    "q151_ewma_smooth" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        // (14,6) not (27,6): the 8-term product-sum chain must stay
        // under Spark's 38-digit cap or it silently REDUCES scale
        // (allowPrecisionLoss) and truncates the grid
        val v6 = col("value").cast(DecimalType(14, 6))
        // dyadic weights 2^-1..2^-7 + a second 2^-7 sum to exactly 1;
        // every product lands on the decimal grid — engine-exact
        val weights = Seq("0.5", "0.25", "0.125", "0.0625", "0.03125",
          "0.015625", "0.0078125", "0.0078125")
        val ewmaDec = weights.zipWithIndex.map { case (wt, i) =>
            lag(v6, i).over(w) * lit(new java.math.BigDecimal(wt))
          }.reduce(_ + _)
        Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("value"),
            col("ts"), v6.as("v6"),
            lag(v6, 7).over(w).as("l7"), ewmaDec.as("ewma_dec"))
          .filter(col("l7").isNotNull)
          // no round(): dyadic weights park values EXACTLY on .5e-6
          // boundaries where engine tie rules differ; the scale-13
          // decimal -> double cast is itself engine-exact (unscaled
          // < 2^53, one correctly-rounded division)
          .select(col("user_id"), col("event_id"), col("value"),
            col("ewma_dec").cast("double").as("ewma"),
            (col("v6") - col("ewma_dec")).cast("double").as("dev"))
          .orderBy(col("event_id"))
      },
      Some(s"""
        WITH p AS (
          SELECT user_id, event_id, value, $TS AS ts,
                 CAST(value AS DECIMAL(27,6)) AS v6
          FROM events WHERE event_type = 'purchase'
        ), l AS (
          SELECT user_id, event_id, value, v6,
                 v6 AS l0, lag(v6, 1) OVER w AS l1,
                 lag(v6, 2) OVER w AS l2, lag(v6, 3) OVER w AS l3,
                 lag(v6, 4) OVER w AS l4, lag(v6, 5) OVER w AS l5,
                 lag(v6, 6) OVER w AS l6, lag(v6, 7) OVER w AS l7
          FROM p
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, event_id, value,
               CAST(l0*0.5 + l1*0.25 + l2*0.125 + l3*0.0625 +
                 l4*0.03125 + l5*0.015625 + l6*0.0078125 +
                 l7*0.0078125 AS DOUBLE) AS ewma,
               CAST(v6 - (l0*0.5 + l1*0.25 + l2*0.125 + l3*0.0625 +
                 l4*0.03125 + l5*0.015625 + l6*0.0078125 +
                 l7*0.0078125) AS DOUBLE) AS dev
        FROM l WHERE l7 IS NOT NULL
        ORDER BY event_id"""),
      "Exponentially-weighted moving average per user series with " +
        "DYADIC weights (2^-1..2^-7, tail doubled to sum to exactly 1): " +
        "every product lands on the decimal grid, so the smoothed " +
        "series is bit-identical across engines — no float-accumulation " +
        "drift. One window pass (8 lags), no self-join; the smoothing " +
        "companion of q137's CUSUM drift detector, and `dev` is the " +
        "per-point anomaly signal."),

    // ---- q152: bucketized interval-overlap join ---------------------------
    "q152_interval_overlap" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val ev = Tables.events(s, d)
          .withColumn("ep", unix_timestamp(col("ts")))
        val sess = ev
          .withColumn("gap", col("ep") - lag(col("ep"), 1).over(w))
          .withColumn("is_new",
            when(col("gap").isNull || col("gap") > 1800, 1).otherwise(0))
          .withColumn("sess", sum(col("is_new"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("sess"))
          .agg(min(col("ep")).as("s_start"), max(col("ep")).as("s_end"))
        val inc = ev.filter(col("event_type") === "error")
          .groupBy((expr("ep div 900") * 900).as("inc_start"))
          .agg(count(lit(1)).as("n_errors"))
          .filter(col("n_errors") >= 2)
        // explode each session into the 900s buckets it touches; an
        // incident IS one full bucket, so the bucket equi-join is the
        // EXACT overlap join (no residual predicate, no theta join)
        sess
          .withColumn("b", explode(sequence(
            expr("s_start div 900"), expr("s_end div 900"))))
          .join(inc, col("b") === expr("inc_start div 900"))
          .select(col("user_id"), col("sess").cast("int").as("sess"),
            col("s_start"), col("s_end"), col("inc_start"), col("n_errors"),
            (least(col("s_end"), col("inc_start") + 899) -
              greatest(col("s_start"), col("inc_start")) + 1)
              .as("overlap_sec"))
          .orderBy(col("user_id"), col("sess"), col("inc_start"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, event_type, $EPOCH AS ep, $TS AS tsu
          FROM events
        ), g AS (
          SELECT user_id, ep, tsu, event_id,
            CASE WHEN ep - LAG(ep) OVER w IS NULL
                   OR ep - LAG(ep) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        ), sessed AS (
          SELECT user_id, ep,
            SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
          FROM g
        ), per_sess AS (
          SELECT user_id, sess, MIN(ep) AS s_start, MAX(ep) AS s_end
          FROM sessed GROUP BY user_id, sess
        ), inc AS (
          SELECT (ep // 900) * 900 AS inc_start, COUNT(*) AS n_errors
          FROM e WHERE event_type = 'error'
          GROUP BY 1 HAVING COUNT(*) >= 2
        )
        SELECT s.user_id, CAST(s.sess AS INT) AS sess, s.s_start, s.s_end,
               i.inc_start, i.n_errors,
               least(s.s_end, i.inc_start + 899) -
                 greatest(s.s_start, i.inc_start) + 1 AS overlap_sec
        FROM per_sess s JOIN inc i
          ON s.s_start <= i.inc_start + 899 AND i.inc_start <= s.s_end
        ORDER BY user_id, sess, inc_start"""),
      "Interval-overlap join (which user sessions overlapped a " +
        "platform incident window) computed as a BUCKETIZED EQUI-join: " +
        "sessions explode into the 900s epoch buckets they touch, " +
        "incidents occupy exactly one bucket, so bucket equality IS " +
        "interval overlap — hash-joinable at any scale, bucket fan-out " +
        "= span/900 per row. Hash-equal to the theta-join oracle, " +
        "which is the whole point: the O(n·m) overlap predicate " +
        "becomes a shuffle on bounded integer keys."),

    // ---- q156: session path mining (top-k journeys) ------------------------
    "q156_session_paths" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val sessed = Tables.events(s, d)
          .withColumn("ep", unix_timestamp(col("ts")))
          .withColumn("gap", col("ep") - lag(col("ep"), 1).over(w))
          .withColumn("is_new",
            when(col("gap").isNull || col("gap") > 1800, 1).otherwise(0))
          .withColumn("sess", sum(col("is_new"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        // per-session ordered path: sort (ep, event_id, type) structs in
        // the agg (collect_list alone has no order guarantee), keep the
        // first 5 steps
        val paths = sessed.groupBy(col("user_id"), col("sess"))
          .agg(array_join(transform(
            slice(array_sort(collect_list(struct(col("ep"), col("event_id"),
              col("event_type").as("et")))), 1, 5),
            x => x.getField("et")), ">").as("path"))
        val counts = paths.groupBy(col("path"))
          .agg(count(lit(1)).as("n_sessions"))
        val total = counts.agg(sum(col("n_sessions")).as("total"))
        counts.crossJoin(broadcast(total))
          .select(col("path"), col("n_sessions"),
            round(col("n_sessions").cast("double") /
              col("total").cast("double"), 6).as("share"))
          .orderBy(col("n_sessions").desc, col("path"))
          .limit(20)
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, event_type, $EPOCH AS ep, $TS AS tsu
          FROM events
        ), g AS (
          SELECT *, CASE WHEN ep - LAG(ep) OVER w IS NULL
                       OR ep - LAG(ep) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        ), sessed AS (
          SELECT user_id, event_id, event_type, ep,
            SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
          FROM g
        ), paths AS (
          SELECT user_id, sess,
            array_to_string(list(event_type ORDER BY ep, event_id)[1:5], '>') AS path
          FROM sessed GROUP BY user_id, sess
        ), c AS (
          SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path
        ), t AS (SELECT SUM(n_sessions) AS total FROM c)
        SELECT path, n_sessions,
               round(CAST(n_sessions AS DOUBLE) / CAST(total AS DOUBLE), 6)
                 AS share
        FROM c CROSS JOIN t
        ORDER BY n_sessions DESC, path
        LIMIT 20"""),
      "Session path mining — the journey-DISCOVERY primitive (q108's " +
        "funnel measures a path you name; this surfaces the paths that " +
        "exist): gap-sessionized events fold into ordered first-5-step " +
        "path strings (struct-sorted inside the aggregate — " +
        "collect_list alone has no order guarantee), counted globally, " +
        "top-20 via TakeOrderedAndProject with a total-order " +
        "tiebreak. Path space is bounded by |types|^5, counts " +
        "map-side combine."),

    // ---- q157: period-over-period BI ratios --------------------------------
    "q157_mom_growth" -> Q(
      (s, d) => {
        val monthly = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy(date_trunc("month", col("o_orderdate")).as("month"),
            col("c_mktsegment"))
          .agg(moneySum(col("o_totalprice")).as("revenue"))
        val seg = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("month"))
        val mon = Window.partitionBy(col("month"))
        monthly
          .withColumn("prev", lag(col("revenue"), 1).over(seg))
          .withColumn("mom_growth",
            round((col("revenue") - col("prev")) / col("prev"), 6))
          .withColumn("month_share", round(col("revenue") /
            sum(col("revenue")).over(mon), 6))
          .select(col("month"), col("c_mktsegment"), col("revenue"),
            col("mom_growth"), col("month_share"))
          .orderBy(col("month"), col("c_mktsegment"))
      },
      Some(s"""
        WITH m AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
                 c.c_mktsegment,
                 ${sqlMoneySum("o.o_totalprice")} AS revenue
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        )
        SELECT month, c_mktsegment, revenue,
               round((revenue - LAG(revenue) OVER w) /
                 LAG(revenue) OVER w, 6) AS mom_growth,
               round(revenue / SUM(revenue) OVER
                 (PARTITION BY month), 6) AS month_share
        FROM m
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY month)
        ORDER BY month, c_mktsegment"""),
      "Period-over-period BI ratios: month × segment revenue (exact " +
        "decimal accumulation) with lag()-based month-over-month " +
        "growth and share-of-month window ratios — the reporting " +
        "primitive every warehouse dashboard runs. One |months|×" +
        "|segments|-bounded aggregate, two windows over that bounded " +
        "relation; ratio arithmetic is single IEEE ops on " +
        "decimal-exact inputs, identical across engines."),

    // ---- q158: point-in-time lookup against the SCD2 dimension ------------
    "q158_pit_lookup" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("ep", unix_timestamp(col("ts")))
        // the q143 SCD2 build, on epochs
        val intervals = ev
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ep"), col("event_id"),
            floor(col("value") / 100).cast("int").as("tier"))
          .withColumn("prev_tier", lag(col("tier"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("ep"), col("event_id"))))
          .filter(!(col("tier") <=> col("prev_tier")))
          .withColumn("version", row_number().over(
            Window.partitionBy(col("user_id")).orderBy(col("ep"), col("event_id")))
            .cast("int"))
          .select(col("user_id").as("i_user"), col("version"),
            col("ep").as("uf"), col("tier"),
            // unique-per-key composite: equal valid_from epochs break
            // by version, latest wins (backward picks last in order)
            (col("ep") * 10000000L + col("version")).as("jt"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id"), col("ep"),
            (col("ep") * 10000000L + lit(5000000L)).as("jt"))
        graft.operators.EventOps.asOfJoinNative(views, intervals,
            "user_id", "i_user", "jt", "jt")
          .select(col("user_id"), col("event_id"), col("ep"),
            col("version"), col("tier"))
          .orderBy(col("event_id"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, event_type, value, $EPOCH AS ep
          FROM events
        ), p AS (
          SELECT user_id, ep, event_id,
                 CAST(floor(value / 100) AS INT) AS tier
          FROM e WHERE event_type = 'purchase'
        ), c AS (
          SELECT *, lag(tier) OVER
            (PARTITION BY user_id ORDER BY ep, event_id) AS prev_tier
          FROM p
        ), f AS (
          SELECT user_id, ep AS uf, tier,
                 CAST(row_number() OVER
                   (PARTITION BY user_id ORDER BY ep, event_id) AS INT)
                   AS version
          FROM c WHERE tier IS DISTINCT FROM prev_tier
        ), v AS (
          SELECT user_id, event_id, ep FROM e WHERE event_type = 'view'
        )
        SELECT v.user_id, v.event_id, v.ep, m.version, m.tier
        FROM v LEFT JOIN LATERAL (
          SELECT version, tier FROM f
          WHERE f.user_id = v.user_id AND f.uf <= v.ep
          ORDER BY f.uf DESC, f.version DESC LIMIT 1) m ON true
        ORDER BY v.event_id"""),
      "Point-in-time dimensional lookup — the warehouse 'AS OF' read " +
        "that q143's SCD2 build exists for, composed through the " +
        "custom physical as-of exec: each view event resolves the tier " +
        "version in effect at its timestamp via one sort-merge pass " +
        "(no interval range-join, no window buffer), with a " +
        "(valid_from, version) composite breaking same-second version " +
        "changes deterministically. Hash-equal to a LATERAL " +
        "latest-interval oracle; views before a user's first version " +
        "stay with null dimension columns (left-outer semantics).")
    ,

    // ---- q160: time-weighted average (TWAP) --------------------------------
    "q160_twap" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("ep", unix_timestamp(col("ts")))
          .withColumn("dt", lead(col("ep"), 1).over(w) - col("ep"))
          .filter(col("dt").isNotNull)
          .groupBy(col("user_id"))
          .agg(
            sum(round(col("value") * col("dt").cast("double"), 6)
              .cast(DecimalType(27, 6))).cast("double").as("sum_vdt"),
            sum(col("dt")).as("sum_dt"),
            count(lit(1)).as("n_intervals"))
          .withColumn("twap", round(col("sum_vdt") /
            col("sum_dt").cast("double"), 6))
          .select(col("user_id"), col("n_intervals"), col("sum_dt"),
            col("twap"))
          .orderBy(col("user_id"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, value, $EPOCH AS ep, $TS AS tsu
          FROM events
        ), iv AS (
          SELECT user_id, value,
                 LEAD(ep) OVER (PARTITION BY user_id
                   ORDER BY tsu, event_id) - ep AS dt
          FROM e
        )
        SELECT user_id, COUNT(*) AS n_intervals,
               CAST(SUM(dt) AS BIGINT) AS sum_dt,
               round(CAST(SUM(CAST(round(value * CAST(dt AS DOUBLE), 6)
                   AS DECIMAL(27,6))) AS DOUBLE) /
                 CAST(SUM(dt) AS DOUBLE), 6) AS twap
        FROM iv WHERE dt IS NOT NULL
        GROUP BY user_id
        ORDER BY user_id"""),
      "Time-weighted average (the TWAP/uptime-metric primitive): each " +
        "reading holds until the next one, so its weight is the " +
        "interval length, not 1 — the correct mean for irregularly " +
        "sampled gauges (sensor values, position sizes, feature " +
        "freshness). One per-user window pass for interval lengths, " +
        "one map-side-combinable aggregate; per-row value*dt is a " +
        "single IEEE multiply and the sums accumulate on the exact " +
        "decimal grid, so both engines produce bit-identical means."),

    // ---- q161: two-proportion A/B z-test -----------------------------------
    "q161_ab_ztest" -> Q(
      (s, d) => {
        val assigned = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase" &&
              col("value") > 100, 1).otherwise(0))
            .as("converted"))
          .withColumn("variant",
            when((md5U52(col("user_id").cast("string"), 4).cast("int") % 2) === 0,
              "A").otherwise("B"))
        val counts = assigned.groupBy(col("variant"))
          .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
        val a = counts.filter(col("variant") === "A")
          .select(col("n").as("n_a"), col("conv").as("conv_a"))
        val b = counts.filter(col("variant") === "B")
          .select(col("n").as("n_b"), col("conv").as("conv_b"))
        a.crossJoin(b).select(
          col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          round(col("conv_a").cast("double") / col("n_a").cast("double"), 6)
            .as("p_a"),
          round(col("conv_b").cast("double") / col("n_b").cast("double"), 6)
            .as("p_b"),
          round(
            (col("conv_a").cast("double") / col("n_a").cast("double") -
             col("conv_b").cast("double") / col("n_b").cast("double")) /
            // nullif guards the degenerate p̂∈{0,1} case (zero pooled
            // variance): ANSI mode throws on double div-by-zero
            nullif(sqrt(((col("conv_a") + col("conv_b")).cast("double") /
                  (col("n_a") + col("n_b")).cast("double")) *
                 (lit(1.0) - (col("conv_a") + col("conv_b")).cast("double") /
                  (col("n_a") + col("n_b")).cast("double")) *
                 (lit(1.0) / col("n_a").cast("double") +
                  lit(1.0) / col("n_b").cast("double"))), lit(0.0)),
            6).as("z"))
      },
      Some("""
        WITH u AS (
          SELECT user_id,
                 MAX(CASE WHEN event_type = 'purchase' AND value > 100
                     THEN 1 ELSE 0 END) AS converted,
                 CASE WHEN CAST(concat('0x',
                     substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS INT)
                     % 2 = 0 THEN 'A' ELSE 'B' END AS variant
          FROM events GROUP BY user_id
        ), c AS (
          SELECT variant, COUNT(*) AS n,
                 CAST(SUM(converted) AS BIGINT) AS conv
          FROM u GROUP BY variant
        ), a AS (SELECT n AS n_a, conv AS conv_a FROM c WHERE variant = 'A'),
           b AS (SELECT n AS n_b, conv AS conv_b FROM c WHERE variant = 'B')
        SELECT n_a, conv_a, n_b, conv_b,
               round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS p_a,
               round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS p_b,
               round(
                 (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
                  CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
                 nullif(sqrt((CAST(conv_a + conv_b AS DOUBLE) /
                       CAST(n_a + n_b AS DOUBLE)) *
                      (1.0 - CAST(conv_a + conv_b AS DOUBLE) /
                       CAST(n_a + n_b AS DOUBLE)) *
                      (1.0 / CAST(n_a AS DOUBLE) +
                       1.0 / CAST(n_b AS DOUBLE))), 0.0), 6) AS z
        FROM a CROSS JOIN b"""),
      "Two-proportion z-test over a HASH-assigned experiment split — " +
        "the A/B readout primitive: variants come from the user-id " +
        "content hash (q49's leak-proof stance: assignment is stable " +
        "across runs, machines, and engines — no RNG state to sync), " +
        "conversion is a per-user max-flag aggregate, and the pooled " +
        "z-statistic is pure integer-derived IEEE arithmetic (exact " +
        "int→double conversions, one correctly-rounded sqrt), so both " +
        "engines compute the identical statistic. One user-keyed " +
        "aggregate + a 2-row reduction — nothing here grows past " +
        "|users| at any corpus size.")
    ,

    // ---- q198: CUPED variance-reduced A/B effect ---------------------------
    "q198_cuped" -> Q(
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        // per-user pre-period covariate x (purchase cents through Jan
        // 15) and experiment-period metric y (after), both on the
        // integer cent grid; variant by the q161 md5 coin
        val perUser = Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("value").isNotNull)
          .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
          .withColumn("pre", to_date(col("ts")) <= lit("2024-01-15"))
          .groupBy(col("user_id"))
          .agg(sum(when(col("pre"), col("cents")).otherwise(0L)).as("x"),
               sum(when(!col("pre"), col("cents")).otherwise(0L)).as("y"))
          .withColumn("variant",
            when((md5U52(col("user_id").cast("string"), 4).cast("int") % 2) === 0,
              "A").otherwise("B"))
        def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
        val m = perUser.groupBy(col("variant"))
          .agg(count(lit(1)).as("n"),
            sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
            sum(dec(col("x") * col("x"))).as("sxx"),
            sum(dec(col("x") * col("y"))).as("sxy"),
            sum(dec(col("y") * col("y"))).as("syy"))
        val a = m.filter(col("variant") === "A").select(col("n").as("n_a"),
          col("sx").as("sx_a"), col("sy").as("sy_a"), col("sxx").as("sxx_a"),
          col("sxy").as("sxy_a"), col("syy").as("syy_a"))
        val b = m.filter(col("variant") === "B").select(col("n").as("n_b"),
          col("sx").as("sx_b"), col("sy").as("sy_b"), col("sxx").as("sxx_b"),
          col("sxy").as("sxy_b"), col("syy").as("syy_b"))
        // θ and ρ² from POOLED exact moments (standard CUPED), the
        // whole tail one fixed IEEE chain over exact-integer casts
        val nD = (col("n_a") + col("n_b")).cast("double")
        def pooled(x: String) = (col(s"${x}_a") + col(s"${x}_b")).cast("double")
        val covNum = nD * pooled("sxy") - pooled("sx") * pooled("sy")
        val varXNum = nD * pooled("sxx") - pooled("sx") * pooled("sx")
        val varYNum = nD * pooled("syy") - pooled("sy") * pooled("sy")
        val theta = covNum / nullif(varXNum, lit(0.0))
        def mean(s: String, n: String) =
          col(s).cast("double") / col(n).cast("double") / lit(100.0)
        val diffRaw = mean("sy_a", "n_a") - mean("sy_b", "n_b")
        a.crossJoin(b).select(
          col("n_a"), col("n_b"),
          mean("sy_a", "n_a").as("mean_y_a"),
          mean("sy_b", "n_b").as("mean_y_b"),
          diffRaw.as("diff_raw"),
          theta.as("theta"),
          (diffRaw - theta * (mean("sx_a", "n_a") - mean("sx_b", "n_b")))
            .as("diff_cuped"),
          ((covNum / nullif(varXNum, lit(0.0))) *
            (covNum / nullif(varYNum, lit(0.0)))).as("var_reduction"))
      },
      Some(s"""
        WITH u AS (
          SELECT user_id,
                 CAST(SUM(CASE WHEN CAST($TS AS DATE) <= DATE '2024-01-15'
                     THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS x,
                 CAST(SUM(CASE WHEN NOT CAST($TS AS DATE) <= DATE '2024-01-15'
                     THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS y,
                 CASE WHEN CAST(concat('0x',
                     substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS INT)
                     % 2 = 0 THEN 'A' ELSE 'B' END AS variant
          FROM events
          WHERE event_type = 'purchase' AND value IS NOT NULL
          GROUP BY user_id
        ), m AS (
          SELECT variant, COUNT(*) AS n,
                 SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
                 SUM(CAST(x * x AS HUGEINT)) AS sxx,
                 SUM(CAST(x * y AS HUGEINT)) AS sxy,
                 SUM(CAST(y * y AS HUGEINT)) AS syy
          FROM u GROUP BY variant
        ), a AS (SELECT n AS n_a, sx AS sx_a, sy AS sy_a, sxx AS sxx_a,
                        sxy AS sxy_a, syy AS syy_a FROM m WHERE variant = 'A'),
           b AS (SELECT n AS n_b, sx AS sx_b, sy AS sy_b, sxx AS sxx_b,
                        sxy AS sxy_b, syy AS syy_b FROM m WHERE variant = 'B'),
        d AS (
          SELECT n_a, n_b,
                 CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS mean_y_a,
                 CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0 AS mean_y_b,
                 CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS mean_x_a,
                 CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0 AS mean_x_b,
                 CAST(n_a + n_b AS DOUBLE) * CAST(sxy_a + sxy_b AS DOUBLE) -
                   CAST(sx_a + sx_b AS DOUBLE) * CAST(sy_a + sy_b AS DOUBLE)
                   AS cov_num,
                 CAST(n_a + n_b AS DOUBLE) * CAST(sxx_a + sxx_b AS DOUBLE) -
                   CAST(sx_a + sx_b AS DOUBLE) * CAST(sx_a + sx_b AS DOUBLE)
                   AS varx_num,
                 CAST(n_a + n_b AS DOUBLE) * CAST(syy_a + syy_b AS DOUBLE) -
                   CAST(sy_a + sy_b AS DOUBLE) * CAST(sy_a + sy_b AS DOUBLE)
                   AS vary_num
          FROM a CROSS JOIN b)
        SELECT n_a, n_b, mean_y_a, mean_y_b,
               mean_y_a - mean_y_b AS diff_raw,
               cov_num / nullif(varx_num, 0.0) AS theta,
               (mean_y_a - mean_y_b) -
                 (cov_num / nullif(varx_num, 0.0)) * (mean_x_a - mean_x_b)
                 AS diff_cuped,
               (cov_num / nullif(varx_num, 0.0)) *
                 (cov_num / nullif(vary_num, 0.0)) AS var_reduction
        FROM d"""),
      "CUPED variance-reduced experiment readout (Deng et al., WSDM " +
        "2013): the pre-period purchase total is the covariate, θ = " +
        "cov(x,y)/var(x) comes from POOLED exact cent-grid moments " +
        "(the q135 integer-moment discipline — one user-keyed " +
        "aggregate, then a 2-row reduction), and the adjusted effect " +
        "diff_raw − θ·(x̄_A − x̄_B) plus the removed-variance share ρ² " +
        "are a fixed IEEE chain over exact integers — engine-identical " +
        "unrounded. The standard ~40-70% variance cut means the same " +
        "experiment decides in half the traffic; nothing here grows " +
        "past |users| at any corpus size.")
    ,

    // ---- q165: median/MAD robust outlier screen ---------------------------
    "q165_mad_outliers" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), col("value"))
        val med = graft.operators.Sketches.exactQuantiles(
            ev, "event_type", "value", Seq(0.5))
          .select(col("event_type").as("mt"), col("quantile_disc").as("med"))
        val dev = ev.join(broadcast(med), col("event_type") === col("mt"))
          .withColumn("adev", abs(col("value") - col("med")))
        val mad = graft.operators.Sketches.exactQuantiles(
            dev.select(col("event_type"), col("adev")),
            "event_type", "adev", Seq(0.5))
          .select(col("event_type").as("at"), col("quantile_disc").as("mad"))
        dev.join(broadcast(mad), col("event_type") === col("at"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            max(col("med")).as("median"),
            max(col("mad")).as("mad"),
            sum(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
              .otherwise(0L)).as("n_outliers"))
          .orderBy(col("event_type"))
      },
      Some("""
        WITH med AS (
          SELECT event_type, quantile_disc(value, 0.5) AS med
          FROM events GROUP BY 1
        ), dev AS (
          SELECT e.event_type, e.value, m.med,
                 abs(e.value - m.med) AS adev
          FROM events e JOIN med m ON e.event_type = m.event_type
        ), mad AS (
          SELECT event_type, quantile_disc(adev, 0.5) AS mad
          FROM dev GROUP BY 1
        )
        SELECT d.event_type, COUNT(*) AS n,
               MAX(d.med) AS median, MAX(a.mad) AS mad,
               CAST(SUM(CASE WHEN d.adev > 3.0 * 1.4826 * a.mad
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev d JOIN mad a ON d.event_type = a.event_type
        GROUP BY d.event_type
        ORDER BY d.event_type"""),
      "Robust outlier screen per event type: exact discrete median and " +
        "MAD (median absolute deviation) — the estimators a 50%-" +
        "contaminated metric cannot drag, unlike mean/stddev — then " +
        "count values past the 3-sigma-equivalent 1.4826*MAD fence. " +
        "Medians ride the q119 frequency-table machinery (group, " +
        "value, count — the window runs over distinct values, with " +
        "map-side combine shrinking repeated metrics first); the " +
        "quantile is an ACTUAL data value by construction, so both " +
        "engines pick the identical double and the fence compares " +
        "identically. Two scans + two bounded windows; no global sort."),

    // ---- q167: per-series OLS trend slope ----------------------------------
    "q167_trend_slope" -> Q(
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), lit("1970-01-01")).as("x"))
          .agg(count(lit(1)).as("y"))
        daily.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_days"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(col("event_type"), col("n_days"), col("sy").as("n_events"),
            round((col("n_days") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              (col("n_days") * col("sxx") - col("sx") * col("sx"))
              .cast("double"), 6).as("slope_per_day"))
          .orderBy(col("event_type"))
      },
      Some(s"""
        WITH daily AS (
          SELECT event_type,
                 datediff('day', DATE '1970-01-01', CAST($TS AS DATE)) AS x,
                 COUNT(*) AS y
          FROM events GROUP BY 1, 2
        )
        SELECT event_type, COUNT(*) AS n_days,
               CAST(SUM(y) AS BIGINT) AS n_events,
               round(CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)
                   AS DOUBLE) /
                 CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE),
                 6) AS slope_per_day
        FROM daily
        GROUP BY event_type
        ORDER BY event_type"""),
      "Per-series OLS trend slope (events/day drift per type) from " +
        "closed-form integer moments: daily counts collapse the corpus " +
        "to |types|x|days| rows map-side, then slope = (n*Sxy - Sx*Sy) " +
        "/ (n*Sxx - Sx^2) is computed ENTIRELY in BIGINT — exact, " +
        "order-independent, engine-identical — with one double " +
        "division at the end. The trend-detection primitive for metric " +
        "regression alerts; at 100 TB the only state is the bounded " +
        "daily grid."),

    // ---- q168: decay-weighted recency score --------------------------------
    "q168_decay_score" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("day", to_date(col("ts")))
        val ref = ev.agg(max(col("day")).as("ref_day"))
        ev.crossJoin(broadcast(ref))
          .withColumn("age", least(datediff(col("ref_day"), col("day")),
            lit(40)))
          // dyadic decay with ZERO float steps until the very end:
          // score = sum(v * 2^(40-age)) / 2^40, the numerator pure
          // decimal*bigint (exact, order-independent), the final
          // decimal->double conversion one correctly-rounded op and
          // the /2^40 an exact exponent decrement — round() on
          // dyadic values tie-breaks differently across engines
          .withColumn("term", (col("value").cast(DecimalType(14, 2)) *
            expr("shiftleft(1L, 40 - cast(age as int))"))
            .cast(DecimalType(38, 2)))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            (sum(col("term")).cast("double") / lit(1099511627776.0))
              .as("decay_score"))
          .orderBy(col("user_id"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, value, CAST($TS AS DATE) AS day FROM events
        ), ref AS (SELECT MAX(day) AS ref_day FROM e)
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(14,2)) *
                   (1::BIGINT << (40 - least(
                     datediff('day', day, ref_day), 40)))) AS DOUBLE)
                 / 1099511627776.0 AS decay_score
        FROM e CROSS JOIN ref
        GROUP BY user_id
        ORDER BY user_id"""),
      "Exponential-decay recency score per user (the feature-store " +
        "'engagement' primitive): each event contributes value * " +
        "2^-age_days against the corpus max date, computed as " +
        "sum(value * 2^(40-age)) / 2^40 so the accumulation is PURE " +
        "decimal-times-integer (exact, order-independent, no libm " +
        "pow(), no round() on dyadic midpoints — the q151 grid stance " +
        "applied to time decay; ages cap at 40 where the weight is " +
        "~1e-12). Reference date is a broadcast scalar aggregate " +
        "(zero driver jobs); the score is one map-side-combinable " +
        "decimal aggregate per user.")
    ,

    // ---- q170: lagged cross-correlation between two series -----------------
    "q170_lag_xcorr" -> Q(
      (s, d) => {
        val hourly = Tables.events(s, d)
          .filter(col("event_type").isin("view", "purchase"))
          .groupBy(col("event_type"),
            (unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
              .cast("long").as("h"))
          .agg(count(lit(1)).as("n"))
        val x = hourly.filter(col("event_type") === "view")
          .select(col("h").as("xh"), col("n").as("xn"))
        val y = hourly.filter(col("event_type") === "purchase")
          .select(col("h").as("yh"), col("n").as("yn"))
        import s.implicits._
        val lags = Seq(-2, -1, 0, 1, 2).toDF("lag")
        val joined = x
          .crossJoin(broadcast(lags))
          .join(y, col("xh") === col("yh") + col("lag"))
        joined.groupBy(col("lag"))
          .agg(count(lit(1)).as("n_hours"),
            sum(col("xn")).as("sx"), sum(col("yn")).as("sy"),
            sum(col("xn") * col("yn")).as("sxy"),
            sum(col("xn") * col("xn")).as("sxx"),
            sum(col("yn") * col("yn")).as("syy"))
          .select(col("lag"), col("n_hours"),
            round((col("n_hours") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              sqrt((col("n_hours") * col("sxx") - col("sx") * col("sx"))
                .cast("double") *
                (col("n_hours") * col("syy") - col("sy") * col("sy"))
                .cast("double")), 6).as("xcorr"))
          .orderBy(col("lag"))
      },
      Some(s"""
        WITH hourly AS (
          SELECT event_type,
                 CAST(floor(epoch(date_trunc('hour', $TS))) AS BIGINT)
                   // 3600 AS h,
                 COUNT(*) AS n
          FROM events
          WHERE event_type IN ('view', 'purchase')
          GROUP BY 1, 2
        ), x AS (SELECT h AS xh, n AS xn FROM hourly
                 WHERE event_type = 'view'),
           y AS (SELECT h AS yh, n AS yn FROM hourly
                 WHERE event_type = 'purchase'),
           j AS (
          SELECT l.lag, x.xn, y.yn
          FROM x CROSS JOIN
            (SELECT unnest([-2, -1, 0, 1, 2]) AS lag) l
          JOIN y ON x.xh = y.yh + l.lag
        )
        SELECT lag, COUNT(*) AS n_hours,
               round(CAST(COUNT(*) * SUM(xn * yn) - SUM(xn) * SUM(yn)
                   AS DOUBLE) /
                 sqrt(CAST(COUNT(*) * SUM(xn * xn) - SUM(xn) * SUM(xn)
                     AS DOUBLE) *
                   CAST(COUNT(*) * SUM(yn * yn) - SUM(yn) * SUM(yn)
                     AS DOUBLE)), 6) AS xcorr
        FROM j
        GROUP BY lag
        ORDER BY lag"""),
      "Lagged cross-correlation between two event series (does " +
        "purchase volume FOLLOW view volume, and by how many hours?): " +
        "both series collapse to bounded hourly-count grids map-side, " +
        "five lag offsets join grid-to-grid (never event-to-event), " +
        "and each lag's Pearson r comes from closed-form BIGINT " +
        "moments — exact and order-independent — with the two variance " +
        "factors cast to double BEFORE their product so the " +
        "denominator cannot overflow int64 at 100x the counts. The " +
        "lead-lag diagnostic behind attribution windows and campaign " +
        "echo detection."),

    // ---- q172: long-format column profiler ---------------------------------
    "q172_column_profiler" -> Q(
      (s, d) => Tables.orders(s, d)
        .selectExpr("""stack(4,
            'o_custkey', cast(o_custkey as string),
            'o_orderkey', cast(o_orderkey as string),
            'o_orderpriority', cast(o_orderpriority as string),
            'o_orderstatus', cast(o_orderstatus as string)
          ) as (col_name, val)""")
        .groupBy(col("col_name"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("val").isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(col("val")).as("n_distinct"),
          min(col("val")).as("min_val"),
          max(col("val")).as("max_val"))
        .orderBy(col("col_name")),
      Some("""
        SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_null,
               COUNT(DISTINCT CAST(o_custkey AS VARCHAR)) AS n_distinct,
               MIN(CAST(o_custkey AS VARCHAR)) AS min_val,
               MAX(CAST(o_custkey AS VARCHAR)) AS max_val
        FROM orders
        UNION ALL
        SELECT 'o_orderkey', COUNT(*),
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT),
               COUNT(DISTINCT CAST(o_orderkey AS VARCHAR)),
               MIN(CAST(o_orderkey AS VARCHAR)),
               MAX(CAST(o_orderkey AS VARCHAR))
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', COUNT(*),
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT),
               COUNT(DISTINCT o_orderpriority),
               MIN(o_orderpriority), MAX(o_orderpriority)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*),
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT),
               COUNT(DISTINCT o_orderstatus),
               MIN(o_orderstatus), MAX(o_orderstatus)
        FROM orders
        ORDER BY col_name"""),
      "Long-format column profiler — the discovery half of data " +
        "quality (q150 checks rules you wrote; this tells you what to " +
        "write): stack() unpivots the columns into (col_name, val) " +
        "rows IN ONE SCAN — the UNION-ALL-per-column oracle shape " +
        "reads the table once per column, which at 100 TB is the " +
        "difference between one pass and N — then per-column " +
        "null/distinct/min/max aggregate with map-side combine. " +
        "String-cast values keep the output schema uniform; the " +
        "profiled columns are exact string conversions on both " +
        "engines (ints and categoricals — doubles would hit " +
        "shortest-representation formatting differences).")
    ,

    // ---- q173: time-of-week seasonal profile + anomaly counts --------------
    "q173_seasonal_anomaly" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hr"),
            col("value"))
        val cells = ev.groupBy(col("dow"), col("hr"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(27, 6))).cast("double")
              .as("sv"),
            sum(round(col("value") * col("value"), 6)
              .cast(DecimalType(27, 6))).cast("double").as("svv"))
          .withColumn("mean_v", col("sv") / col("n").cast("double"))
          .withColumn("sd_v", sqrt(
            (col("svv") - col("sv") * col("sv") / col("n").cast("double")) /
            col("n").cast("double")))
        ev.join(broadcast(cells), Seq("dow", "hr"))
          .groupBy(col("dow"), col("hr"))
          .agg(max(col("n")).as("n"),
            round(max(col("mean_v")), 6).as("mean_v"),
            round(max(col("sd_v")), 6).as("sd_v"),
            sum(when(abs(col("value") - col("mean_v")) >
              lit(2.0) * col("sd_v"), 1L).otherwise(0L)).as("n_anomalies"))
          .orderBy(col("dow"), col("hr"))
      },
      Some(s"""
        WITH e AS (
          SELECT dayofweek($TS) + 1 AS dow, hour($TS) AS hr, value
          FROM events
        ), cells AS (
          SELECT dow, hr, COUNT(*) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sv,
                 CAST(SUM(CAST(round(value * value, 6) AS DECIMAL(27,6)))
                   AS DOUBLE) AS svv
          FROM e GROUP BY 1, 2
        ), stats AS (
          SELECT dow, hr, n, sv / CAST(n AS DOUBLE) AS mean_v,
                 sqrt((svv - sv * sv / CAST(n AS DOUBLE)) /
                   CAST(n AS DOUBLE)) AS sd_v
          FROM cells
        )
        SELECT e.dow, e.hr, MAX(s.n) AS n,
               round(MAX(s.mean_v), 6) AS mean_v,
               round(MAX(s.sd_v), 6) AS sd_v,
               CAST(SUM(CASE WHEN abs(e.value - s.mean_v) > 2.0 * s.sd_v
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        FROM e JOIN stats s ON e.dow = s.dow AND e.hr = s.hr
        GROUP BY e.dow, e.hr
        ORDER BY e.dow, e.hr"""),
      "Time-of-week seasonal profile with per-cell anomaly counts — " +
        "the STL-lite baseline every metrics-alerting pipeline " +
        "subtracts before thresholding (an absolute fence fires every " +
        "rush hour; a per-(weekday,hour) fence fires on deviations " +
        "FROM the rhythm): cell means and variances from one " +
        "decimal-moment pass over a 7x24-bounded grid, broadcast back " +
        "for the anomaly count — the fact table never shuffles. The " +
        "mean/sd arithmetic is a fixed IEEE chain over decimal-exact " +
        "moments, identical across engines."),

    // ---- q177: DAU / WAU rolling-activity ratios ---------------------------
    "q177_dau_wau" -> Q(
      (s, d) => graft.operators.EventOps.dauWau(
        Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()),
      Some(s"""
        WITH active AS (
          SELECT DISTINCT user_id, CAST($TS AS DATE) AS day FROM events
        ), dau AS (
          SELECT day, COUNT(DISTINCT user_id) AS dau FROM active GROUP BY 1
        ), wau AS (
          SELECT d.day, COUNT(DISTINCT a.user_id) AS wau
          FROM dau d
          CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS off) o
          JOIN active a ON a.day = d.day - o.off
          GROUP BY d.day
        )
        SELECT CAST(day AS TIMESTAMP) AS day, dau, wau,
               round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6)
                 AS stickiness
        FROM dau JOIN wau USING (day)
        ORDER BY day"""),
      "DAU / trailing-7-day WAU / stickiness — the engagement " +
        "dashboard primitive: the corpus collapses once to distinct " +
        "(user, day) pairs (checkpointed — both ratios read it), DAU " +
        "is one grouped distinct, and WAU unrolls the trailing window " +
        "as 7 explicit day-offset equi-joins against the bounded day " +
        "grid — a distinct-count-over-range window is not partial-" +
        "aggregatable, but 7 equi-joins on (user, day) are, and the " +
        "expansion factor is the window length, not the corpus. " +
        "Integer counts; one rounded division.")
    ,

    // ---- q178: multi-touch linear attribution ------------------------------
    "q178_linear_attribution" -> Q(
      (s, d) => {
        val e = Tables.events(s, d).withColumn("ep", unix_timestamp(col("ts")))
        val Lookback = 604800L // 7 days, the q140 window
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"),
            (get_json_object(col("props"), "$.k").cast("long") % 5L)
              .as("channel"),
            col("ep").as("view_ep"))
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"), col("ep"))
        val touches = p.join(v,
          col("user_id") === col("v_user") &&
          col("view_ep") <= col("ep") &&
          col("view_ep") >= col("ep") - Lookback)
        val perPurchase = Window.partitionBy(col("p_id"))
        touches
          .withColumn("n_touch", count(lit(1)).over(perPurchase))
          // linear credit: each touch gets 1/n of the conversion,
          // rounded onto the decimal grid before the exact sum
          .withColumn("credit", round(lit(1.0) /
            col("n_touch").cast("double"), 6))
          .groupBy(col("channel"))
          .agg(count(lit(1)).as("n_touches"),
            countDistinct(col("p_id")).as("n_purchases"),
            sum(col("credit").cast(DecimalType(27, 6))).cast("double")
              .as("credited_conversions"))
          .orderBy(col("channel"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, event_type, props, $EPOCH AS ep
          FROM events
        ), v AS (
          SELECT user_id AS v_user,
                 CAST(json_extract_string(props, '$$.k') AS BIGINT) % 5
                   AS channel,
                 ep AS view_ep
          FROM e WHERE event_type = 'view'
        ), p AS (
          SELECT user_id, event_id AS p_id, ep
          FROM e WHERE event_type = 'purchase'
        ), touches AS (
          SELECT p.p_id, v.channel,
                 COUNT(*) OVER (PARTITION BY p.p_id) AS n_touch
          FROM p JOIN v ON p.user_id = v.v_user
            AND v.view_ep <= p.ep AND v.view_ep >= p.ep - 604800
        )
        SELECT channel, COUNT(*) AS n_touches,
               COUNT(DISTINCT p_id) AS n_purchases,
               CAST(SUM(CAST(round(1.0 / CAST(n_touch AS DOUBLE), 6)
                 AS DECIMAL(27,6))) AS DOUBLE) AS credited_conversions
        FROM touches
        GROUP BY channel
        ORDER BY channel"""),
      "Multi-touch LINEAR attribution — the fair-share complement of " +
        "q140's first/last-touch: every view inside the 7-day lookback " +
        "shares the conversion equally (credit 1/n, rounded onto the " +
        "decimal grid before the exact per-channel sum). The " +
        "touch expansion is a USER-KEYED range join — each user's " +
        "purchases only meet that user's views, so the pair space is " +
        "per-user bounded, never |purchases|x|views|; the per-purchase " +
        "count rides one window over each purchase's own touches. The " +
        "marketing-mix readout every growth team reconciles against " +
        "last-touch numbers.")
    ,

    // ---- q180: session bounce-rate by entry type ---------------------------
    "q180_bounce_rate" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val sessed = Tables.events(s, d)
          .withColumn("ep", unix_timestamp(col("ts")))
          .withColumn("gap", col("ep") - lag(col("ep"), 1).over(w))
          .withColumn("is_new",
            when(col("gap").isNull || col("gap") > 1800, 1).otherwise(0))
          .withColumn("sess", sum(col("is_new"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val sessions = sessed.groupBy(col("user_id"), col("sess"))
          .agg(count(lit(1)).as("n_events"),
            min_by(col("event_type"), struct(col("ep"), col("event_id")))
              .as("entry_type"))
        sessions.groupBy(col("entry_type"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("n_events") === 1, 1L).otherwise(0L))
              .as("n_bounces"))
          .withColumn("bounce_rate", round(
            col("n_bounces").cast("double") /
            col("n_sessions").cast("double"), 6))
          .orderBy(col("entry_type"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, event_type, $EPOCH AS ep, $TS AS tsu
          FROM events
        ), g AS (
          SELECT *, CASE WHEN ep - LAG(ep) OVER w IS NULL
                       OR ep - LAG(ep) OVER w > 1800 THEN 1 ELSE 0 END
                   AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        ), sessed AS (
          SELECT user_id, event_id, event_type, ep,
            SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
          FROM g
        ), counts AS (
          SELECT user_id, sess, COUNT(*) AS n_events
          FROM sessed GROUP BY user_id, sess
        ), firsts AS (
          SELECT user_id, sess, event_type AS entry_type
          FROM sessed
          QUALIFY row_number() OVER (PARTITION BY user_id, sess
            ORDER BY ep, event_id) = 1
        ), sessions AS (
          SELECT c.user_id, c.sess, c.n_events, f.entry_type
          FROM counts c JOIN firsts f
            ON c.user_id = f.user_id AND c.sess = f.sess
        )
        SELECT entry_type, COUNT(*) AS n_sessions,
               CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_bounces,
               round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                   AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                 AS bounce_rate
        FROM sessions
        GROUP BY entry_type
        ORDER BY entry_type"""),
      "Session bounce rate by entry event — the landing-quality " +
        "readout (which first-touch types lose the user immediately?): " +
        "the q19/q156 gap-sessionization, per-session event count + " +
        "deterministic first event via min_by on the (time, id) " +
        "composite (no collect_list ordering hazard), then a " +
        "|types|-bounded bounce aggregate. Two per-user windows and " +
        "one bounded groupBy; integer ratio arithmetic."),

    // ---- q181: semi-additive month-end balances ----------------------------
    "q181_semi_additive" -> Q(
      (s, d) => {
        val weekly = Tables.events(s, d)
          .withColumn("week", date_trunc("week", col("ts")))
          .groupBy(col("user_id"), col("week"))
          .agg(max_by(col("value"),
            struct(unix_timestamp(col("ts")), col("event_id")))
            .as("week_end_balance"))
        val byWeek = Window.orderBy(col("week"))
        weekly.groupBy(col("week"))
          .agg(count(lit(1)).as("n_users"),
            sum(round(col("week_end_balance"), 2)
              .cast(DecimalType(27, 6))).cast("double").as("total_balance"))
          .withColumn("prev", lag(col("total_balance"), 1).over(byWeek))
          .select(col("week"), col("n_users"),
            round(col("total_balance"), 2).as("total_balance"),
            round(col("total_balance") - col("prev"), 2).as("wow_delta"))
          .orderBy(col("week"))
      },
      Some(s"""
        WITH m AS (
          SELECT user_id,
                 CAST(date_trunc('week', $TS) AS TIMESTAMP) AS week,
                 value AS week_end_balance
          FROM events
          QUALIFY row_number() OVER (
            PARTITION BY user_id, date_trunc('week', $TS)
            ORDER BY $EPOCH DESC, event_id DESC) = 1
        ), t AS (
          SELECT week, COUNT(*) AS n_users,
                 CAST(SUM(CAST(round(week_end_balance, 2)
                   AS DECIMAL(27,6))) AS DOUBLE) AS total_balance
          FROM m GROUP BY 1
        )
        SELECT week, n_users, round(total_balance, 2) AS total_balance,
               round(total_balance - LAG(total_balance, 1) OVER
                 (ORDER BY week), 2) AS wow_delta
        FROM t
        ORDER BY week"""),
      "Semi-additive week-end balances — the balance-sheet measure " +
        "warehouses cannot SUM across time (a balance is a POINT " +
        "reading; only the period's LAST value per key may aggregate " +
        "across keys): last-in-week per user via max_by on the " +
        "(time, id) composite — one map-side-combinable aggregate, no " +
        "row_number pass over raw events (the oracle's QUALIFY form is " +
        "the sort-based shape this avoids) — then the cross-user " +
        "decimal total and week-over-week delta over the bounded week " +
        "relation. The snapshot-fact pattern for inventory, AUM, and " +
        "account-balance marts.")
    ,

    // ---- q183: cohort LTV triangle -----------------------------------------
    "q183_ltv_cohorts" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("week", date_trunc("week", col("ts")))
        val cohorts = ev.groupBy(col("user_id"))
          .agg(min(col("week")).as("cohort_week"))
        val rev = ev.filter(col("event_type") === "purchase")
          .join(broadcast(cohorts), Seq("user_id"))
          .withColumn("age_weeks",
            floor(datediff(to_date(col("week")), to_date(col("cohort_week")))
              / 7).cast("int"))
          .groupBy(col("cohort_week"), col("age_weeks"))
          .agg(countDistinct(col("user_id")).as("n_buyers"),
            sum(round(col("value"), 2).cast(DecimalType(27, 6)))
              .cast("double").as("revenue"))
        val sizes = cohorts.groupBy(col("cohort_week"))
          .agg(count(lit(1)).as("cohort_size"))
        val byAge = Window.partitionBy(col("cohort_week"))
          .orderBy(col("age_weeks"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        rev.join(broadcast(sizes), Seq("cohort_week"))
          .withColumn("cum_rev", sum(col("revenue").cast(DecimalType(27, 6)))
            .over(byAge).cast("double"))
          .select(col("cohort_week"), col("age_weeks"), col("cohort_size"),
            col("n_buyers"), round(col("revenue"), 2).as("revenue"),
            round(col("cum_rev") / col("cohort_size").cast("double"), 6)
              .as("cum_ltv_per_user"))
          .orderBy(col("cohort_week"), col("age_weeks"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_type, value,
                 CAST(date_trunc('week', $TS) AS TIMESTAMP) AS week
          FROM events
        ), cohorts AS (
          SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY 1
        ), rev AS (
          SELECT c.cohort_week,
                 CAST(floor(datediff('day', CAST(c.cohort_week AS DATE),
                   CAST(e.week AS DATE)) / 7) AS INT) AS age_weeks,
                 COUNT(DISTINCT e.user_id) AS n_buyers,
                 CAST(SUM(CAST(round(e.value, 2) AS DECIMAL(27,6)))
                   AS DOUBLE) AS revenue
          FROM e JOIN cohorts c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase'
          GROUP BY 1, 2
        ), sizes AS (
          SELECT cohort_week, COUNT(*) AS cohort_size
          FROM cohorts GROUP BY 1
        )
        SELECT r.cohort_week, r.age_weeks, s.cohort_size, r.n_buyers,
               round(r.revenue, 2) AS revenue,
               round(CAST(SUM(CAST(r.revenue AS DECIMAL(27,6))) OVER
                   (PARTITION BY r.cohort_week ORDER BY r.age_weeks
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / CAST(s.cohort_size AS DOUBLE), 6)
                 AS cum_ltv_per_user
        FROM rev r JOIN sizes s ON r.cohort_week = s.cohort_week
        ORDER BY r.cohort_week, r.age_weeks"""),
      "Cohort LTV triangle — cumulative revenue per signup-week cohort " +
        "by week age, per cohort member (the unit-economics readout " +
        "payback models are fit on; q131's retention triangle with " +
        "money instead of presence): first-seen week per user, " +
        "purchase revenue folded to the bounded (cohort, age) grid " +
        "map-side, cohort sizes broadcast back, and the cumulative " +
        "window runs over the grid — never events. Decimal-exact " +
        "revenue; one rounded division per cell."),

    // ---- q184: RFM segmentation --------------------------------------------
    "q184_rfm_segments" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
        val ref = ev.agg(max(to_date(col("ts"))).as("ref_day"))
        val rfm = ev.filter(col("event_type") === "purchase")
          .crossJoin(broadcast(ref))
          .groupBy(col("user_id"))
          .agg(min(datediff(col("ref_day"), to_date(col("ts"))))
            .as("recency_days"),
            count(lit(1)).as("frequency"),
            sum(round(col("value"), 2).cast(DecimalType(27, 6)))
              .cast("double").as("monetary"))
        // quintile scores; recency INVERTS (smaller = better = 5).
        // The three ntiles come from ranged ranks (Skew.rangedRanks)
        // instead of unpartitioned windows — the user spine GROWS with
        // the corpus, and the single-partition WindowExec was the tier's
        // at-scale serialization point. One pin for all three orders:
        // each user is ranked once per order in the same sorted pin;
        // ntile arithmetic is value-identical (unique tiebreak id).
        val S = graft.operators.Skew
        S.rangedRanks(rfm, "user_id", Seq(
            Seq(col("recency_days").desc, col("user_id")),
            Seq(col("frequency"), col("user_id")),
            Seq(col("monetary"), col("user_id"))))
          .withColumn("r", S.ntileFromRank(col("_rank_0"), col("_n"), 5))
          .withColumn("f", S.ntileFromRank(col("_rank_1"), col("_n"), 5))
          .withColumn("m", S.ntileFromRank(col("_rank_2"), col("_n"), 5))
          .withColumn("segment",
            when(col("r") >= 4 && col("f") >= 4, "champion")
              .when(col("r") >= 4, "recent")
              .when(col("f") >= 4, "loyal_at_risk")
              .when(col("r") <= 2 && col("f") <= 2, "hibernating")
              .otherwise("regular"))
          .select(col("user_id"), col("recency_days"), col("frequency"),
            round(col("monetary"), 2).as("monetary"), col("r"), col("f"),
            col("m"), col("segment"))
          .orderBy(col("user_id"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_type, value, CAST($TS AS DATE) AS day
          FROM events
        ), ref AS (SELECT MAX(day) AS ref_day FROM e),
        rfm AS (
          SELECT user_id,
                 MIN(datediff('day', day, ref_day)) AS recency_days,
                 COUNT(*) AS frequency,
                 CAST(SUM(CAST(round(value, 2) AS DECIMAL(27,6)))
                   AS DOUBLE) AS monetary
          FROM e CROSS JOIN ref
          WHERE event_type = 'purchase'
          GROUP BY user_id
        ), scored AS (
          SELECT *,
            ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS r,
            ntile(5) OVER (ORDER BY frequency, user_id) AS f,
            ntile(5) OVER (ORDER BY monetary, user_id) AS m
          FROM rfm
        )
        SELECT user_id, recency_days, frequency,
               round(monetary, 2) AS monetary, r, f, m,
               CASE WHEN r >= 4 AND f >= 4 THEN 'champion'
                    WHEN r >= 4 THEN 'recent'
                    WHEN f >= 4 THEN 'loyal_at_risk'
                    WHEN r <= 2 AND f <= 2 THEN 'hibernating'
                    ELSE 'regular' END AS segment
        FROM scored
        ORDER BY user_id"""),
      "RFM segmentation — recency/frequency/monetary quintiles with " +
        "rule-based segment labels, the CRM workhorse: per-user " +
        "purchase aggregates in one pass (reference date is a " +
        "broadcast scalar), three ntile windows over TOTAL orders " +
        "(metric, user_id — identical bucket boundaries on both " +
        "engines), integer scores, deterministic CASE labels. One pin " +
        "for all three orders: every user is copied once per order, " +
        "and one range-partitioned, sorted pin of 3·|users| rows turns " +
        "its per-partition counts into the three ranks' offsets — no " +
        "single-partition window over the user spine."),

    // ---- q185: new-vs-returning daily split --------------------------------
    "q185_new_returning" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day"))
        val firstDay = ev.groupBy(col("user_id"))
          .agg(min(col("day")).as("first_day"))
        ev.distinct()
          .join(broadcast(firstDay), Seq("user_id"))
          .groupBy(col("day"))
          .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .as("new_users"),
            sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L))
              .as("returning_users"))
          .withColumn("pct_new", round(col("new_users").cast("double") /
            (col("new_users") + col("returning_users")).cast("double"), 6))
          .select(col("day").cast("timestamp").as("day"), col("new_users"),
            col("returning_users"), col("pct_new"))
          .orderBy(col("day"))
      },
      Some(s"""
        WITH a AS (
          SELECT DISTINCT user_id, CAST($TS AS DATE) AS day FROM events
        ), f AS (
          SELECT user_id, MIN(day) AS first_day FROM a GROUP BY 1
        ), g AS (
          SELECT a.day,
                 CAST(SUM(CASE WHEN a.day = f.first_day THEN 1 ELSE 0 END)
                   AS BIGINT) AS new_users,
                 CAST(SUM(CASE WHEN a.day <> f.first_day THEN 1 ELSE 0 END)
                   AS BIGINT) AS returning_users
          FROM a JOIN f ON a.user_id = f.user_id
          GROUP BY a.day
        )
        SELECT CAST(day AS TIMESTAMP) AS day, new_users, returning_users,
               round(CAST(new_users AS DOUBLE) /
                 CAST(new_users + returning_users AS DOUBLE), 6) AS pct_new
        FROM g
        ORDER BY day"""),
      "New-vs-returning daily split — the acquisition/retention mix " +
        "every growth dashboard leads with: distinct (user, day) " +
        "activity, each user's first-seen day joined back (broadcast " +
        "— the first-day relation is one row per user), and a bounded " +
        "per-day aggregate. At 100 TB the first-day relation is the " +
        "incremental piece: maintain it as a running MIN under " +
        "streaming ingest (the activeDaysIngest delta contract) and " +
        "the daily split becomes a pure map-side classification.")
  ) ++ Seq(

    // ---- q241: classical seasonal decomposition ----------------------------
    "q241_seasonal_decompose" -> Q(
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("bucket"))
          .agg(sum(col("value").cast(DecimalType(27, 6))).as("y6"))
          .withColumn("hr", hour(col("bucket")).cast("long"))
        graft.operators.EventOps
          .seasonalDecompose(hourly, "bucket", "y6", "hr", halfWindow = 12)
          .select(col("bucket"), col("hr"), col("y"), col("trend"),
            col("seasonal"), col("resid"))
          .orderBy(col("bucket"))
      },
      Some(s"""
        WITH s AS (
          SELECT date_trunc('hour', $TS) AS bucket,
                 SUM(CAST(value AS DECIMAL(27,6))) AS y6
          FROM events GROUP BY 1
        ), w AS (
          SELECT bucket, y6,
                 CAST(y6 * 1000000 AS BIGINT) * 1000 AS y9,
                 COUNT(*) OVER win AS cnt,
                 CAST(SUM(y6) OVER win * 1000000 AS BIGINT) * 40 AS trend9
          FROM s
          WINDOW win AS (ORDER BY bucket ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
        ), t AS (
          SELECT bucket, y6, y9, trend9, y9 - trend9 AS det9,
                 CAST(EXTRACT(hour FROM bucket) AS BIGINT) AS hr
          FROM w WHERE cnt = 25
        ), se AS (
          SELECT hr,
                 CAST(CAST(SUM(det9) AS BIGINT) AS DOUBLE) /
                   CAST(COUNT(*) AS DOUBLE) / 1e9 AS seasonal
          FROM t GROUP BY hr
        )
        SELECT t.bucket, t.hr, CAST(t.y6 AS DOUBLE) AS y,
               CAST(t.trend9 AS DOUBLE) / 1e9 AS trend,
               se.seasonal,
               CAST(t.y6 AS DOUBLE) - CAST(t.trend9 AS DOUBLE) / 1e9
                 - se.seasonal AS resid
        FROM t JOIN se ON se.hr = t.hr
        ORDER BY t.bucket"""),
      "Classical additive decomposition y = trend + seasonal + resid " +
        "over the hourly value series: centered 25-point moving-average " +
        "trend (full windows only), per-hour-of-day seasonal means of " +
        "the detrended series, residual as the de-seasonalized anomaly " +
        "signal — what q173's per-cell z-score approximates without " +
        "first removing trend. The corpus pass is the bucket " +
        "aggregation; the ordered window runs over the BOUNDED series " +
        "spine (720 points/month), and every intermediate sits on an " +
        "exact decimal grid (trend lands on 1e-9 because 25 | 1000), " +
        "so both engines subtract identical integers.")
  ) ++ Seq(

    // ---- q242: Brown double-exponential (level+trend) forecast -------------
    "q242_des_forecast" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        // pure DOUBLE arithmetic, portable by construction: the kernel
        // weights are DYADIC (2^-k), so each product only shifts the
        // exponent — exact in binary — and the 8-term sum is a
        // fixed-length left-associated chain both engines evaluate in
        // the same order. (The q151 decimal-grid trick does NOT extend
        // to the second pass: s2's scale-20 grid has unscaled values
        // past 2^53, where DECIMAL->DOUBLE casts stop being correctly
        // rounded and the engines drift in the last ulp.)
        val weights = Seq(0.5, 0.25, 0.125, 0.0625, 0.03125,
          0.015625, 0.0078125, 0.0078125)
        def kernel(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          weights.zipWithIndex.map {
            case (wt, i) => lag(c, i).over(w) * lit(wt)
          }.reduce(_ + _)
        val base = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("value"),
            col("ts"), lag(col("value"), 14).over(w).as("l14"))
          .withColumn("s1", kernel(col("value")))
        // second smoothing pass over the FIRST smoothed series — same
        // partition ordering, so Catalyst plans one shuffle+sort
        val des = base.withColumn("s2", kernel(col("s1")))
          .filter(col("l14").isNotNull)
        // alpha = 0.5 makes Brown's coefficients integers:
        // level = 2*S1 - S2, trend = (a/(1-a))(S1-S2) = S1 - S2
        des.select(col("user_id"), col("event_id"), col("value"),
            (col("s1") * lit(2.0) - col("s2")).as("level"),
            (col("s1") - col("s2")).as("trend"),
            (col("s1") * lit(2.0) - col("s2") + (col("s1") - col("s2")))
              .as("forecast1"))
          .orderBy(col("event_id"))
      },
      Some(s"""
        WITH p AS (
          SELECT user_id, event_id, value, $TS AS ts
          FROM events WHERE event_type = 'purchase'
        ), l AS (
          SELECT user_id, event_id, value, ts,
                 lag(value, 14) OVER w AS l14,
                 value*CAST(0.5 AS DOUBLE)
                 + lag(value,1) OVER w * CAST(0.25 AS DOUBLE)
                 + lag(value,2) OVER w * CAST(0.125 AS DOUBLE)
                 + lag(value,3) OVER w * CAST(0.0625 AS DOUBLE)
                 + lag(value,4) OVER w * CAST(0.03125 AS DOUBLE)
                 + lag(value,5) OVER w * CAST(0.015625 AS DOUBLE)
                 + lag(value,6) OVER w * CAST(0.0078125 AS DOUBLE)
                 + lag(value,7) OVER w * CAST(0.0078125 AS DOUBLE) AS s1
          FROM p
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), m AS (
          SELECT user_id, event_id, value, l14, s1,
                 s1*CAST(0.5 AS DOUBLE)
                 + lag(s1,1) OVER w * CAST(0.25 AS DOUBLE)
                 + lag(s1,2) OVER w * CAST(0.125 AS DOUBLE)
                 + lag(s1,3) OVER w * CAST(0.0625 AS DOUBLE)
                 + lag(s1,4) OVER w * CAST(0.03125 AS DOUBLE)
                 + lag(s1,5) OVER w * CAST(0.015625 AS DOUBLE)
                 + lag(s1,6) OVER w * CAST(0.0078125 AS DOUBLE)
                 + lag(s1,7) OVER w * CAST(0.0078125 AS DOUBLE) AS s2
          FROM l
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, event_id, value,
               s1*CAST(2 AS DOUBLE) - s2 AS level,
               s1 - s2 AS trend,
               s1*CAST(2 AS DOUBLE) - s2 + (s1 - s2) AS forecast1
        FROM m WHERE l14 IS NOT NULL
        ORDER BY event_id"""),
      "Brown's double-exponential smoothing — the trend-aware forecast " +
        "q151's single EWMA can't make (a lagging level systematically " +
        "under-predicts trending series): the same truncated dyadic " +
        "kernel applied TWICE (S2 smooths S1), then level = 2S1-S2, " +
        "trend = S1-S2 (alpha = 1/2 makes Brown's coefficients " +
        "integers), one-step forecast = level + trend. Two window " +
        "passes over the same partition ordering — one shuffle, no " +
        "self-join. All-DOUBLE arithmetic is exact-by-construction " +
        "here: dyadic weights only shift exponents and the sums are " +
        "fixed-length left-associated chains, so no decimal grid (and " +
        "no cross-row accumulation order) is ever involved.")
  ) ++ Seq(

    // ---- q255: Nelson-Aalen cumulative hazard ------------------------------
    "q255_nelson_aalen" -> Q(
      (s, d) => graft.operators.EventOps.nelsonAalen(
          Tables.events(s, d).withColumn("ep", unix_timestamp(col("ts"))),
          "user_id", "ep",
          isStart = col("event_type") === "view",
          isEvent = col("event_type") === "purchase"),
      Some(s"""
        WITH e AS (
          SELECT user_id, event_type, $EPOCH AS ep FROM events
        ), pu AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'view' THEN ep END) AS t0,
                 MAX(ep) AS t_last,
                 MIN(CASE WHEN event_type = 'purchase' THEN ep END) AS te_any
          FROM e GROUP BY user_id
        ), u AS (
          SELECT user_id, t0, t_last,
                 CASE WHEN te_any >= t0 THEN te_any END AS te
          FROM pu WHERE t0 IS NOT NULL
        ), du AS (
          SELECT user_id, te IS NOT NULL AS observed,
                 CAST(floor((COALESCE(te, t_last) - t0) / 86400.0) AS BIGINT) AS dur
          FROM u
        ), bd AS (
          SELECT dur, SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS d,
                 COUNT(*) AS c
          FROM du GROUP BY dur
        ), risk AS (
          SELECT dur, d, c,
                 (SELECT COUNT(*) FROM du) - COALESCE(SUM(c) OVER (
                   ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS n_risk
          FROM bd
        ), ev AS (
          SELECT dur, d, n_risk,
                 CAST(round(1e12 * CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
                   AS BIGINT) AS term_g
          FROM risk WHERE d > 0
        )
        SELECT dur, CAST(n_risk AS BIGINT) AS n_risk,
               CAST(d AS BIGINT) AS n_events,
               CAST(SUM(term_g) OVER w AS DOUBLE) / 1e12 AS cum_hazard
        FROM ev
        WINDOW w AS (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY dur"""),
      "Nelson-Aalen cumulative hazard — q133's estimator sibling (KM " +
        "gives the fraction surviving, NA the accumulated hazard; the " +
        "additive form regression diagnostics prefer). Same bounded " +
        "(duration, deaths, at-risk) spine; each increment d/n is an " +
        "IEEE division of identical integers snapped to the 1e-12 " +
        "grid and CUMULATED AS EXACT LONGS — the float cumsum whose " +
        "accumulation order engines never promise is avoided outright " +
        "(grid ties are impossible for any at-risk count under 8192).")
  ) ++ Seq(

    // ---- q244: event-sequence adjacency patterns (MATCH_RECOGNIZE-lite) ----
    "q244_seq_pattern" -> Q(
      (s, d) => {
        // collapse each user's event history to one character string
        // (initials are distinct across the 5 types); array_sort on
        // (ts, event_id, ch) structs is a total order, so the string
        // is deterministic under any partitioning
        val seqs = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            substring(col("event_type"), 1, 1).as("ch"))
          .groupBy(col("user_id"))
          .agg(array_sort(collect_list(
            struct(col("ts"), col("event_id"), col("ch")))).as("arr"))
          .select(col("user_id"),
            concat_ws("", transform(col("arr"),
              x => x.getField("ch"))).as("seq"))
        // literal substring counting, not regex: engines agree on
        // non-overlapping left-to-right replace; 'ep' = purchase
        // IMMEDIATELY after error (the rage-buy adjacency a funnel's
        // gap-tolerant subsequence can't isolate), 'ee' = error storm
        def cnt(pat: String) =
          ((length(col("seq")) - length(call_function("replace",
            col("seq"), lit(pat), lit("")))) / lit(2)).cast("long")
        seqs.select(col("user_id"),
            length(col("seq")).cast("long").as("seq_len"),
            cnt("ep").as("n_error_purchase"),
            cnt("ee").as("n_error_error"),
            instr(col("seq"), "ep").cast("long").as("first_error_purchase"))
          .orderBy(col("user_id"))
      },
      Some(s"""
        WITH seqs AS (
          SELECT user_id,
                 string_agg(substr(event_type, 1, 1), ''
                   ORDER BY $TS, event_id) AS seq
          FROM events GROUP BY user_id)
        SELECT user_id,
               CAST(length(seq) AS BIGINT) AS seq_len,
               CAST((length(seq) - length(replace(seq, 'ep', ''))) / 2
                 AS BIGINT) AS n_error_purchase,
               CAST((length(seq) - length(replace(seq, 'ee', ''))) / 2
                 AS BIGINT) AS n_error_error,
               CAST(strpos(seq, 'ep') AS BIGINT) AS first_error_purchase
        FROM seqs
        ORDER BY user_id"""),
      "Sequence-pattern matching over collapsed per-user event strings " +
        "— the MATCH_RECOGNIZE-lite ADJACENCY complement of q108's " +
        "funnel (which tolerates gaps): each user's history becomes " +
        "one character string in total (ts, event_id) order, and " +
        "patterns are counted by literal replace-shrinkage (both " +
        "engines scan non-overlapping left-to-right; no regex-engine " +
        "semantics involved). State per user is its event count — the " +
        "per-key linear scan every CEP engine runs; 'ee' storms and " +
        "'ep' rage-buys fall out of one pass.")
  ) ++ Seq(

    // ---- q278: exact Shapley-value channel attribution ---------------------
    "q278_shapley_attribution" -> Q(
      (s, d) => {
        import s.implicits._
        val types = Seq("click", "error", "purchase", "signup", "view")
        val ev = Tables.events(s, d)
        // per-user channel-presence mask (bit i set iff > 13 events of
        // type i — engagement, not mere membership: the fixture gives
        // every user every type) and a conversion flag on the exact
        // purchase-value grid
        val mask = types.zipWithIndex.map { case (t, i) =>
          when(sum(when(col("event_type") === t, 1L).otherwise(0L)) > 13,
            lit(1L << i)).otherwise(lit(0L))
        }.reduce(_ + _)
        val conv = when(
          sum(when(col("event_type") === "purchase",
            round(col("value") * lit(1e9)).cast("long")).otherwise(0L))
            > lit(650000000000L), 1L).otherwise(0L)
        val u = ev.groupBy(col("user_id"))
          .agg(mask.as("m"), conv.as("conv"))
        val coal = u.groupBy(col("m"))
          .agg(count(lit(1)).as("nu"), sum(col("conv")).as("nc"))
          .localCheckpoint()
        // the full coalition lattice is a 32×5 LITERAL grid (n=5
        // channels): Shapley weights |S|!(n−1−|S|)!/n! precomputed as
        // exact driver-side doubles, S∪{i} masks precomputed so both
        // probes are plain equi-joins
        val wBySz = Array(0.2, 0.05, 1.0 / 30, 0.05, 0.2)
        val grid = (for {
          m <- 0 until 32; ch <- 0 until 5 if ((m >> ch) & 1) == 0
        } yield (m.toLong, ch, m.toLong | (1L << ch),
          wBySz(Integer.bitCount(m)))).toDF("m", "ch", "mi", "w")
        def dd(c: Column) = c.cast("double")
        val cs = coal.select(col("m").as("s_m"), col("nu").as("s_nu"),
          col("nc").as("s_nc"))
        val ci = coal.select(col("m").as("i_m"), col("nu").as("i_nu"),
          col("nc").as("i_nc"))
        val terms = grid
          .join(cs, col("m") === col("s_m"), "left")
          .join(ci, col("mi") === col("i_m"), "left")
          .withColumn("t", col("w") * (
            coalesce(dd(col("i_nc")) / dd(col("i_nu")), lit(0.0)) -
              coalesce(dd(col("s_nc")) / dd(col("s_nu")), lit(0.0))))
        val phi = terms.groupBy(col("ch"))
          .agg(sum(round(col("t"), 12).cast(DecimalType(28, 12))).as("p"))
        val wAll = Window.partitionBy()
        phi
          .withColumn("sp", sum(col("p")).over(wAll))
          .select(
            when(col("ch") === 0, "click").when(col("ch") === 1, "error")
              .when(col("ch") === 2, "purchase")
              .when(col("ch") === 3, "signup").otherwise("view")
              .as("channel"),
            round(dd(col("p")), 6).as("phi"),
            round(dd(col("p")) / dd(col("sp")), 6).as("share"))
          .orderBy(col("channel"))
      },
      Some(s"""
        WITH u AS (
          SELECT user_id,
            CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > 13 THEN 1 ELSE 0 END
            + 2 * CASE WHEN SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) > 13 THEN 1 ELSE 0 END
            + 4 * CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 13 THEN 1 ELSE 0 END
            + 8 * CASE WHEN SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) > 13 THEN 1 ELSE 0 END
            + 16 * CASE WHEN SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 13 THEN 1 ELSE 0 END
              AS m,
            CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 1e9) AS BIGINT) ELSE 0 END)
              > 650000000000 THEN 1 ELSE 0 END AS conv
          FROM events GROUP BY 1),
        coal AS (
          SELECT m, CAST(COUNT(*) AS BIGINT) AS nu,
                 CAST(SUM(conv) AS BIGINT) AS nc
          FROM u GROUP BY 1),
        grid AS (
          SELECT s.m, c.ch, s.m | (1 << c.ch) AS mi,
                 CAST(((s.m >> 0) & 1) + ((s.m >> 1) & 1) + ((s.m >> 2) & 1)
                   + ((s.m >> 3) & 1) + ((s.m >> 4) & 1) AS INT) AS sz
          FROM (SELECT unnest(range(0, 32)) AS m) s
          CROSS JOIN (SELECT unnest(range(0, 5)) AS ch) c
          WHERE ((s.m >> c.ch) & 1) = 0),
        gw AS (
          SELECT m, ch, mi,
                 CASE sz WHEN 0 THEN CAST('0.2' AS DOUBLE)
                         WHEN 1 THEN CAST('0.05' AS DOUBLE)
                         WHEN 2 THEN CAST(1 AS DOUBLE) / 30
                         WHEN 3 THEN CAST('0.05' AS DOUBLE)
                         ELSE CAST('0.2' AS DOUBLE) END AS w
          FROM grid),
        terms AS (
          SELECT g.ch,
                 g.w * (
                   coalesce(CAST(ci.nc AS DOUBLE) / CAST(ci.nu AS DOUBLE),
                     CAST('0.0' AS DOUBLE))
                   - coalesce(CAST(cs.nc AS DOUBLE) / CAST(cs.nu AS DOUBLE),
                     CAST('0.0' AS DOUBLE))) AS t
          FROM gw g
          LEFT JOIN coal cs ON cs.m = g.m
          LEFT JOIN coal ci ON ci.m = g.mi),
        phi AS (
          SELECT ch, SUM(CAST(round(t, 12) AS DECIMAL(28,12))) AS p
          FROM terms GROUP BY 1),
        tot AS (SELECT SUM(p) AS sp FROM phi)
        SELECT CASE ch WHEN 0 THEN 'click' WHEN 1 THEN 'error'
                       WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
                       ELSE 'view' END AS channel,
               round(CAST(p AS DOUBLE), 6) AS phi,
               round(CAST(p AS DOUBLE) / CAST(sp AS DOUBLE), 6) AS share
        FROM phi CROSS JOIN tot ORDER BY channel"""),
      "Exact Shapley-value channel attribution — the game-theoretic " +
        "credit split that last-touch (q140) and linear (q178) " +
        "attribution approximate: each channel's φ averages its " +
        "marginal conversion lift over every coalition, with the " +
        "|S|!(n−1−|S|)!/n! weights precomputed as exact driver " +
        "literals. n=5 channels makes the coalition lattice a 32×5 " +
        "LITERAL grid, so the whole computation after one per-user " +
        "corpus pass is two broadcast equi-joins over ≤32 observed " +
        "coalitions — exact Shapley is exponential in CHANNELS, " +
        "linear in corpus, which is why the bounded-panel contract " +
        "(≤~20 channels) is the honest scale story. Coalition values " +
        "are pure integer conversion-rate ratios; unobserved " +
        "coalitions contribute v = 0 (the standard observed-lattice " +
        "convention); φ sums snap to the 1e-12 grid."),

    // ---- q279: two-group log-rank survival test ----------------------------
    "q279_logrank" -> Q(
      (s, d) => graft.operators.EventOps.logRank(
        Tables.events(s, d).withColumn("ep", unix_timestamp(col("ts"))),
        "user_id", "ep",
        isStart = col("event_type") === "view",
        isEvent = col("event_type") === "purchase",
        group = col("user_id") % 2),
      Some(s"""
        WITH e AS (
          SELECT user_id, event_type, $EPOCH AS ep FROM events
        ), pu AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'view' THEN ep END) AS t0,
                 MAX(ep) AS t_last,
                 MIN(CASE WHEN event_type = 'purchase' THEN ep END) AS te_any,
                 MIN(user_id % 2) AS g
          FROM e GROUP BY user_id
        ), u AS (
          SELECT g, CASE WHEN te_any >= t0 THEN te_any END AS te,
                 t0, t_last
          FROM pu WHERE t0 IS NOT NULL
        ), du AS (
          SELECT g, te IS NOT NULL AS observed,
                 CAST(floor((COALESCE(te, t_last) - t0) / 86400.0) AS BIGINT)
                   AS dur
          FROM u
        ), bd AS (
          SELECT dur,
                 SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS c_a,
                 SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS c_b,
                 SUM(CASE WHEN observed AND g = 0 THEN 1 ELSE 0 END) AS d_a,
                 SUM(CASE WHEN observed AND g = 1 THEN 1 ELSE 0 END) AS d_b
          FROM du GROUP BY dur
        ), tot AS (
          SELECT CAST(SUM(c_a) AS BIGINT) AS tot_a,
                 CAST(SUM(c_b) AS BIGINT) AS tot_b FROM bd
        ), risk AS (
          SELECT dur, d_a, d_b, tot_a, tot_b,
                 tot_a - COALESCE(SUM(c_a) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_a,
                 tot_b - COALESCE(SUM(c_b) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_b
          FROM bd CROSS JOIN tot
        ), ev AS (
          SELECT dur, d_a, d_b, tot_a, tot_b, n_a, n_b,
                 d_a + d_b AS dd, n_a + n_b AS nn
          FROM risk WHERE d_a + d_b > 0
        ), terms AS (
          SELECT tot_a, tot_b, d_a, d_b,
                 CAST(round(CAST(n_a AS DOUBLE) * CAST(dd AS DOUBLE)
                   / CAST(nn AS DOUBLE), 12) AS DECIMAL(28,12)) AS e_a,
                 CASE WHEN nn > 1 THEN CAST(round(
                   CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                     * CAST(dd AS DOUBLE) * CAST(nn - dd AS DOUBLE)
                   / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                      * CAST(nn - 1 AS DOUBLE)), 12)
                   AS DECIMAL(28,12)) END AS v
          FROM ev
        ), agg AS (
          SELECT CAST(MAX(tot_a) AS BIGINT) AS n_users_a,
                 CAST(MAX(tot_b) AS BIGINT) AS n_users_b,
                 CAST(SUM(d_a) AS BIGINT) AS obs_a,
                 CAST(SUM(e_a) AS DOUBLE) AS exp_a_raw,
                 CAST(SUM(d_b) AS BIGINT) AS obs_b,
                 CAST(SUM(v) AS DOUBLE) AS var_raw
          FROM terms
        ), fin AS (
          SELECT n_users_a, n_users_b, obs_a, exp_a_raw, obs_b, var_raw,
                 round((CAST(obs_a AS DOUBLE) - exp_a_raw)
                   * (CAST(obs_a AS DOUBLE) - exp_a_raw) / var_raw, 6)
                   AS chi2
          FROM agg)
        SELECT n_users_a, n_users_b, obs_a,
               round(exp_a_raw, 6) AS exp_a, obs_b,
               round(CAST(obs_a + obs_b AS DOUBLE) - exp_a_raw, 6) AS exp_b,
               chi2, chi2 > 3.841459 AS significant
        FROM fin"""),
      "Two-group log-rank test — the significance layer over q133's " +
        "Kaplan-Meier curves (a censored time-to-event outcome biases " +
        "any naive mean/z-test; log-rank is the standard answer): at " +
        "each event duration the 2×2 group×event table contributes " +
        "hypergeometric expectation and variance, and (O−E)²/V is " +
        "chi-square(1) under the null. The corpus collapses to the " +
        "bounded (duration × group) spine in ONE aggregation; risk " +
        "sets are cumulative windows over the spine; e/v terms snap " +
        "to the 1e-12 grid and sum as exact DECIMALs."),

    // ---- q281: K-step Markov state-distribution forecast -------------------
    "q281_markov_stationary" -> Q(
      (s, d) => graft.operators.EventOps.markovStationary(
        Tables.events(s, d), "user_id", "event_type", "ts", "event_id",
        iters = 16),
      Some {
        val iterCtes = (1 to 16).map { i =>
          val prev = if (i == 1) "d0" else s"d${i - 1}"
          s"""d$i AS MATERIALIZED (
          SELECT p.dst AS state,
                 CAST(SUM(CAST(round(d.pi * p.p, 12) AS DECIMAL(28,12)))
                   AS DOUBLE) AS pi
          FROM $prev d JOIN p ON d.state = p.src GROUP BY 1)"""
        }.mkString(", ")
        s"""
        WITH seq AS (
          SELECT event_type AS src,
                 lead(event_type) OVER
                   (PARTITION BY user_id ORDER BY $TS, event_id) AS dst
          FROM events
        ), t AS (
          SELECT src, dst, COUNT(*) AS n FROM seq
          WHERE dst IS NOT NULL GROUP BY 1, 2
        ), p AS MATERIALIZED (
          SELECT src, dst, CAST(n AS DOUBLE) /
                 CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS p
          FROM t
        ), kk AS (SELECT COUNT(DISTINCT src) AS k FROM p),
        d0 AS (
          SELECT DISTINCT src AS state, 1.0 / CAST(k AS DOUBLE) AS pi
          FROM p CROSS JOIN kk
        ), $iterCtes
        SELECT state, round(pi, 6) AS pi FROM d16 ORDER BY state"""
      },
      "16-step Markov state-distribution forecast over the q146 " +
        "transition matrix — 'where do user journeys settle': π ← πP " +
        "iterated from uniform, DEFINED as the exact K-step iterate " +
        "so both engines reproduce it bit-for-bit whether or not the " +
        "chain has mixed. One lead() pass collapses the corpus to the " +
        "|types|² grid (localCheckpointed — iteration never re-reads " +
        "the corpus); each step is a join+aggregate over that bounded " +
        "grid with every π·p addend snapped to the 1e-12 grid and " +
        "summed as exact DECIMALs. The oracle unrolls the same 16 " +
        "matvecs as generated CTEs."),

    // ---- q287: Markov absorption probability (convert vs abandon) ----------
    "q287_markov_absorption" -> Q(
      (s, d) => graft.operators.EventOps.markovAbsorption(
        Tables.events(s, d), "user_id", "event_type", "ts", "event_id",
        convert = "purchase", abandon = "error", iters = 24),
      Some {
        val iterCtes = (1 to 24).map { i =>
          val prev = if (i == 1) "a0" else s"a${i - 1}"
          s"""a$i AS MATERIALIZED (
          SELECT tb.src AS state, tb.direct + COALESCE(c.acc, 0.0) AS a
          FROM tb LEFT JOIN (
            SELECT tr.src, CAST(SUM(CAST(round(tr.p * ap.a, 12)
              AS DECIMAL(28,12))) AS DOUBLE) AS acc
            FROM tr JOIN $prev ap ON tr.dst = ap.state
            GROUP BY tr.src) c
          ON tb.src = c.src)"""
        }.mkString(", ")
        s"""
        WITH seq AS (
          SELECT event_type AS src,
                 lead(event_type) OVER
                   (PARTITION BY user_id ORDER BY $TS, event_id) AS dst
          FROM events
        ), t AS (
          SELECT src, dst, COUNT(*) AS n FROM seq
          WHERE dst IS NOT NULL AND src NOT IN ('purchase', 'error')
          GROUP BY 1, 2
        ), p AS MATERIALIZED (
          SELECT src, dst, CAST(n AS DOUBLE) /
                 CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS p
          FROM t
        ), tb AS MATERIALIZED (
          SELECT src, COALESCE(SUM(CASE WHEN dst = 'purchase'
                 THEN p END), 0.0) AS direct
          FROM p GROUP BY src
        ), tr AS MATERIALIZED (
          SELECT * FROM p WHERE dst NOT IN ('purchase', 'error')
        ), a0 AS (
          SELECT src AS state, 0.0 AS a FROM tb
        ), $iterCtes
        SELECT state, round(a, 6) AS p_convert FROM a24 ORDER BY state"""
      },
      "Absorption probability of the journey chain — 'will this user " +
        "CONVERT or ABANDON from here', the computational core of " +
        "Markov removal-effect attribution: purchase/error redefined " +
        "as absorbing, each transient state reports its probability " +
        "of reaching purchase first, via 24 rounds of the monotone " +
        "fixed point a ← P(→convert) + P(transient)·a (DEFINED as " +
        "the exact iterate — deterministic on both engines). Same " +
        "scale shape as q281: one lead() pass to the checkpointed " +
        "|types|² grid, rounds are grid-only joins with 1e-12-snapped " +
        "DECIMAL sums; the oracle unrolls the same 24 rounds."),

    // ---- q292: expected steps to absorption --------------------------------
    "q292_time_to_absorb" -> Q(
      (s, d) => graft.operators.EventOps.markovTimeToAbsorb(
        Tables.events(s, d), "user_id", "event_type", "ts", "event_id",
        absorbing = Seq("purchase", "error"), iters = 32),
      Some {
        val iterCtes = (1 to 32).map { i =>
          val prev = if (i == 1) "a0" else s"a${i - 1}"
          s"""a$i AS MATERIALIZED (
          SELECT tb.src AS state, 1.0 + COALESCE(c.acc, 0.0) AS a
          FROM tb LEFT JOIN (
            SELECT tr.src, CAST(SUM(CAST(round(tr.p * ap.a, 12)
              AS DECIMAL(28,12))) AS DOUBLE) AS acc
            FROM tr JOIN $prev ap ON tr.dst = ap.state
            GROUP BY tr.src) c
          ON tb.src = c.src)"""
        }.mkString(", ")
        s"""
        WITH seq AS (
          SELECT event_type AS src,
                 lead(event_type) OVER
                   (PARTITION BY user_id ORDER BY $TS, event_id) AS dst
          FROM events
        ), t AS (
          SELECT src, dst, COUNT(*) AS n FROM seq
          WHERE dst IS NOT NULL AND src NOT IN ('purchase', 'error')
          GROUP BY 1, 2
        ), p AS MATERIALIZED (
          SELECT src, dst, CAST(n AS DOUBLE) /
                 CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS p
          FROM t
        ), tb AS MATERIALIZED (
          SELECT DISTINCT src FROM p
        ), tr AS MATERIALIZED (
          SELECT * FROM p WHERE dst NOT IN ('purchase', 'error')
        ), a0 AS (
          SELECT src AS state, 0.0 AS a FROM tb
        ), $iterCtes
        SELECT state, round(a, 6) AS exp_steps FROM a32 ORDER BY state"""
      },
      "Expected steps to journey resolution — q287's companion ('HOW " +
        "LONG until this journey converts or abandons'): the " +
        "fundamental-matrix row sums of the absorbing chain, computed " +
        "as 32 rounds of the monotone fixed point n ← 1 + P·n " +
        "without materializing (I−Q)⁻¹. Grid-only rounds over the " +
        "checkpointed transition matrix, 1e-12-snapped DECIMAL " +
        "matvec sums, oracle = the same 32 rounds unrolled."),

    // ---- q294: inter-arrival burstiness per event type ----------------------
    "q294_burstiness" -> Q(
      (s, d) => graft.operators.EventOps.burstiness(
        Tables.events(s, d).withColumn("ep", unix_timestamp(col("ts"))),
        "user_id", "event_type", "ep", "event_id"),
      Some(s"""
        WITH e AS (
          SELECT user_id, event_type, event_id, $EPOCH AS ep FROM events
        ), gaps AS (
          SELECT event_type,
                 lead(ep) OVER (PARTITION BY user_id, event_type
                   ORDER BY ep, event_id) - ep AS g
          FROM e
        ), mom AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
                 SUM(CAST(g AS DECIMAL(38,0))) AS sg,
                 SUM(CAST(g AS DECIMAL(38,0)) * CAST(g AS DECIMAL(38,0)))
                   AS sgg
          FROM gaps WHERE g IS NOT NULL GROUP BY event_type
        ), fit AS (
          SELECT event_type, n_gaps,
                 CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS m,
                 sqrt((CAST(sgg AS DOUBLE)
                   - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                     / CAST(n_gaps AS DOUBLE))
                   / (CAST(n_gaps AS DOUBLE) - 1)) AS s
          FROM mom)
        SELECT event_type, n_gaps,
               round(m, 6) AS mean_gap,
               CASE WHEN n_gaps > 1 THEN round(s, 6) END AS sd_gap,
               CASE WHEN n_gaps > 1 AND m <> 0.0
                    THEN round(s / m, 6) END AS cv,
               CASE WHEN n_gaps > 1 AND s + m <> 0.0
                    THEN round((s - m) / (s + m), 6) END AS burstiness
        FROM fit ORDER BY event_type"""),
      "Goh-Barabási burstiness of per-user inter-arrival gaps, per " +
        "event type — the traffic-shape diagnostic that sizes stream " +
        "buffers and anomaly thresholds: B = (σ−μ)/(σ+μ) ∈ (−1,1) " +
        "(−1 periodic, 0 Poisson, →1 bursty) plus the coefficient of " +
        "variation. Gaps are integer seconds, so the moments are " +
        "EXACT DECIMAL sums and every statistic is IEEE over exact " +
        "integers — no float grid at all. One per-(user, type) " +
        "ordered window, then a |types|-bounded aggregate."),

    // ---- q298: Markov next-event prediction eval ----------------------------
    "q298_next_event_eval" -> Q(
      (s, d) => graft.operators.EventOps.nextEventEval(
        Tables.events(s, d), "user_id", "event_type", "ts", "event_id",
        isTrain = col("user_id") % 5 =!= 0),
      Some(s"""
        WITH seq AS (
          SELECT user_id % 5 <> 0 AS train, event_type AS src,
                 lead(event_type) OVER
                   (PARTITION BY user_id ORDER BY $TS, event_id) AS dst
          FROM events
        ), pairs AS MATERIALIZED (
          SELECT * FROM seq WHERE dst IS NOT NULL
        ), model AS MATERIALIZED (
          SELECT src AS m_src, dst AS predicted FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                     ORDER BY COUNT(*) DESC, dst) AS rn
            FROM pairs WHERE train GROUP BY src, dst)
          WHERE rn = 1)
        SELECT src, MAX(predicted) AS predicted,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN dst = predicted THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_correct,
               CAST(SUM(CASE WHEN dst = predicted THEN 1 ELSE 0 END)
                 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS accuracy
        FROM pairs LEFT JOIN model ON src = m_src
        WHERE NOT train
        GROUP BY src ORDER BY src"""),
      "Top-1 next-event accuracy of the q146 Markov model under a " +
        "user-level 80/20 split — in-engine train/test for sequence " +
        "models, the baseline any session model must beat (and the " +
        "same no-user-leakage split discipline as the q54/q104 " +
        "classifiers). One lead() pass builds all pairs; the model is " +
        "the train grid reduced to |types| argmax rows (ties to the " +
        "lexicographically first successor — deterministic both " +
        "engines) broadcast into a counting join; accuracy is a pure " +
        "integer ratio, unrounded.")
  )
}
