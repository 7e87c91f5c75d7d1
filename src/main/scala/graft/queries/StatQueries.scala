package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.operators.Stats
import graft.functions.TextFunctions.md5U52

/** Statistical-test and robust-conditioning tier ([[graft.operators.Stats]]):
  * chi-square independence, Mann-Whitney rank-sum, Welch's t, discrete
  * winsorization and median/MAD scaling. Every query is one or two
  * bounded-state aggregations; the portability recipe is the repo
  * standard (exact DECIMAL integer accumulation, 1e-9 grid for
  * cross-row float sums, unrounded IEEE divisions/sqrt of exact
  * components, explicit CAST(... AS DOUBLE) literals in the oracle so
  * DuckDB does not type them DECIMAL).
  */
object StatQueries {

  /** The A-vs-B split used by the two-sample tests: urgent-tier orders
    * against the rest — stable, human-meaningful, and ~40/60. */
  private val urgent = Seq("1-URGENT", "2-HIGH")

  /** The five order-priority tiers as FIXED literals — the k-group
    * tests sum their per-group float terms in this order (a
    * data-dependent group set would make the sum order-dependent and
    * break cross-engine parity). */
  private val Priorities = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def all: Seq[(String, Q)] = Seq(

    // ---- q214: chi-square test of independence ----------------------------
    "q214_chi2_independence" -> Q(
      (s, d) => Stats.chiSquareReport(Tables.lineitem(s, d),
        col("l_returnflag"), col("l_linestatus")),
      Some("""
        WITH cells0 AS MATERIALIZED (
          SELECT l_returnflag AS ca, l_linestatus AS cb,
                 CAST(COUNT(*) AS BIGINT) AS o
          FROM lineitem
          WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
          GROUP BY 1, 2),
        cells AS (
          SELECT la.ca, lb.cb, COALESCE(o, CAST(0 AS BIGINT)) AS o
          FROM (SELECT DISTINCT ca FROM cells0) la
          CROSS JOIN (SELECT DISTINCT cb FROM cells0) lb
          LEFT JOIN cells0 USING (ca, cb)),
        m AS (
          SELECT ca, cb, o,
                 SUM(o) OVER (PARTITION BY ca) AS rm,
                 SUM(o) OVER (PARTITION BY cb) AS cm,
                 SUM(o) OVER () AS n
          FROM cells),
        g AS (
          SELECT ca, cb, o, n,
                 CAST(round(
                   (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
                     * 1e9) AS BIGINT) AS gr
          FROM (SELECT *,
                  CAST(rm * cm AS DOUBLE) / CAST(n AS DOUBLE) AS e
                FROM m))
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT ca) AS BIGINT) AS levels_a,
               CAST(COUNT(DISTINCT cb) AS BIGINT) AS levels_b,
               CAST((COUNT(DISTINCT ca) - 1) * (COUNT(DISTINCT cb) - 1)
                 AS BIGINT) AS dof,
               CAST(SUM(gr) AS DOUBLE) / 1e9 AS chi2
        FROM g"""),
      "Pearson chi-square independence test between return flag and " +
        "line status — the 'did the categorical mix shift?' readout " +
        "(source x quality-bucket at corpus scale). One hash " +
        "aggregation builds the contingency cells; marginals are " +
        "windows over the BOUNDED cell table, never a second corpus " +
        "scan; expected counts divide exact DECIMAL marginal products " +
        "and per-cell (o-e)^2/e contributions snap to the 1e-9 grid, " +
        "so chi2 hash-proves cross-engine."),

    // ---- q215: Mann-Whitney U rank-sum test --------------------------------
    "q215_mann_whitney" -> Q(
      (s, d) => Stats.mannWhitneyReport(Tables.orders(s, d),
        col("o_totalprice"), col("o_orderpriority").isin(urgent: _*)),
      Some("""
        WITH s AS (
          SELECT o_totalprice AS v,
                 o_orderpriority IN ('1-URGENT', '2-HIGH') AS ina
          FROM orders
          WHERE o_totalprice IS NOT NULL
            AND (o_orderpriority IN ('1-URGENT', '2-HIGH')) IS NOT NULL),
        sp AS (
          SELECT v,
                 CAST(SUM(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT) AS na_v,
                 CAST(SUM(CASE WHEN NOT ina THEN 1 ELSE 0 END) AS BIGINT) AS nb_v
          FROM s GROUP BY v),
        c AS (
          SELECT v, na_v, nb_v,
                 coalesce(SUM(nb_v) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cumb
          FROM sp),
        a AS (
          SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
                 CAST(SUM(nb_v) AS BIGINT) AS n_b,
                 SUM(2 * CAST(na_v AS DECIMAL(38,0)) * CAST(cumb AS DECIMAL(38,0))
                     + CAST(na_v AS DECIMAL(38,0)) * CAST(nb_v AS DECIMAL(38,0)))
                   AS u2,
                 SUM(CAST(na_v + nb_v AS DECIMAL(38,0))
                     * CAST(na_v + nb_v AS DECIMAL(38,0))
                     * CAST(na_v + nb_v AS DECIMAL(38,0))
                     - CAST(na_v + nb_v AS DECIMAL(38,0))) AS ties
          FROM c),
        zc AS (
          SELECT n_a, n_b, u2,
                 (CAST(u2 AS DOUBLE)
                   - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) /
                 (CAST(2.0 AS DOUBLE) * sqrt(nullif(
                   CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                     / CAST(12.0 AS DOUBLE) *
                   ((CAST(n_a + n_b AS DOUBLE) + CAST(1.0 AS DOUBLE))
                     - CAST(ties AS DOUBLE) /
                       (CAST(n_a + n_b AS DOUBLE)
                         * (CAST(n_a + n_b AS DOUBLE) - CAST(1.0 AS DOUBLE)))),
                   CAST(0.0 AS DOUBLE)))) AS z
          FROM a)
        SELECT n_a, n_b, CAST(u2 AS DOUBLE) AS u2, z,
               abs(z) > CAST('1.959963984540054' AS DOUBLE) AS reject_05
        FROM zc"""),
      "Mann-Whitney U rank-sum test: do urgent-tier orders draw their " +
        "totals from the same distribution as the rest? Tie-corrected " +
        "normal approximation with NO per-row ranking — the corpus " +
        "collapses onto the distinct-value spine (the aucReport " +
        "shape), 2U and the tie term stay exact DECIMAL integers, and " +
        "z is IEEE division/sqrt of those exact components, so the " +
        "report hash-proves cross-engine."),

    // ---- q216: Welch's unequal-variance t-test -----------------------------
    "q216_welch_ttest" -> Q(
      (s, d) => Stats.welchTReport(Tables.orders(s, d),
        col("o_totalprice"), col("o_orderpriority").isin(urgent: _*)),
      Some("""
        WITH s AS (
          SELECT CAST(round(o_totalprice * 1e9) AS BIGINT) AS g,
                 o_orderpriority IN ('1-URGENT', '2-HIGH') AS ina
          FROM orders
          WHERE o_totalprice IS NOT NULL
            AND (o_orderpriority IN ('1-URGENT', '2-HIGH')) IS NOT NULL),
        a AS (
          SELECT CAST(SUM(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN NOT ina THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 SUM(CASE WHEN ina THEN CAST(g AS DECIMAL(38,0))
                          ELSE CAST(0 AS DECIMAL(38,0)) END) AS sa,
                 SUM(CASE WHEN NOT ina THEN CAST(g AS DECIMAL(38,0))
                          ELSE CAST(0 AS DECIMAL(38,0)) END) AS sb,
                 SUM(CASE WHEN ina
                          THEN CAST(g AS DECIMAL(38,0)) * CAST(g AS DECIMAL(38,0))
                          ELSE CAST(0 AS DECIMAL(38,0)) END) AS qa,
                 SUM(CASE WHEN NOT ina
                          THEN CAST(g AS DECIMAL(38,0)) * CAST(g AS DECIMAL(38,0))
                          ELSE CAST(0 AS DECIMAL(38,0)) END) AS qb
          FROM s),
        mv AS (
          SELECT n_a, n_b,
                 CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) / 1e9 AS mean_a,
                 CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) / 1e9 AS mean_b,
                 (CAST(qa AS DOUBLE)
                   - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                     / CAST(n_a AS DOUBLE))
                   / (CAST(n_a AS DOUBLE) - CAST(1.0 AS DOUBLE)) / 1e18 AS var_a,
                 (CAST(qb AS DOUBLE)
                   - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                     / CAST(n_b AS DOUBLE))
                   / (CAST(n_b AS DOUBLE) - CAST(1.0 AS DOUBLE)) / 1e18 AS var_b
          FROM a),
        se AS (
          SELECT *, var_a / CAST(n_a AS DOUBLE) AS sea,
                    var_b / CAST(n_b AS DOUBLE) AS seb
          FROM mv)
        SELECT n_a, n_b, mean_a, mean_b, var_a, var_b,
               (mean_a - mean_b) / sqrt(nullif(sea + seb, CAST(0.0 AS DOUBLE)))
                 AS t,
               (sea + seb) * (sea + seb) / nullif(
                 sea * sea / (CAST(n_a AS DOUBLE) - CAST(1.0 AS DOUBLE))
                   + seb * seb / (CAST(n_b AS DOUBLE) - CAST(1.0 AS DOUBLE)),
                 CAST(0.0 AS DOUBLE)) AS dof,
               abs((mean_a - mean_b)
                 / sqrt(nullif(sea + seb, CAST(0.0 AS DOUBLE))))
                 > CAST('1.959963984540054' AS DOUBLE) AS reject_05
        FROM se"""),
      "Welch's unequal-variance t-test on the same urgent-vs-rest " +
        "split — the parametric companion to q215 (means differ?) " +
        "with Welch-Satterthwaite dof. One conditional-aggregate " +
        "pass: per-side count / sum / sum-of-squares on the exact " +
        "1e-9 grid as DECIMAL(38,0); means, variances, t and dof are " +
        "IEEE expressions over those exact components, mirrored " +
        "verbatim in the oracle."),

    // ---- q217: winsorization at discrete p01/p99 ---------------------------
    "q217_winsorize" -> Q(
      (s, d) => Stats.winsorize(Tables.orders(s, d),
        col("o_orderkey"), col("o_totalprice"), 0.01, 0.99),
      Some("""
        WITH s AS (
          SELECT o_orderkey AS id, o_totalprice AS v
          FROM orders WHERE o_totalprice IS NOT NULL),
        sp AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY v),
        cc AS (
          SELECT v,
                 SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(c) OVER () AS n
          FROM sp),
        b AS (
          SELECT min(CASE WHEN cum >= greatest(1, CAST(ceil(
                   CAST(0.01 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT))
                 THEN v END) AS lo,
                 min(CASE WHEN cum >= greatest(1, CAST(ceil(
                   CAST(0.99 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT))
                 THEN v END) AS hi
          FROM cc)
        SELECT id, v,
               greatest(lo, least(hi, v)) AS v_clipped,
               (v < lo OR v > hi) AS was_clipped
        FROM s CROSS JOIN b
        ORDER BY id"""),
      "Winsorize order totals at the discrete p01/p99 order " +
        "statistics — heavy-tail conditioning that keeps every row " +
        "(clipping beats dropping: joins and counts survive). Bounds " +
        "select actual values off the distinct-value spine (never " +
        "interpolate) and broadcast back; the clip itself is a " +
        "shuffle-free projection."),

    // ---- q218: robust scaling by median/MAD --------------------------------
    "q218_robust_scale" -> Q(
      (s, d) => Stats.robustScale(Tables.orders(s, d),
        col("o_orderkey"), col("o_totalprice")),
      Some("""
        WITH s AS (
          SELECT o_orderkey AS id, o_totalprice AS v
          FROM orders WHERE o_totalprice IS NOT NULL),
        sp AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY v),
        cc AS (
          SELECT v,
                 SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(c) OVER () AS n
          FROM sp),
        m AS (
          SELECT min(CASE WHEN cum >= greatest(1, CAST(ceil(
                   CAST(0.5 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT))
                 THEN v END) AS med
          FROM cc),
        dd AS (SELECT s.id, s.v, abs(s.v - m.med) AS av
               FROM s CROSS JOIN m),
        sp2 AS (SELECT av, CAST(COUNT(*) AS BIGINT) AS c FROM dd GROUP BY av),
        cc2 AS (
          SELECT av,
                 SUM(c) OVER (ORDER BY av
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(c) OVER () AS n
          FROM sp2),
        m2 AS (
          SELECT min(CASE WHEN cum >= greatest(1, CAST(ceil(
                   CAST(0.5 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT))
                 THEN av END) AS mad
          FROM cc2)
        SELECT dd.id, dd.v,
               (dd.v - m.med) / nullif(m2.mad, CAST(0.0 AS DOUBLE)) AS scaled
        FROM dd CROSS JOIN m CROSS JOIN m2
        ORDER BY id"""),
      "Median/MAD robust standardization of order totals — the " +
        "outlier-insensitive z-score (plain z-scores move with the " +
        "outliers they are meant to flag). Median and MAD are both " +
        "discrete order-statistic selections off bounded spines; the " +
        "scaled value is pure IEEE subtract/divide of selected actual " +
        "values."),

    // ---- q223: Theil-Sen robust trend ---------------------------------------
    "q223_theil_sen" -> Q(
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(datediff(to_date(col("ts")), lit("1970-01-01")).as("x"))
          .agg(count(lit(1)).as("y"))
        Stats.theilSen(daily, col("x"), col("y"))
      },
      Some("""
        WITH daily AS (
          SELECT CAST(date_diff('day', DATE '1970-01-01',
                   CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS DOUBLE) AS x,
                 CAST(COUNT(*) AS DOUBLE) AS y
          FROM events GROUP BY 1),
        pairs AS (
          SELECT (b.y - a.y) / (b.x - a.x) AS slope
          FROM daily a JOIN daily b ON a.x < b.x),
        ssp AS (SELECT slope AS v, CAST(COUNT(*) AS BIGINT) AS c
                FROM pairs GROUP BY slope),
        scc AS (
          SELECT v, SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(c) OVER () AS n
          FROM ssp),
        ms AS (
          SELECT min(CASE WHEN cum >= greatest(1, CAST(ceil(
                   CAST(0.5 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT))
                 THEN v END) AS slope
          FROM scc),
        resid AS (
          SELECT d.y - ms.slope * d.x AS r FROM daily d CROSS JOIN ms),
        rsp AS (SELECT r AS v, CAST(COUNT(*) AS BIGINT) AS c
                FROM resid GROUP BY r),
        rcc AS (
          SELECT v, SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(c) OVER () AS n
          FROM rsp),
        mi AS (
          SELECT min(CASE WHEN cum >= greatest(1, CAST(ceil(
                   CAST(0.5 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT))
                 THEN v END) AS intercept
          FROM rcc),
        cnt AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
                 CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS n_pairs
          FROM daily)
        SELECT cnt.n_points, cnt.n_pairs, ms.slope, mi.intercept
        FROM cnt CROSS JOIN ms CROSS JOIN mi"""),
      "Theil-Sen robust trend of daily event volume — the median of " +
        "all pairwise slopes (29% breakdown point; one outage day " +
        "cannot bend it, unlike q167's OLS slope on the same series). " +
        "Input is the BOUNDED daily rollup, so the C(n,2) pair space " +
        "is days-squared, not events-squared; slope and intercept are " +
        "discrete median selections of actually-computed IEEE ratios."),

    // ---- q224: split-conformal coverage audit -------------------------------
    "q224_conformal" -> Q(
      (s, d) => {
        val scored = TrainingQueries.qualityScored(Tables.documents(s, d))
        Stats.conformalReport(scored, col("score"), col("y"),
          isCalib = col("doc") % 2 === 0, alpha = 0.1)
      },
      Some(s"""
        WITH ${OracleGen.qualityScoredCtes()},
        base AS (
          SELECT abs(CAST(y AS DOUBLE) - score) AS nc, (doc % 2 = 0) AS cal
          FROM sc WHERE score IS NOT NULL AND y IS NOT NULL),
        csp AS (SELECT nc, CAST(COUNT(*) AS BIGINT) AS c
                FROM base WHERE cal GROUP BY nc),
        ccc AS (
          SELECT nc, SUM(c) OVER (ORDER BY nc
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(c) OVER () AS n
          FROM csp),
        qh AS (
          SELECT CAST(MAX(n) AS BIGINT) AS n_calib,
                 min(CASE WHEN cum >= least(n, CAST(ceil(
                   CAST(0.9 AS DOUBLE) * CAST(n + 1 AS DOUBLE)) AS BIGINT))
                 THEN nc END) AS qhat
          FROM ccc)
        SELECT MAX(qh.n_calib) AS n_calib,
               CAST(COUNT(*) AS BIGINT) AS n_eval,
               MAX(qh.qhat) AS qhat,
               CAST(SUM(CASE WHEN nc <= qh.qhat THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS coverage
        FROM base CROSS JOIN qh WHERE NOT cal"""),
      "Split-conformal coverage audit of the q104 quality filter: the " +
        "conformal quantile of |y - score| on the even-doc calibration " +
        "slice at the finite-sample rank ceil(0.9(n+1)), then the odd-" +
        "doc slice's empirical coverage — guaranteed >= 0.9 under " +
        "exchangeability REGARDLESS of how miscalibrated the scores " +
        "are, so a dip is a distribution-shift alarm with a " +
        "finite-sample footing (q186 calibration has no such bound). " +
        "qhat is a discrete selection off the bounded nonconformity " +
        "spine; coverage is a pure integer ratio."),

    // ---- q225: difference-in-differences ------------------------------------
    "q225_diff_in_diff" -> Q(
      (s, d) => {
        val e = Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("value").isNotNull)
          .withColumn("treat",
            (md5U52(col("user_id").cast("string"), 4)
              .cast("int") % 2) === 0)
          .withColumn("post", to_date(col("ts")) > lit("2024-01-15"))
        Stats.diffInDiff(e, col("treat"), col("post"), col("value"))
      },
      Some(s"""
        WITH e AS (
          SELECT value,
                 CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                   1, 4)) AS INT) % 2 = 0 AS treat,
                 CAST($TS AS DATE) > DATE '2024-01-15' AS post
          FROM events
          WHERE event_type = 'purchase' AND value IS NOT NULL),
        g AS (
          SELECT
            CAST(SUM(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_t_pre,
            CAST(SUM(CASE WHEN treat AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_t_post,
            CAST(SUM(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_c_pre,
            CAST(SUM(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_c_post,
            SUM(CASE WHEN treat AND NOT post
                THEN CAST(CAST(round(value * 1e9) AS BIGINT) AS DECIMAL(38,0))
                ELSE CAST(0 AS DECIMAL(38,0)) END) AS s_t_pre,
            SUM(CASE WHEN treat AND post
                THEN CAST(CAST(round(value * 1e9) AS BIGINT) AS DECIMAL(38,0))
                ELSE CAST(0 AS DECIMAL(38,0)) END) AS s_t_post,
            SUM(CASE WHEN NOT treat AND NOT post
                THEN CAST(CAST(round(value * 1e9) AS BIGINT) AS DECIMAL(38,0))
                ELSE CAST(0 AS DECIMAL(38,0)) END) AS s_c_pre,
            SUM(CASE WHEN NOT treat AND post
                THEN CAST(CAST(round(value * 1e9) AS BIGINT) AS DECIMAL(38,0))
                ELSE CAST(0 AS DECIMAL(38,0)) END) AS s_c_post
          FROM e),
        m AS (
          SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
            CAST(s_t_pre AS DOUBLE) / nullif(CAST(n_t_pre AS DOUBLE),
              CAST(0 AS DOUBLE)) / 1e9 AS mean_t_pre,
            CAST(s_t_post AS DOUBLE) / nullif(CAST(n_t_post AS DOUBLE),
              CAST(0 AS DOUBLE)) / 1e9 AS mean_t_post,
            CAST(s_c_pre AS DOUBLE) / nullif(CAST(n_c_pre AS DOUBLE),
              CAST(0 AS DOUBLE)) / 1e9 AS mean_c_pre,
            CAST(s_c_post AS DOUBLE) / nullif(CAST(n_c_post AS DOUBLE),
              CAST(0 AS DOUBLE)) / 1e9 AS mean_c_post
          FROM g)
        SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
               mean_t_pre, mean_t_post, mean_c_pre, mean_c_post,
               (mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre) AS did
        FROM m"""),
      "Difference-in-differences on purchase value across the q161 " +
        "md5-coin cohorts and the Jan-15 pre/post boundary — the " +
        "causal readout when treatment was not randomized but a " +
        "pre-period exists: the control cohort's drift cancels common " +
        "shocks (q198 CUPED reduces variance under randomization; DiD " +
        "removes BIAS without it). One conditional-aggregate pass, " +
        "cell sums exact on the 1e-9 grid."),

    // ---- q226: inverse-propensity-weighted ATE ------------------------------
    "q226_ipw_ate" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val scored = TrainingQueries.qualityScored(docs, col("lang") === "en")
        val joined = scored.join(
          docs.select(col("doc_id").as("doc"),
            length(col("text")).cast("double").as("outcome")), Seq("doc"))
        Stats.ipwAte(joined, col("y") === 1, col("outcome"), col("score"))
      },
      Some(s"""
        WITH ${OracleGen.qualityScoredCtes("lang = 'en'")},
        j AS (
          SELECT sc.y = 1 AS treat,
                 CAST(length(d.text) AS DOUBLE) AS outcome,
                 greatest(CAST(0.01 AS DOUBLE),
                   least(CAST(0.99 AS DOUBLE), sc.score)) AS e
          FROM sc JOIN documents d ON d.doc_id = sc.doc
          WHERE sc.score IS NOT NULL AND d.text IS NOT NULL),
        g AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_treated,
                 SUM(CASE WHEN treat
                     THEN CAST(CAST(round((outcome / e) * 1e9) AS BIGINT)
                       AS DECIMAL(38,0))
                     ELSE CAST(0 AS DECIMAL(38,0)) END) AS st,
                 SUM(CASE WHEN NOT treat
                     THEN CAST(CAST(round((outcome / (CAST(1.0 AS DOUBLE) - e))
                       * 1e9) AS BIGINT) AS DECIMAL(38,0))
                     ELSE CAST(0 AS DECIMAL(38,0)) END) AS sc2
          FROM j)
        SELECT n, n_treated,
               CAST(st AS DOUBLE) / CAST(n AS DOUBLE) / 1e9 AS mean_ipw_t,
               CAST(sc2 AS DOUBLE) / CAST(n AS DOUBLE) / 1e9 AS mean_ipw_c,
               CAST(st AS DOUBLE) / CAST(n AS DOUBLE) / 1e9
                 - CAST(sc2 AS DOUBLE) / CAST(n AS DOUBLE) / 1e9 AS ate
        FROM g"""),
      "Inverse-propensity-weighted ATE of 'document is English' on " +
        "document length, with the q104 logistic machinery fitting the " +
        "propensity on text-shape features — the observational " +
        "estimator when no pre-period exists (q225's sibling). Scores " +
        "clamp to [0.01, 0.99] (the overlap guard: one near-0 " +
        "propensity otherwise dominates the estimate); per-row IPW " +
        "ratios snap to the 1e-9 grid and sum exactly; Horvitz-" +
        "Thompson normalization by the full n on both arms."),

    // ---- q230: Spearman rank correlation ------------------------------------
    "q230_spearman" -> Q(
      (s, d) => Stats.spearmanReport(Tables.lineitem(s, d),
        col("l_quantity"), col("l_discount")),
      Some("""
        WITH cells AS (
          SELECT l_quantity AS vx, l_discount AS vy,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
          GROUP BY 1, 2),
        mx AS (SELECT vx, CAST(SUM(c) AS BIGINT) AS mc FROM cells GROUP BY vx),
        rx AS (
          SELECT vx, 2 * coalesce(SUM(mc) OVER (ORDER BY vx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + mc + 1 AS r2x
          FROM mx),
        my AS (SELECT vy, CAST(SUM(c) AS BIGINT) AS mc FROM cells GROUP BY vy),
        ry AS (
          SELECT vy, 2 * coalesce(SUM(mc) OVER (ORDER BY vy
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + mc + 1 AS r2y
          FROM my),
        j AS (
          SELECT cells.c, rx.r2x, ry.r2y, cells.vx, cells.vy
          FROM cells JOIN rx ON rx.vx = cells.vx
                     JOIN ry ON ry.vy = cells.vy),
        g AS (
          SELECT CAST(SUM(c) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT vx) AS BIGINT) AS levels_x,
                 CAST(COUNT(DISTINCT vy) AS BIGINT) AS levels_y,
                 SUM(CAST(c AS DECIMAL(38,0)) * CAST(r2x AS DECIMAL(38,0)))
                   AS sx,
                 SUM(CAST(c AS DECIMAL(38,0)) * CAST(r2y AS DECIMAL(38,0)))
                   AS sy,
                 SUM(CAST(c AS DECIMAL(38,0)) * CAST(r2x AS DECIMAL(38,0))
                     * CAST(r2x AS DECIMAL(38,0))) AS sxx,
                 SUM(CAST(c AS DECIMAL(38,0)) * CAST(r2y AS DECIMAL(38,0))
                     * CAST(r2y AS DECIMAL(38,0))) AS syy,
                 SUM(CAST(c AS DECIMAL(38,0)) * CAST(r2x AS DECIMAL(38,0))
                     * CAST(r2y AS DECIMAL(38,0))) AS sxy
          FROM j)
        SELECT n, levels_x, levels_y,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt(nullif(
                   (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
                   CAST('0.0' AS DOUBLE))) AS rho
        FROM g"""),
      "Spearman rank correlation between line quantity and discount — " +
        "the monotone-association readout that outliers cannot bend " +
        "(q135's Pearson moves with every extreme value). Never ranks " +
        "rows: the corpus collapses onto the 50x11 contingency cells, " +
        "tied average ranks come off each bounded marginal spine, and " +
        "ranks stay DOUBLED so every moment is an exact DECIMAL " +
        "integer (2r is whole even for .5 tied ranks; the factor " +
        "cancels in the correlation); rho is IEEE over those exact " +
        "sums."),

    // ---- q231: Kruskal-Wallis k-sample rank test ----------------------------
    "q231_kruskal_wallis" -> Q(
      (s, d) => Stats.kruskalWallisReport(Tables.orders(s, d),
        col("o_totalprice"), col("o_orderpriority"), Priorities),
      Some(s"""
        WITH sp AS (
          SELECT o_totalprice AS v, CAST(COUNT(*) AS BIGINT) AS cnt,
                 ${Priorities.zipWithIndex.map { case (g, i) =>
                   s"CAST(SUM(CASE WHEN o_orderpriority = '$g' THEN 1 ELSE 0 END) AS BIGINT) AS n$i"
                 }.mkString(",\n                 ")}
          FROM orders
          WHERE o_totalprice IS NOT NULL
            AND o_orderpriority IN (${Priorities.map("'" + _ + "'").mkString(", ")})
          GROUP BY 1),
        r AS (
          SELECT *, 2 * coalesce(SUM(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + cnt + 1 AS r2
          FROM sp),
        a AS (
          SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                 SUM(CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))
                     * CAST(cnt AS DECIMAL(38,0)) - CAST(cnt AS DECIMAL(38,0)))
                   AS ties,
                 ${Priorities.indices.map { i =>
                   s"CAST(SUM(n$i) AS BIGINT) AS ng$i,\n                 " +
                   s"SUM(CAST(n$i AS DECIMAL(38,0)) * CAST(r2 AS DECIMAL(38,0))) AS r2g$i"
                 }.mkString(",\n                 ")}
          FROM r),
        h AS (
          SELECT n, ties,
                 CAST('3.0' AS DOUBLE)
                   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE)
                     + CAST('1.0' AS DOUBLE)))
                   * (${Priorities.indices.map { i =>
                        s"CAST(r2g$i AS DOUBLE) * CAST(r2g$i AS DOUBLE) / CAST(ng$i AS DOUBLE)"
                      }.mkString("\n                      + ")})
                   - CAST('3.0' AS DOUBLE) * (CAST(n AS DOUBLE)
                     + CAST('1.0' AS DOUBLE)) AS hv
          FROM a)
        SELECT n, CAST(${Priorities.size} AS INT) AS k,
               CAST(${Priorities.size - 1} AS BIGINT) AS dof, hv AS h,
               hv / nullif(CAST('1.0' AS DOUBLE) - CAST(ties AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                   - CAST(n AS DOUBLE)), CAST('0.0' AS DOUBLE))
                 AS h_corrected
        FROM h"""),
      "Kruskal-Wallis H across the five order-priority tiers: do ANY " +
        "of the slices draw totals from a different distribution? The " +
        "k-sample extension of q215 (k-squared pairwise MW tests " +
        "inflate false positives). Doubled average ranks off the " +
        "bounded value spine keep per-group rank sums exact DECIMAL; " +
        "the k H-terms sum in the FIXED caller-literal group order — " +
        "the move that keeps a float sum over groups engine-portable. " +
        "Tie-corrected."),

    // ---- q232: one-way ANOVA F ----------------------------------------------
    "q232_anova_f" -> Q(
      (s, d) => Stats.anovaFReport(Tables.orders(s, d),
        col("o_totalprice"), col("o_orderpriority"), Priorities),
      Some(s"""
        WITH a AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(CAST(round(o_totalprice * 1e9) AS BIGINT)
                   AS DECIMAL(38,0))) AS s,
                 ${Priorities.zipWithIndex.map { case (g, i) =>
                   s"CAST(SUM(CASE WHEN o_orderpriority = '$g' THEN 1 ELSE 0 END) AS BIGINT) AS n$i,\n                 " +
                   s"SUM(CASE WHEN o_orderpriority = '$g' THEN CAST(CAST(round(o_totalprice * 1e9) AS BIGINT) AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s$i,\n                 " +
                   s"SUM(CASE WHEN o_orderpriority = '$g' THEN CAST(CAST(round(o_totalprice * 1e9) AS BIGINT) AS DECIMAL(38,0)) * CAST(CAST(round(o_totalprice * 1e9) AS BIGINT) AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS q$i"
                 }.mkString(",\n                 ")}
          FROM orders
          WHERE o_totalprice IS NOT NULL
            AND o_orderpriority IN (${Priorities.map("'" + _ + "'").mkString(", ")})),
        m AS (
          SELECT *, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e9 AS gm
          FROM a),
        e AS (
          SELECT n,
                 (${Priorities.indices.map { i =>
                    s"CAST(n$i AS DOUBLE) * (CAST(s$i AS DOUBLE) / CAST(n$i AS DOUBLE) / 1e9 - gm) * (CAST(s$i AS DOUBLE) / CAST(n$i AS DOUBLE) / 1e9 - gm)"
                  }.mkString("\n                  + ")}) AS ssb,
                 (${Priorities.indices.map { i =>
                    s"(CAST(q$i AS DOUBLE) - CAST(s$i AS DOUBLE) * CAST(s$i AS DOUBLE) / CAST(n$i AS DOUBLE)) / 1e18"
                  }.mkString("\n                  + ")}) AS ssw
          FROM m)
        SELECT n, CAST(${Priorities.size} AS INT) AS k,
               CAST(${Priorities.size - 1} AS BIGINT) AS dof_between,
               n - ${Priorities.size} AS dof_within, ssb, ssw,
               (ssb / CAST(${Priorities.size - 1} AS DOUBLE))
                 / nullif(ssw / nullif(CAST(n AS DOUBLE)
                     - CAST(${Priorities.size} AS DOUBLE),
                     CAST('0.0' AS DOUBLE)), CAST('0.0' AS DOUBLE)) AS f
        FROM e"""),
      "One-way ANOVA F on the same five priority tiers — the " +
        "parametric companion to q231 (do the MEANS differ?) under a " +
        "shared-variance assumption. One conditional-aggregate pass: " +
        "per-group n / sum / sum-of-squares exact on the 1e-9 grid as " +
        "DECIMAL; SSB and SSW are IEEE sums in the fixed literal group " +
        "order, F a ratio of their dof-scaled forms."),

    // ---- q233: per-nation randomization battery + BH-FDR --------------------
    "q233_fdr_battery" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d)
          .join(Tables.customer(s, d),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
        val pv = Stats.groupedPermutationPvalues(o,
          col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority").isin(urgent: _*), col("n_name"),
          reps = 99, seed = 0L)
        Stats.bhFdr(pv, col("g"), col("p_value"), alpha = 0.05)
      },
      Some("""
        WITH o AS (
          SELECT n.n_name AS g, CAST(o_orderkey AS VARCHAR) AS id,
                 CAST(round(o_totalprice * 1e9) AS BIGINT) AS v,
                 o_orderpriority IN ('1-URGENT', '2-HIGH') AS a
          FROM orders
          JOIN customer c ON c.c_custkey = o_custkey
          JOIN nation n ON n.n_nationkey = c.c_nationkey
          WHERE o_totalprice IS NOT NULL
            AND (o_orderpriority IN ('1-URGENT', '2-HIGH')) IS NOT NULL
            AND n.n_name IS NOT NULL),
        obs AS (
          SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 SUM(CASE WHEN a THEN CAST(v AS DECIMAL(38,0))
                     ELSE CAST(0 AS DECIMAL(38,0)) END) AS sa,
                 SUM(CAST(v AS DECIMAL(38,0))) AS s
          FROM o GROUP BY g),
        ex AS (
          SELECT o.g, o.id, o.v, obs.n, obs.n_a, obs.sa, obs.s,
                 unnest(range(0, 99)) AS rep
          FROM o JOIN obs ON obs.g = o.g),
        asg AS (
          SELECT g, rep, v, n, n_a, sa, s,
                 CAST(CAST(concat('0x', substr(md5(id || ':'
                     || CAST(rep AS VARCHAR) || ':' || '0'), 1, 13))
                   AS BIGINT) AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))
                 < CAST(4503599627370496 AS DECIMAL(38,0))
                   * CAST(n_a AS DECIMAL(38,0)) AS asn
          FROM ex),
        pr AS (
          SELECT g, rep, MAX(n) AS n, MAX(n_a) AS n_a, MAX(s) AS s,
                 MAX(sa) AS sa,
                 SUM(CASE WHEN asn THEN CAST(v AS DECIMAL(38,0))
                     ELSE CAST(0 AS DECIMAL(38,0)) END) AS sar,
                 CAST(SUM(CASE WHEN asn THEN 1 ELSE 0 END) AS BIGINT) AS nar
          FROM asg GROUP BY g, rep),
        dr AS (
          SELECT g, rep, n, n_a,
                 CAST(sa AS DOUBLE) / nullif(CAST(n_a AS DOUBLE),
                     CAST('0.0' AS DOUBLE)) / 1e9
                   - (CAST(s AS DOUBLE) - CAST(sa AS DOUBLE))
                     / nullif(CAST(n AS DOUBLE) - CAST(n_a AS DOUBLE),
                       CAST('0.0' AS DOUBLE)) / 1e9 AS diff_obs,
                 CAST(sar AS DOUBLE) / nullif(CAST(nar AS DOUBLE),
                     CAST('0.0' AS DOUBLE)) / 1e9
                   - (CAST(s AS DOUBLE) - CAST(sar AS DOUBLE))
                     / nullif(CAST(n AS DOUBLE) - CAST(nar AS DOUBLE),
                       CAST('0.0' AS DOUBLE)) / 1e9 AS diff_r
          FROM pr),
        pv AS (
          SELECT g, CAST(SUM(CASE WHEN abs(diff_r) >= abs(diff_obs)
                   THEN 1 ELSE 0 END) + 1 AS DOUBLE)
                 / CAST('100.0' AS DOUBLE) AS p
          FROM dr GROUP BY g),
        ranked AS (
          SELECT g AS test_id, p,
                 CAST(row_number() OVER (ORDER BY p, g) AS INT) AS rank,
                 CAST(COUNT(*) OVER () AS BIGINT) AS m
          FROM pv),
        thr AS (
          SELECT test_id, p, rank,
                 CAST(rank AS DOUBLE) * CAST('0.05' AS DOUBLE)
                   / CAST(m AS DOUBLE) AS bh_threshold,
                 MAX(CASE WHEN p <= CAST(rank AS DOUBLE)
                     * CAST('0.05' AS DOUBLE) / CAST(m AS DOUBLE)
                   THEN rank ELSE 0 END) OVER () AS kstar
          FROM ranked)
        SELECT test_id, p, rank, bh_threshold,
               rank <= kstar AS discovery
        FROM thr ORDER BY rank"""),
      "Per-nation randomization battery with Benjamini-Hochberg FDR: " +
        "25 simultaneous 'do urgent orders differ HERE?' tests, each a " +
        "deterministic label-randomization p-value (md5-urn re-draws " +
        "at the nation's own urgent rate via an EXACT integer compare " +
        "— no float bias), then the step-up cutoff k* = max{r: p_(r) " +
        "<= r*alpha/m} turns raw p-values into an honest discovery " +
        "set (uncorrected, 25 nulls yield ~1.2 fake hits at " +
        "alpha=.05). One corpus pass builds all 25 tests; every " +
        "p-value is a pure integer ratio."),

    // ---- q234: two-sample randomization test --------------------------------
    "q234_permutation_test" -> Q(
      (s, d) => Stats.permutationTest(Tables.orders(s, d),
        col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority").isin(urgent: _*), reps = 99, seed = 0L),
      Some("""
        WITH b AS (
          SELECT CAST(o_orderkey AS VARCHAR) AS id,
                 CAST(round(o_totalprice * 1e9) AS BIGINT) AS v,
                 o_orderpriority IN ('1-URGENT', '2-HIGH') AS a
          FROM orders
          WHERE o_totalprice IS NOT NULL
            AND (o_orderpriority IN ('1-URGENT', '2-HIGH')) IS NOT NULL),
        obs AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 SUM(CASE WHEN a THEN CAST(v AS DECIMAL(38,0))
                     ELSE CAST(0 AS DECIMAL(38,0)) END) AS sa,
                 SUM(CAST(v AS DECIMAL(38,0))) AS s
          FROM b),
        ex AS (
          SELECT b.id, b.v, obs.n, obs.n_a, obs.sa, obs.s,
                 unnest(range(0, 99)) AS rep
          FROM b CROSS JOIN obs),
        asg AS (
          SELECT rep, v, n, n_a, sa, s,
                 CAST(CAST(concat('0x', substr(md5(id || ':'
                     || CAST(rep AS VARCHAR) || ':' || '0'), 1, 13))
                   AS BIGINT) AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))
                 < CAST(4503599627370496 AS DECIMAL(38,0))
                   * CAST(n_a AS DECIMAL(38,0)) AS asn
          FROM ex),
        pr AS (
          SELECT rep, MAX(n) AS n, MAX(n_a) AS n_a, MAX(s) AS s,
                 MAX(sa) AS sa,
                 SUM(CASE WHEN asn THEN CAST(v AS DECIMAL(38,0))
                     ELSE CAST(0 AS DECIMAL(38,0)) END) AS sar,
                 CAST(SUM(CASE WHEN asn THEN 1 ELSE 0 END) AS BIGINT) AS nar
          FROM asg GROUP BY rep),
        dr AS (
          SELECT rep, n, n_a,
                 CAST(sa AS DOUBLE) / nullif(CAST(n_a AS DOUBLE),
                     CAST('0.0' AS DOUBLE)) / 1e9
                   - (CAST(s AS DOUBLE) - CAST(sa AS DOUBLE))
                     / nullif(CAST(n AS DOUBLE) - CAST(n_a AS DOUBLE),
                       CAST('0.0' AS DOUBLE)) / 1e9 AS diff_obs,
                 CAST(sar AS DOUBLE) / nullif(CAST(nar AS DOUBLE),
                     CAST('0.0' AS DOUBLE)) / 1e9
                   - (CAST(s AS DOUBLE) - CAST(sar AS DOUBLE))
                     / nullif(CAST(n AS DOUBLE) - CAST(nar AS DOUBLE),
                       CAST('0.0' AS DOUBLE)) / 1e9 AS diff_r
          FROM pr)
        SELECT MAX(n) AS n, MAX(n_a) AS n_a, MAX(diff_obs) AS diff_obs,
               CAST(COUNT(*) AS BIGINT) AS reps,
               CAST(SUM(CASE WHEN abs(diff_r) >= abs(diff_obs)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
               CAST(SUM(CASE WHEN abs(diff_r) >= abs(diff_obs)
                   THEN 1 ELSE 0 END) + 1 AS DOUBLE)
                 / CAST(COUNT(*) + 1 AS DOUBLE) AS p_value
        FROM dr"""),
      "Two-sample randomization test of the urgent-vs-rest mean total " +
        "— the assumption-free sibling of q215/q216: under H0 the " +
        "labels are exchangeable, so 99 deterministic md5-urn re-draws " +
        "(each row re-joins A iff u*n < 2^52*nA, an EXACT DECIMAL " +
        "integer comparison — assignment rate matches nA/n with no " +
        "float bias) calibrate the observed gap against its own null; " +
        "p = (1+extremes)/(reps+1) is a pure integer ratio, finite-" +
        "sample valid with no distribution table. The corpus re-" +
        "spreads before the x99 explosion (the AQE coalesce trap)."),

    // ---- q238: isotonic calibration (PAV minimax) ----------------------------
    "q238_isotonic" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val u = md5U52(concat(col("doc_id").cast("string"), lit(":iso")))
        // 20% deterministic label flips off the md5 urn (5u < 2^52 is
        // an exact integer compare) so the monotone base relation
        // carries real noise for PAV to pool
        val flip = u * lit(5L) < lit(4503599627370496L)
        val y = (col("n_chars") > 300) =!= flip
        val score = least(lit(0.99),
          col("n_chars").cast("double") / lit(600.0))
        graft.operators.Quality.isotonicCalibration(
          docs.select(score.as("score"), y.cast("long").as("y")),
          col("score"), col("y"), bins = 20)
      },
      Some("""
        WITH s AS (
          SELECT least(CAST('0.99' AS DOUBLE),
                   CAST(n_chars AS DOUBLE) / CAST('600.0' AS DOUBLE))
                   AS score,
                 CASE WHEN (n_chars > 300) !=
                      (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)
                         || ':iso'), 1, 13)) AS BIGINT) * 5
                       < 4503599627370496)
                   THEN 1 ELSE 0 END AS y
          FROM documents),
        b AS (
          SELECT greatest(0, least(CAST(floor(score * 20) AS INT), 19))
                   AS bin, y
          FROM s),
        sp AS (
          SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS BIGINT) AS n_pos
          FROM b GROUP BY bin),
        c AS (
          SELECT bin, n, n_pos,
                 CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
                 CAST(SUM(n_pos) OVER (ORDER BY bin) AS BIGINT) AS cp
          FROM sp),
        r AS (
          SELECT j.bin AS j, k.bin AS k,
                 CAST(k.cp - (j.cp - j.n_pos) AS DOUBLE)
                   / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS a
          FROM c j JOIN c k ON j.bin <= k.bin),
        m AS (
          SELECT i.bin AS i, r.j, MIN(r.a) AS mn
          FROM sp i JOIN r ON r.j <= i.bin AND r.k >= i.bin
          GROUP BY 1, 2),
        g AS (SELECT i, MAX(mn) AS isotonic FROM m GROUP BY i)
        SELECT sp.bin, sp.n, sp.n_pos,
               CAST(sp.n_pos AS DOUBLE) / CAST(sp.n AS DOUBLE) AS frac_pos,
               g.isotonic
        FROM sp JOIN g ON g.i = sp.bin
        ORDER BY sp.bin"""),
      "Isotonic calibration of a noisy length-based document score by " +
        "PAV's exact minimax closed form g(i) = max_{j<=i} min_{k>=i} " +
        "mean(y over bins j..k) — the nonparametric best monotone " +
        "score-to-probability map (q186 reports miscalibration; this " +
        "FIXES it). One corpus pass to a <= 20-bin spine; prefix sums " +
        "give every range mean from two subtractions; the minimax is " +
        "a bounded <= bins^3 broadcast triple over the spine — nothing " +
        "corpus-sized shuffles, the identical plan at 100 TB. Every " +
        "range mean is a ratio of exact integers, so the fit is " +
        "bit-portable; labels carry 20% deterministic md5-urn flips so " +
        "the pooling is non-trivial.")
  ) ++ Seq(

    // ---- q248: two-regressor OLS via exact integer moments -----------------
    "q248_ols2" -> Q(
      (s, d) => {
        // integer grids: qty is integer-valued, discount snaps to
        // percent, price to cents — every moment is then an exact
        // integer (decimal-summed), and the centered 2x2 solve is a
        // fixed chain of IEEE ops on identical doubles. Moment bound:
        // sum(x1*yc) <= 5e8/row — exact past sf1; widen the grids
        // together if the corpus grows beyond that.
        def dec(c: org.apache.spark.sql.Column) =
          c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
        val li = Tables.lineitem(s, d).select(col("l_returnflag").as("rf"),
          col("l_quantity").cast("long").as("x1"),
          round(col("l_discount") * 100).cast("long").as("x2"),
          round(col("l_extendedprice") * 100).cast("long").as("yc"))
        val m = li.groupBy(col("rf")).agg(
          count(lit(1)).as("n"),
          dec(sum(col("x1"))).cast("double").as("s1"),
          dec(sum(col("x2"))).cast("double").as("s2"),
          dec(sum(col("yc"))).cast("double").as("sy"),
          dec(sum(col("x1") * col("x1"))).cast("double").as("s11"),
          dec(sum(col("x1") * col("x2"))).cast("double").as("s12"),
          dec(sum(col("x2") * col("x2"))).cast("double").as("s22"),
          dec(sum(col("x1") * col("yc"))).cast("double").as("s1y"),
          dec(sum(col("x2") * col("yc"))).cast("double").as("s2y"))
        m.withColumn("nd", col("n").cast("double"))
          .withColumn("m1", col("s1") / col("nd"))
          .withColumn("m2", col("s2") / col("nd"))
          .withColumn("my", col("sy") / col("nd"))
          .withColumn("c11", col("s11") - col("s1") * col("m1"))
          .withColumn("c12", col("s12") - col("s1") * col("m2"))
          .withColumn("c22", col("s22") - col("s2") * col("m2"))
          .withColumn("c1y", col("s1y") - col("s1") * col("my"))
          .withColumn("c2y", col("s2y") - col("s2") * col("my"))
          .withColumn("det",
            col("c11") * col("c22") - col("c12") * col("c12"))
          .withColumn("b1c",
            (col("c22") * col("c1y") - col("c12") * col("c2y")) / col("det"))
          .withColumn("b2c",
            (col("c11") * col("c2y") - col("c12") * col("c1y")) / col("det"))
          .select(col("rf"), col("n"),
            (col("b1c") / lit(100.0)).as("b_qty"),
            (col("b2c") / lit(100.0)).as("b_disc_pct"),
            ((col("my") - col("b1c") * col("m1") - col("b2c") * col("m2"))
              / lit(100.0)).as("intercept"))
          .orderBy(col("rf"))
      },
      Some("""
        WITH g AS (
          SELECT l_returnflag AS rf,
                 CAST(l_quantity AS BIGINT) AS x1,
                 CAST(round(l_discount * 100) AS BIGINT) AS x2,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
          FROM lineitem),
        m AS (
          SELECT rf, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(CAST(SUM(x1) AS BIGINT) AS DOUBLE) AS s1,
                 CAST(CAST(SUM(x2) AS BIGINT) AS DOUBLE) AS s2,
                 CAST(CAST(SUM(yc) AS BIGINT) AS DOUBLE) AS sy,
                 CAST(CAST(SUM(x1 * x1) AS BIGINT) AS DOUBLE) AS s11,
                 CAST(CAST(SUM(x1 * x2) AS BIGINT) AS DOUBLE) AS s12,
                 CAST(CAST(SUM(x2 * x2) AS BIGINT) AS DOUBLE) AS s22,
                 CAST(CAST(SUM(x1 * yc) AS BIGINT) AS DOUBLE) AS s1y,
                 CAST(CAST(SUM(x2 * yc) AS BIGINT) AS DOUBLE) AS s2y
          FROM g GROUP BY rf),
        c AS (
          SELECT rf, n,
                 s1 / CAST(n AS DOUBLE) AS m1, s2 / CAST(n AS DOUBLE) AS m2,
                 sy / CAST(n AS DOUBLE) AS my,
                 s1, s2, sy, s11, s12, s22, s1y, s2y
          FROM m),
        cc AS (
          SELECT rf, n, m1, m2, my,
                 s11 - s1 * m1 AS c11, s12 - s1 * m2 AS c12,
                 s22 - s2 * m2 AS c22,
                 s1y - s1 * my AS c1y, s2y - s2 * my AS c2y
          FROM c),
        b AS (
          SELECT rf, n, m1, m2, my,
                 (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1c,
                 (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2c
          FROM cc)
        SELECT rf, n, b1c / 100.0 AS b_qty, b2c / 100.0 AS b_disc_pct,
               (my - b1c * m1 - b2c * m2) / 100.0 AS intercept
        FROM b
        ORDER BY rf"""),
      "Two-regressor OLS (price ~ quantity + discount, per return " +
        "flag) solved in closed form from exact integer moments — the " +
        "multi-feature extension of q167's single slope: one partial-" +
        "aggregatable moment pass over integer-grid columns (qty, " +
        "discount-percent, price-cents), then the centered 2x2 normal " +
        "equations as a FIXED chain of IEEE ops both engines evaluate " +
        "on identical doubles (each moment < 2^53, so the decimal-to-" +
        "double casts are correctly rounded). In-engine regression " +
        "without an ML library, at the cost of one scan.")
  ) ++ Seq(

    // ---- q252: quantile treatment effect at deciles ------------------------
    "q252_qte_deciles" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ps = (1 to 9).map(i => i / 10.0)
        val o = Tables.orders(s, d).select(
          when(col("o_orderpriority") === "1-URGENT", lit("A"))
            .otherwise(lit("B")).as("g"),
          col("o_totalprice").as("v"))
        val spine = o.filter(col("v").isNotNull)
          .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("g")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = spine
          .withColumn("cum", sum(col("c")).over(w))
          .withColumn("n", sum(col("c")).over(Window.partitionBy(col("g"))))
        // both engines compute the SAME double artifact for ceil(p*n) —
        // the rank rule must match bit-for-bit, not merely numerically
        val qs = cum.groupBy(col("g")).agg(
          ps.map { p =>
            min(when(col("cum") >= greatest(lit(1L),
              ceil(lit(p) * col("n").cast("double")).cast("long")), col("v")))
              .as(f"q${(p * 100).round}%02d")
          }.head, ps.tail.map { p =>
            min(when(col("cum") >= greatest(lit(1L),
              ceil(lit(p) * col("n").cast("double")).cast("long")), col("v")))
              .as(f"q${(p * 100).round}%02d")
          }: _*)
        // rename per side BEFORE the self-crossJoin: a(nm)/b(nm) refs
        // share lineage and would silently resolve to one attribute
        def side(tag: String, suffix: String) =
          qs.filter(col("g") === tag).select(ps.map { p =>
            val nm = f"q${(p * 100).round}%02d"
            col(nm).as(nm + suffix)
          }: _*)
        val pairs = ps.map { p =>
          val nm = f"q${(p * 100).round}%02d"
          struct(lit(p).as("p"), col(nm + "_t").as("q_treat"),
            col(nm + "_c").as("q_control"))
        }
        side("A", "_t").crossJoin(side("B", "_c"))
          .select(explode(array(pairs: _*)).as("r"))
          .select(col("r.p"), col("r.q_treat"), col("r.q_control"),
            (col("r.q_treat") - col("r.q_control")).as("qte"))
          .orderBy(col("p"))
      },
      Some {
        val sel = (1 to 9).map { i =>
          s"""MIN(CASE WHEN cum >= greatest(1, CAST(ceil(
             CAST(0.${i} AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT))
             THEN v END) AS q${"%02d".format(i * 10)}"""
        }.mkString(",\n                 ")
        val rows = (1 to 9).map { i =>
          val nm = "q" + "%02d".format(i * 10)
          s"SELECT CAST(0.${i} AS DOUBLE) AS p, a.$nm AS q_treat, b.$nm AS q_control FROM a, b"
        }.mkString("\n          UNION ALL ")
        s"""
        WITH o AS (
          SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'A' ELSE 'B' END
                   AS g,
                 o_totalprice AS v
          FROM orders WHERE o_totalprice IS NOT NULL),
        sp AS (SELECT g, v, COUNT(*) AS c FROM o GROUP BY 1, 2),
        cw AS (
          SELECT g, v,
                 SUM(c) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(c) OVER (PARTITION BY g) AS n
          FROM sp),
        q AS (
          SELECT g,
                 $sel
          FROM cw GROUP BY g),
        a AS (SELECT * FROM q WHERE g = 'A'),
        b AS (SELECT * FROM q WHERE g = 'B')
        SELECT p, q_treat, q_control, q_treat - q_control AS qte
        FROM ($rows)
        ORDER BY p"""
      },
      "Quantile treatment effect at the deciles — where in the " +
        "distribution the A/B difference lives (a mean shift and a " +
        "tail shift read identically to q161's z-test; QTE separates " +
        "them): per-group discrete quantiles selected off the bounded " +
        "(group, value) spine — the corpus never sorts globally — then " +
        "one 9-row contrast. The rank rule ceil(p*n) is evaluated as " +
        "the SAME double artifact in both engines (the bit-level " +
        "contract, not just numeric agreement), and each QTE is a " +
        "subtraction of exactly-selected order statistics.")
  ) ++ Seq(

    // ---- q253: McNemar paired-classifier test ------------------------------
    "q253_mcnemar" -> Q(
      (s, d) => {
        // two deterministic classifiers over the SAME documents (the
        // paired design): does each doc contain marker token X?
        val docs = Tables.documents(s, d).select(col("doc_id"),
          (col("lang") === "en").as("truth"),
          array_contains(split(col("text"), " "), "the").as("pa"),
          array_contains(split(col("text"), " "), "table").as("pb"))
        val cells = docs.agg(
          count(lit(1)).as("n"),
          sum(when(col("pa") === col("truth") && col("pb") =!= col("truth"),
            1L).otherwise(0L)).as("b"),
          sum(when(col("pa") =!= col("truth") && col("pb") === col("truth"),
            1L).otherwise(0L)).as("c"))
        cells.select(col("n"), col("b"), col("c"),
          when(col("b") + col("c") === 0, lit(null).cast("double"))
            .otherwise(
              ((col("b") - col("c")) * (col("b") - col("c"))).cast("double") /
                (col("b") + col("c")).cast("double")).as("chi2"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, lang = 'en' AS truth,
                 list_contains(string_split(text, ' '), 'the') AS pa,
                 list_contains(string_split(text, ' '), 'table') AS pb
          FROM documents)
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN pa = truth AND pb <> truth
                 THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN pa <> truth AND pb = truth
                 THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CASE WHEN SUM(CASE WHEN pa = truth AND pb <> truth
                      THEN 1 ELSE 0 END)
                       + SUM(CASE WHEN pa <> truth AND pb = truth
                      THEN 1 ELSE 0 END) = 0 THEN NULL
                    ELSE CAST((SUM(CASE WHEN pa = truth AND pb <> truth
                        THEN 1 ELSE 0 END)
                      - SUM(CASE WHEN pa <> truth AND pb = truth
                        THEN 1 ELSE 0 END))
                      * (SUM(CASE WHEN pa = truth AND pb <> truth
                        THEN 1 ELSE 0 END)
                      - SUM(CASE WHEN pa <> truth AND pb = truth
                        THEN 1 ELSE 0 END)) AS DOUBLE)
                      / CAST(SUM(CASE WHEN pa = truth AND pb <> truth
                        THEN 1 ELSE 0 END)
                      + SUM(CASE WHEN pa <> truth AND pb = truth
                        THEN 1 ELSE 0 END) AS DOUBLE)
               END AS chi2
        FROM t"""),
      "McNemar's paired test — the A/B comparison for CLASSIFIERS " +
        "evaluated on the same examples, which q161's independent-" +
        "samples z-test silently gets wrong (paired designs share " +
        "per-example variance): only the discordant cells matter, " +
        "chi2 = (b-c)^2/(b+c) on exact integers with one IEEE " +
        "division. One conditional-aggregate corpus pass."),

    // ---- q254: Mann-Kendall trend test -------------------------------------
    "q254_mann_kendall" -> Q(
      (s, d) => {
        // daily counts per event type: the bounded series spine (the
        // q167 collapse); all pairwise sign comparisons run on the
        // |types| x |days|^2 spine, never the corpus
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), lit("1970-01-01")).as("x"))
          .agg(count(lit(1)).cast("long").as("y"))
        val a = daily.select(col("event_type"), col("x").as("xi"),
          col("y").as("yi"))
        val b = daily.select(col("event_type").as("et2"), col("x").as("xj"),
          col("y").as("yj"))
        val sStat = a.join(b,
            col("event_type") === col("et2") && col("xi") < col("xj"))
          .groupBy(col("event_type"))
          .agg(sum(signum(col("yj") - col("yi")).cast("long")).as("s_stat"))
        val ties = daily.groupBy(col("event_type"), col("y"))
          .agg(count(lit(1)).as("t"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_distinct"), sum(col("t")).as("n_days"),
            sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
              .as("tie_term"))
        sStat.join(ties, Seq("event_type"))
          .select(col("event_type"), col("n_days"), col("s_stat"),
            ((col("n_days") * (col("n_days") - 1)
              * (lit(2) * col("n_days") + 5) - col("tie_term")).cast("double")
              / lit(18.0)).as("var_s"))
          .withColumn("z",
            when(col("s_stat") > 0,
              (col("s_stat") - 1).cast("double") / sqrt(col("var_s")))
              .when(col("s_stat") < 0,
                (col("s_stat") + 1).cast("double") / sqrt(col("var_s")))
              .otherwise(lit(0.0)))
          .orderBy(col("event_type"))
      },
      Some(s"""
        WITH daily AS (
          SELECT event_type,
                 datediff('day', DATE '1970-01-01', CAST($TS AS DATE)) AS x,
                 CAST(COUNT(*) AS BIGINT) AS y
          FROM events GROUP BY 1, 2),
        sp AS (
          SELECT a.event_type,
                 CAST(SUM(CAST(sign(b.y - a.y) AS BIGINT)) AS BIGINT)
                   AS s_stat
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.x < b.x
          GROUP BY 1),
        tt AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
                 CAST(SUM(t) AS BIGINT) AS n_days,
                 CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
          FROM (SELECT event_type, y, CAST(COUNT(*) AS BIGINT) AS t
                FROM daily GROUP BY 1, 2)
          GROUP BY 1)
        SELECT s.event_type, t.n_days, s.s_stat,
               CAST(t.n_days * (t.n_days - 1) * (2 * t.n_days + 5)
                 - t.tie_term AS DOUBLE) / 18.0 AS var_s,
               CASE WHEN s.s_stat > 0 THEN
                      CAST(s.s_stat - 1 AS DOUBLE) /
                        sqrt(CAST(t.n_days * (t.n_days - 1)
                          * (2 * t.n_days + 5) - t.tie_term AS DOUBLE) / 18.0)
                    WHEN s.s_stat < 0 THEN
                      CAST(s.s_stat + 1 AS DOUBLE) /
                        sqrt(CAST(t.n_days * (t.n_days - 1)
                          * (2 * t.n_days + 5) - t.tie_term AS DOUBLE) / 18.0)
                    ELSE CAST(0 AS DOUBLE) END AS z
        FROM sp s JOIN tt t ON t.event_type = s.event_type
        ORDER BY s.event_type"""),
      "Mann-Kendall trend test per event series — the non-parametric " +
        "companion of q167's OLS slope and q223's Theil-Sen estimate " +
        "(detects ANY monotone drift, no linearity or normality " +
        "assumed): S sums pairwise signs over the bounded daily spine " +
        "(|days|^2 pairs per type, never corpus rows), the variance " +
        "carries the standard tie correction, and z applies the " +
        "continuity correction — all exact integers until one division " +
        "and one correctly-rounded sqrt.")
  ) ++ Seq(

    // ---- q256: off-policy evaluation (IPS / SNIPS) -------------------------
    "q256_ips_offpolicy" -> Q(
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val ev = Tables.events(s, d).select(col("user_id"),
          col("event_type").as("a"), col("value").as("r"))
        val nu = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_u"))
        val nua = ev.groupBy(col("user_id"), col("a"))
          .agg(count(lit(1)).as("n_ua"))
        // deterministic target policy: an action rule over the context
        val target = when(col("user_id") % 2 === 0, lit("purchase"))
          .otherwise(lit("click"))
        // per-matched-row importance weight 1/p-hat = n_u/n_ua; terms
        // snap to the 1e-9 grid and cumulate as exact integers (the
        // nearest grid tie sits >= 1/(2*n_ua) away — unreachable)
        val m = ev.filter(col("a") === target)
          .join(nua, Seq("user_id", "a"))
          .join(nu, Seq("user_id"))
          .select(
            round(lit(1e9) * col("r") * col("n_u").cast("double")
              / col("n_ua").cast("double")).cast("long").as("term_g"),
            round(lit(1e9) * col("n_u").cast("double")
              / col("n_ua").cast("double")).cast("long").as("w_g"))
          .agg(count(lit(1)).as("n_matched"),
            sum(col("term_g")).cast(DecimalType(38, 0)).cast("long")
              .as("sum_term_g"),
            sum(col("w_g")).cast(DecimalType(38, 0)).cast("long")
              .as("sum_w_g"))
        val total = ev.agg(count(lit(1)).as("n"))
        m.crossJoin(total)
          .select(col("n"), col("n_matched"),
            (col("sum_term_g").cast("double") / lit(1e9)
              / col("n").cast("double")).as("ips_value"),
            (col("sum_term_g").cast("double") / col("sum_w_g").cast("double"))
              .as("snips_value"))
      },
      Some(s"""
        WITH ev AS (
          SELECT user_id, event_type AS a, value AS r FROM events),
        nu AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_u
          FROM ev GROUP BY user_id),
        nua AS (
          SELECT user_id, a, CAST(COUNT(*) AS BIGINT) AS n_ua
          FROM ev GROUP BY user_id, a),
        m AS (
          SELECT CAST(round(1e9 * e.r * CAST(nu.n_u AS DOUBLE)
                   / CAST(nua.n_ua AS DOUBLE)) AS BIGINT) AS term_g,
                 CAST(round(1e9 * CAST(nu.n_u AS DOUBLE)
                   / CAST(nua.n_ua AS DOUBLE)) AS BIGINT) AS w_g
          FROM ev e
          JOIN nua ON nua.user_id = e.user_id AND nua.a = e.a
          JOIN nu ON nu.user_id = e.user_id
          WHERE e.a = CASE WHEN e.user_id % 2 = 0
                           THEN 'purchase' ELSE 'click' END),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
                 CAST(SUM(term_g) AS BIGINT) AS sum_term_g,
                 CAST(SUM(w_g) AS BIGINT) AS sum_w_g
          FROM m),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev)
        SELECT t.n, agg.n_matched,
               CAST(agg.sum_term_g AS DOUBLE) / 1e9 / CAST(t.n AS DOUBLE)
                 AS ips_value,
               CAST(agg.sum_term_g AS DOUBLE) / CAST(agg.sum_w_g AS DOUBLE)
                 AS snips_value
        FROM agg, t"""),
      "Off-policy evaluation by inverse-propensity scoring: the value " +
        "a TARGET action policy would have earned, estimated from " +
        "logged interactions without running it — the counterfactual " +
        "replay every recommender/bandit change is judged by before " +
        "launch. Propensities are the user's exact empirical action " +
        "frequencies (integer ratios); each matched term r/p snaps to " +
        "the 1e-9 grid and cumulates as exact longs (grid ties are " +
        "provably >= 1/(2 n_ua) away), and both IPS and the self-" +
        "normalized SNIPS are IEEE divisions of identical integers. " +
        "Three partial-aggregatable shuffles, no corpus float sums.")
  ) ++ Seq(

    // ---- q258: per-group trimmed mean --------------------------------------
    "q258_trimmed_mean" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        // 10%-trimmed mean of order value per priority tier: discrete
        // decile bounds off the bounded (group, value) spine (the q252
        // machinery), then one conditional decimal-exact mean of the
        // in-range rows — outlier-robust central tendency without
        // q217's per-row clip output
        val o = Tables.orders(s, d).select(
          col("o_orderpriority").as("g"), col("o_totalprice").as("v"))
        val spine = o.filter(col("v").isNotNull)
          .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("g")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = spine
          .withColumn("cum", sum(col("c")).over(w))
          .withColumn("n", sum(col("c")).over(Window.partitionBy(col("g"))))
        def qSel(p: Double) =
          min(when(col("cum") >= greatest(lit(1L),
            ceil(lit(p) * col("n").cast("double")).cast("long")), col("v")))
        val bounds = cum.groupBy(col("g"))
          .agg(qSel(0.1).as("lo"), qSel(0.9).as("hi"))
        o.join(bounds, Seq("g"))
          .filter(col("v") >= col("lo") && col("v") <= col("hi"))
          .groupBy(col("g"))
          .agg(count(lit(1)).as("n_kept"),
            (sum(col("v").cast(DecimalType(27, 6))).cast("double") /
              count(lit(1)).cast("double")).as("trimmed_mean"))
          .orderBy(col("g"))
      },
      Some("""
        WITH o AS (
          SELECT o_orderpriority AS g, o_totalprice AS v
          FROM orders WHERE o_totalprice IS NOT NULL),
        sp AS (SELECT g, v, COUNT(*) AS c FROM o GROUP BY 1, 2),
        cw AS (
          SELECT g, v,
                 SUM(c) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(c) OVER (PARTITION BY g) AS n
          FROM sp),
        b AS (
          SELECT g,
                 MIN(CASE WHEN cum >= greatest(1, CAST(ceil(
                   CAST(0.1 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT))
                   THEN v END) AS lo,
                 MIN(CASE WHEN cum >= greatest(1, CAST(ceil(
                   CAST(0.9 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT))
                   THEN v END) AS hi
          FROM cw GROUP BY g)
        SELECT o.g, CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(SUM(CAST(o.v AS DECIMAL(27,6))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS trimmed_mean
        FROM o JOIN b ON b.g = o.g
        WHERE o.v >= b.lo AND o.v <= b.hi
        GROUP BY o.g
        ORDER BY o.g"""),
      "10%-trimmed mean per priority tier — outlier-robust central " +
        "tendency where the plain mean follows one whale order: " +
        "discrete decile bounds select off the bounded (group, value) " +
        "spine exactly (the q252 rank-rule contract), broadcast back, " +
        "and the kept rows take one decimal-exact conditional mean. " +
        "The report form of q217's winsorize (which keeps every row " +
        "and clips); no global sort anywhere."),

    // ---- q259: source freshness / staleness audit --------------------------
    "q259_freshness_audit" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d).select(col("event_type"),
          unix_timestamp(col("ts")).as("ep"))
        val per = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"), max(col("ep")).as("last_ep"))
        val ref = ev.agg(max(col("ep")).as("ref_ep"))
        per.crossJoin(ref)
          .select(col("event_type"), col("n_events"),
            col("last_ep"),
            (col("ref_ep") - col("last_ep")).as("staleness_sec"),
            (col("ref_ep") - col("last_ep") > 3600L).as("stale_over_1h"))
          .orderBy(col("event_type"))
      },
      Some(s"""
        WITH e AS (
          SELECT event_type,
                 CAST(floor(epoch($TS)) AS BIGINT) AS ep
          FROM events),
        per AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
                 MAX(ep) AS last_ep
          FROM e GROUP BY event_type),
        r AS (SELECT MAX(ep) AS ref_ep FROM e)
        SELECT per.event_type, per.n_events, per.last_ep,
               r.ref_ep - per.last_ep AS staleness_sec,
               r.ref_ep - per.last_ep > 3600 AS stale_over_1h
        FROM per, r
        ORDER BY per.event_type"""),
      "Per-stream freshness audit — the first page of every pipeline " +
        "ops dashboard: last-seen timestamp and staleness per event " +
        "stream against the corpus high-water mark (a DETERMINISTIC " +
        "reference — wall-clock 'now' would make the result " +
        "unreproducible; production substitutes the trigger time). One " +
        "partial-aggregatable pass + a scalar crossJoin; pure integer " +
        "outputs. The batch readout of what MetricsListener tracks " +
        "per-micro-batch in streams."),

    // ---- q271: Wald SPRT monitor at daily looks ----------------------------
    "q271_sprt_monitor" -> Q(
      (s, d) => Stats.sprtLooks(Tables.events(s, d),
        to_date(col("ts")).cast("string"),
        col("event_type").isin("purchase", "click", "view"),
        // H0: engagement rate p0=0.55, H1: p1=0.65 — per-trial log
        // terms and the alpha=beta=0.05 boundary ln(19), computed once
        // and embedded as 1e-9-snapped literals on BOTH engines (the
        // cross-engine transcendental stance)
        lnRatioPos = 0.167054085, lnRatioNeg = -0.251314428,
        boundary = 2.944438979),
      Some(s"""
        WITH tr AS (
          SELECT CAST(CAST($TS AS DATE) AS VARCHAR) AS look,
                 CASE WHEN event_type IN ('purchase', 'click', 'view')
                      THEN 1 ELSE 0 END AS succ
          FROM events),
        looks AS (
          SELECT look, CAST(COUNT(*) AS BIGINT) AS n_trials,
                 CAST(SUM(succ) AS BIGINT) AS n_success
          FROM tr GROUP BY 1),
        cum AS (
          SELECT look, n_trials, n_success,
                 CAST(SUM(n_trials) OVER (ORDER BY look
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_trials,
                 CAST(SUM(n_success) OVER (ORDER BY look
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_success
          FROM looks),
        st AS (
          SELECT *,
                 CAST(cum_success AS DOUBLE) * 0.167054085
                   + (CAST(cum_trials AS DOUBLE)
                      - CAST(cum_success AS DOUBLE)) * (-0.251314428)
                   AS llr_raw,
                 CASE WHEN CAST(cum_success AS DOUBLE) * 0.167054085
                        + (CAST(cum_trials AS DOUBLE)
                           - CAST(cum_success AS DOUBLE)) * (-0.251314428)
                        >= 2.944438979 THEN 'accept_h1'
                      WHEN CAST(cum_success AS DOUBLE) * 0.167054085
                        + (CAST(cum_trials AS DOUBLE)
                           - CAST(cum_success AS DOUBLE)) * (-0.251314428)
                        <= -2.944438979 THEN 'accept_h0'
                      ELSE 'continue' END AS state
          FROM cum),
        fc AS (
          SELECT *,
                 MIN(CASE WHEN state <> 'continue' THEN look END)
                   OVER () AS first_cross
          FROM st),
        fs AS (
          SELECT *,
                 MIN(CASE WHEN look = first_cross THEN state END)
                   OVER () AS cross_state
          FROM fc)
        SELECT look, n_trials, n_success, cum_trials, cum_success,
               round(llr_raw, 6) AS llr,
               CASE WHEN first_cross IS NULL OR look < first_cross
                    THEN 'continue' ELSE cross_state END AS decision
        FROM fs ORDER BY look"""),
      "Wald sequential probability ratio test of the engagement rate " +
        "read at daily looks — the always-valid monitor the fixed-" +
        "horizon tests (q161/q216) cannot be: peeking at a z-test " +
        "inflates alpha, while the SPRT's LLR may be checked after " +
        "every look with error rates still alpha/beta, and it stops " +
        "(latches) at the first boundary crossing. One conditional-" +
        "aggregation corpus pass to the bounded daily spine; the LLR " +
        "is an exact-integer-weighted sum of two embedded 1e-9 " +
        "literals, so the decision sequence itself hash-proves."),

    // ---- q272: autocorrelation function of the daily series ----------------
    "q272_acf" -> Q(
      (s, d) => Stats.acfReport(Tables.events(s, d),
        to_date(col("ts")), maxLag = 14),
      Some(s"""
        WITH sp AS (
          SELECT CAST($TS AS DATE) AS p, CAST(COUNT(*) AS BIGINT) AS x
          FROM events GROUP BY 1),
        idx AS (
          SELECT p, x,
                 CAST(row_number() OVER (ORDER BY p) AS INT) AS t
          FROM sp),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                 SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                   AS sxx
          FROM idx),
        lags AS (
          SELECT CAST(unnest(range(0, 15)) AS INT) AS lag),
        pairs AS (
          SELECT l.lag, a.x AS xa, b.x AS xb
          FROM idx a CROSS JOIN lags l
          JOIN idx b ON b.t = a.t + l.lag),
        per AS (
          SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 SUM(CAST(xa AS DECIMAL(38,0)) * CAST(xb AS DECIMAL(38,0)))
                   AS sab,
                 SUM(CAST(xa AS DECIMAL(38,0))) AS sa,
                 SUM(CAST(xb AS DECIMAL(38,0))) AS sb
          FROM pairs GROUP BY 1)
        SELECT lag, n_pairs,
               round((CAST(sab AS DOUBLE)
                 - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                   * CAST(sa AS DOUBLE)
                 - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                   * CAST(sb AS DOUBLE)
                 + CAST(n_pairs AS DOUBLE)
                   * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                 / (CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                      / CAST(n AS DOUBLE)), 6) AS acf
        FROM per, tot ORDER BY lag"""),
      "Autocorrelation of the daily event-count series at lags 0–14 — " +
        "the seasonality detector that tells the forecasters " +
        "(q241/q242) WHICH period to fit: a spike at lag 7 is the " +
        "weekly cycle. One conditional-aggregation pass to the " +
        "bounded daily spine, then 15 spine self-joins; the ACF " +
        "expands to exact-DECIMAL integer sums (Σx_t·x_{t+l}, " +
        "head/tail windows, Σx, Σx²) with the mean and ratio one " +
        "mirrored IEEE chain — no float ever accumulates across " +
        "rows."),

    // ---- q275: nearest-neighbor matched ATT (PSM shape) --------------------
    "q275_psm_att" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
        val perUser = ev.groupBy(col("user_id")).agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * lit(1e9)).cast("long")).otherwise(0L))
            .as("y9"),
          // treatment = revealed high intent: more purchases than
          // clicks (every user has every event type in the fixture, so
          // membership flags cannot split the panel)
          when(sum(when(col("event_type") === "purchase", 1L)
              .otherwise(0L)) >
            sum(when(col("event_type") === "click", 1L).otherwise(0L)),
            1L).otherwise(0L).as("treat"),
          (floor(unix_timestamp(min(col("ts"))) / lit(3600L)) % 6)
            .cast("int").as("stratum"))
        // unique total-order match axis: covariate dominates, user id
        // breaks exact-covariate ties — the q148 composite trick, so
        // both engines resolve |Δ| and ties identically
        val jt = (col("x") * lit(10000000L) + col("user_id")).as("jt")
        val t = perUser.filter(col("treat") === 1L)
          .select(col("user_id"), col("x"), col("y9"), col("stratum"), jt)
        val c = perUser.filter(col("treat") === 0L)
          .select(col("user_id").as("c_user"), col("y9").as("c_y9"),
            col("stratum").as("c_stratum"),
            (col("x") * lit(10000000L) + col("user_id")).as("c_jt"))
        val m = graft.operators.EventOps.asOfJoinNative(t, c,
          "stratum", "c_stratum", "jt", "c_jt", direction = "nearest")
        val per = m.groupBy(col("stratum")).agg(
          count(lit(1)).as("n_treated"),
          sum(when(col("c_user").isNotNull, 1L).otherwise(0L))
            .as("n_matched"),
          sum(when(col("c_user").isNotNull, col("y9") - col("c_y9"))
            .otherwise(0L)).as("d9"))
        val wAll = Window.partitionBy()
        def dd(cc: Column) = cc.cast("double")
        per
          .withColumn("att", dd(col("d9")) /
            nullif(dd(col("n_matched")), lit(0.0)) / lit(1e9))
          .withColumn("att_overall",
            dd(sum(col("d9")).over(wAll)) /
              nullif(dd(sum(col("n_matched")).over(wAll)), lit(0.0)) /
              lit(1e9))
          .select(col("stratum"), col("n_treated"), col("n_matched"),
            col("att"), col("att_overall"))
          .orderBy(col("stratum"))
      },
      Some(s"""
        WITH u AS (
          SELECT user_id,
                 CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS BIGINT) AS x,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                     THEN CAST(round(value * 1e9) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS y9,
                 CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END)
                        > SUM(CASE WHEN event_type = 'click'
                          THEN 1 ELSE 0 END)
                      THEN 1 ELSE 0 END AS treat,
                 CAST(floor(floor(epoch(MIN($TS))) / 3600) % 6 AS INT)
                   AS stratum
          FROM events GROUP BY 1),
        t AS (
          SELECT user_id, x, y9, stratum,
                 x * 10000000 + user_id AS jt
          FROM u WHERE treat = 1),
        c AS (
          SELECT user_id AS c_user, y9 AS c_y9, stratum AS c_stratum,
                 x * 10000000 + user_id AS c_jt
          FROM u WHERE treat = 0),
        m AS (
          SELECT t.stratum, t.y9, cm.c_user, cm.c_y9
          FROM t LEFT JOIN LATERAL (
            SELECT c_user, c_y9 FROM c
            WHERE c.c_stratum = t.stratum
            ORDER BY abs(c.c_jt - t.jt),
                     (CASE WHEN c.c_jt <= t.jt THEN 0 ELSE 1 END)
            LIMIT 1) cm ON true),
        per AS (
          SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_treated,
                 CAST(SUM(CASE WHEN c_user IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_matched,
                 CAST(SUM(CASE WHEN c_user IS NOT NULL THEN y9 - c_y9
                   ELSE 0 END) AS BIGINT) AS d9
          FROM m GROUP BY 1)
        SELECT stratum, n_treated, n_matched,
               CAST(d9 AS DOUBLE)
                 / nullif(CAST(n_matched AS DOUBLE), CAST('0.0' AS DOUBLE))
                 / 1e9 AS att,
               CAST(SUM(d9) OVER () AS DOUBLE)
                 / nullif(CAST(SUM(n_matched) OVER () AS DOUBLE),
                     CAST('0.0' AS DOUBLE)) / 1e9 AS att_overall
        FROM per ORDER BY stratum"""),
      "Nearest-neighbor matched ATT — the propensity-matching shape " +
        "beside q225's DiD and q226's IPW: each high-intent user " +
        "(more purchases than clicks) matches " +
        "the nearest low-intent user on the activity covariate within " +
        "a blocking stratum (1:1, with replacement), and the treated-" +
        "minus-matched purchase-value gap is the effect estimate. The " +
        "match itself runs through the NATIVE nearest as-of exec " +
        "(q148's single merge pass per stratum — matching at 100 TB " +
        "is exactly a big-big as-of join, not an O(n²) pair search); " +
        "the |Δ| axis is a unique covariate-dominant composite so " +
        "both engines resolve ties identically; per-stratum and " +
        "overall ATT are integer-grid sums with one IEEE division."),

    // ---- q277: IPF raking to uniform margins -------------------------------
    "q277_raking" -> Q(
      (s, d) => Stats.rake2(Tables.customer(s, d),
        col("c_nationkey"), col("c_mktsegment"), iters = 3),
      Some(s"""
        WITH $RakeChain
        SELECT row_key, col_key, n, round(w6, 6) AS weight,
               round(w6 * CAST(n AS DOUBLE), 6) AS fitted
        FROM c3 ORDER BY row_key, col_key"""),
      "Iterative proportional fitting (raking) of the nation × " +
        "segment grid to uniform target margins — the survey-" +
        "weighting / corpus-rebalancing primitive: three row/column " +
        "scaling rounds leave weighted counts matching the row " +
        "targets exactly and the column targets to IPF's geometric " +
        "rate, reweighting a skewed corpus to a target mix without " +
        "resampling a row. One corpus aggregation to the bounded " +
        "grid, then six window passes over the CELLS; every margin " +
        "sum snaps w·n to the 1e-9 grid and sums as exact DECIMALs, " +
        "so the whole iteration is a mirrored IEEE chain and the " +
        "final weights hash-prove."),

    // ---- q282: Bradley-Terry preference strengths ---------------------------
    "q282_bradley_terry" -> Q(
      (s, d) => {
        val cnt = Tables.events(s, d)
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("c"))
        val a = cnt.select(col("user_id"), col("event_type").as("i"),
          col("c").as("ca"))
        val b = cnt.select(col("user_id").as("u2"),
          col("event_type").as("j"), col("c").as("cb"))
        val wins = a.join(b,
            col("user_id") === col("u2") && col("i") =!= col("j") &&
              col("ca") > col("cb"))
          .groupBy(col("i"), col("j")).agg(count(lit(1)).as("n"))
        graft.operators.Stats.bradleyTerry(wins, "i", "j", "n", iters = 8)
      },
      Some {
        // every CTE that is referenced more than once is MATERIALIZED:
        // DuckDB otherwise INLINES each reference, which rescans the
        // whole chain per use — across 8 unrolled MM rounds that is
        // exponential re-reading of events.parquet (observed as a
        // "too many open files" blow-up at sf0.01)
        val iterCtes = (1 to 8).map { r =>
          val prev = if (r == 1) "p0" else s"p${r - 1}"
          s"""u$r AS (
          SELECT m.i, CAST(SUM(CAST(round(CAST(m_ij AS DOUBLE)
                 / (pi.p + pj.p), 12) AS DECIMAL(28,12))) AS DOUBLE) AS den
          FROM m JOIN $prev pi ON m.i = pi.item
                 JOIN $prev pj ON m.j = pj.item
          GROUP BY 1
        ), r$r AS MATERIALIZED (
          SELECT pi.item, pi.w_tot,
                 CASE WHEN pi.w_tot > 0
                      THEN CAST(pi.w_tot AS DOUBLE) / u.den
                      ELSE 0.0 END AS p_raw
          FROM $prev pi JOIN u$r u ON pi.item = u.i
        ), t$r AS (
          SELECT CAST(SUM(CAST(round(p_raw, 12) AS DECIMAL(28,12)))
            AS DOUBLE) AS t FROM r$r
        ), p$r AS MATERIALIZED (
          SELECT item, w_tot, p_raw / t AS p FROM r$r CROSS JOIN t$r)"""
        }.mkString(", ")
        s"""
        WITH cnt AS MATERIALIZED (
          SELECT user_id, event_type, COUNT(*) AS c
          FROM events GROUP BY 1, 2
        ), w AS MATERIALIZED (
          SELECT a.event_type AS i, b.event_type AS j,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM cnt a JOIN cnt b
            ON a.user_id = b.user_id AND a.event_type <> b.event_type
          WHERE a.c > b.c GROUP BY 1, 2
        ), both_dir AS (
          SELECT i, j, n AS win FROM w
          UNION ALL SELECT j AS i, i AS j, 0 AS win FROM w
        ), pairs AS MATERIALIZED (
          SELECT i, j, CAST(SUM(win) AS BIGINT) AS w_ij
          FROM both_dir GROUP BY 1, 2
        ), m AS MATERIALIZED (
          SELECT p1.i, p1.j, p1.w_ij, p1.w_ij + p2.w_ij AS m_ij
          FROM pairs p1 JOIN pairs p2 ON p1.i = p2.j AND p1.j = p2.i
          WHERE p1.w_ij + p2.w_ij > 0
        ), iw AS (
          SELECT i, CAST(SUM(w_ij) AS BIGINT) AS w_tot FROM m GROUP BY i
        ), kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM iw),
        p0 AS MATERIALIZED (
          SELECT i AS item, w_tot, 1.0 / CAST(k AS DOUBLE) AS p
          FROM iw CROSS JOIN kk
        ), $iterCtes
        SELECT item, round(p, 6) AS strength,
               CAST(ROW_NUMBER() OVER (ORDER BY p DESC, item) AS INT)
                 AS rank
        FROM p8 ORDER BY rank"""
      },
      "Bradley-Terry preference strengths via 8 MM rounds — the " +
        "preference-aggregation primitive under RLHF preference data " +
        "and ranker eval: P(i beats j) = p_i/(p_i+p_j) fit to a " +
        "pairwise-wins grid (here: per-user engagement duels — i " +
        "beats j for a user when the user fired i more often). The " +
        "corpus-sized work is ONE per-user count aggregation; the " +
        "duel derivation and every MM round are joins over the " +
        "|types|² grid. Output is DEFINED as the exact 8-round " +
        "iterate; denominator/normalizer addends snap to the 1e-12 " +
        "grid and sum as exact DECIMALs, the oracle unrolls the same " +
        "rounds as generated CTEs."),

    // ---- q283: sharp regression-discontinuity estimate ---------------------
    "q283_rdd" -> Q(
      (s, d) => {
        val spend = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(Tables.moneySum(col("o_totalprice")).as("y"))
        val base = Tables.customer(s, d)
          .join(spend, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_acctbal"), coalesce(col("y"), lit(0.0)).as("y"))
        graft.operators.Stats.rddEstimate(base, col("c_acctbal"),
          col("y"), cutoff = 0.0, bandwidth = 2000.0)
      },
      Some(s"""
        WITH spend AS (
          SELECT o_custkey, ${Tables.sqlMoneySum("o_totalprice")} AS y
          FROM orders GROUP BY o_custkey
        ), base AS (
          SELECT c_acctbal AS x0, COALESCE(y, 0.0) AS y
          FROM customer LEFT JOIN spend ON c_custkey = o_custkey
        ), cen AS (
          SELECT x0 - 0.0 AS x, y, (x0 - 0.0) >= 0 AS r
          FROM base WHERE abs(x0 - 0.0) < 2000.0
        ), mom AS (
          SELECT
            SUM(CASE WHEN NOT r THEN 1 ELSE 0 END) AS n_l,
            SUM(CASE WHEN NOT r THEN CAST(x AS DECIMAL(38,6)) END) AS sx_l,
            SUM(CASE WHEN NOT r THEN CAST(y AS DECIMAL(38,6)) END) AS sy_l,
            SUM(CASE WHEN NOT r THEN CAST(x * x AS DECIMAL(38,6)) END) AS sxx_l,
            SUM(CASE WHEN NOT r THEN CAST(x * y AS DECIMAL(38,6)) END) AS sxy_l,
            SUM(CASE WHEN r THEN 1 ELSE 0 END) AS n_r,
            SUM(CASE WHEN r THEN CAST(x AS DECIMAL(38,6)) END) AS sx_r,
            SUM(CASE WHEN r THEN CAST(y AS DECIMAL(38,6)) END) AS sy_r,
            SUM(CASE WHEN r THEN CAST(x * x AS DECIMAL(38,6)) END) AS sxx_r,
            SUM(CASE WHEN r THEN CAST(x * y AS DECIMAL(38,6)) END) AS sxy_r
          FROM cen
        ), fit AS (
          SELECT CAST(n_l AS BIGINT) AS n_left, CAST(n_r AS BIGINT) AS n_right,
            (CAST(n_l AS DOUBLE) * CAST(sxy_l AS DOUBLE)
              - CAST(sx_l AS DOUBLE) * CAST(sy_l AS DOUBLE))
            / (CAST(n_l AS DOUBLE) * CAST(sxx_l AS DOUBLE)
              - CAST(sx_l AS DOUBLE) * CAST(sx_l AS DOUBLE)) AS bl,
            (CAST(n_r AS DOUBLE) * CAST(sxy_r AS DOUBLE)
              - CAST(sx_r AS DOUBLE) * CAST(sy_r AS DOUBLE))
            / (CAST(n_r AS DOUBLE) * CAST(sxx_r AS DOUBLE)
              - CAST(sx_r AS DOUBLE) * CAST(sx_r AS DOUBLE)) AS br,
            CAST(sx_l AS DOUBLE) AS sxl, CAST(sy_l AS DOUBLE) AS syl,
            CAST(sx_r AS DOUBLE) AS sxr, CAST(sy_r AS DOUBLE) AS syr
          FROM mom
        ), ab AS (
          SELECT n_left, n_right, bl, br,
                 (syl - bl * sxl) / CAST(n_left AS DOUBLE) AS al,
                 (syr - br * sxr) / CAST(n_right AS DOUBLE) AS ar
          FROM fit)
        SELECT n_left, n_right,
               round(bl, 6) AS slope_left, round(br, 6) AS slope_right,
               round(al, 6) AS y0_left, round(ar, 6) AS y0_right,
               round(ar - al, 6) AS rd_effect
        FROM ab"""),
      "Sharp regression discontinuity at the zero-balance cutoff — " +
        "the quasi-experimental estimate when treatment flips " +
        "deterministically at a threshold (completes the causal " +
        "battery: q225 DiD needs a pre-period, q226 IPW needs " +
        "overlap, q275 PSM needs ignorability; RD needs only the " +
        "threshold rule + continuity): local linear fits on each " +
        "side within the bandwidth, jump of the fitted values AT the " +
        "cutoff. One conditional-aggregate pass to ten exact " +
        "DECIMAL(38,6) moments (money-grid inputs make every product " +
        "exact); slopes/intercepts are the closed-form IEEE " +
        "expressions of those moments, x centered so each intercept " +
        "IS the value at the cutoff."),

    // ---- q284: Wald instrumental-variable estimate --------------------------
    "q284_iv_wald" -> Q(
      (s, d) => {
        val perUser = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("clicks"),
            (sum(when(col("event_type") === "purchase",
              round(col("value") * lit(1e9)).cast("long")).otherwise(0L))
              .cast("double") / lit(1e9)).as("y"))
          .select((col("user_id") % 2).as("z"),
            (col("clicks") > 13).cast("int").as("x"), col("y"))
        graft.operators.Stats.ivWald(perUser, col("z"), col("x"), col("y"))
      },
      Some("""
        WITH pu AS (
          SELECT user_id % 2 AS z,
            CASE WHEN SUM(CASE WHEN event_type = 'click'
                   THEN 1 ELSE 0 END) > 13 THEN 1 ELSE 0 END AS x,
            CAST(SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(round(value * 1e9) AS BIGINT)
                   ELSE 0 END) AS DOUBLE) / 1e9 AS y
          FROM events GROUP BY user_id
        ), mom AS (
          SELECT
            CAST(SUM(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_z0,
            CAST(SUM(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_z1,
            SUM(CASE WHEN z = 0 THEN CAST(x AS BIGINT) ELSE 0 END) AS sx0,
            SUM(CASE WHEN z = 1 THEN CAST(x AS BIGINT) ELSE 0 END) AS sx1,
            SUM(CASE WHEN z = 0 THEN CAST(y AS DECIMAL(38,9)) END) AS sy0,
            SUM(CASE WHEN z = 1 THEN CAST(y AS DECIMAL(38,9)) END) AS sy1
          FROM pu
        ), est AS (
          SELECT n_z0, n_z1,
                 CAST(sx0 AS DOUBLE) / CAST(n_z0 AS DOUBLE) AS x0,
                 CAST(sx1 AS DOUBLE) / CAST(n_z1 AS DOUBLE) AS x1,
                 CAST(sy0 AS DOUBLE) / CAST(n_z0 AS DOUBLE) AS y0,
                 CAST(sy1 AS DOUBLE) / CAST(n_z1 AS DOUBLE) AS y1
          FROM mom)
        SELECT n_z0, n_z1,
               round(x0, 6) AS mean_x_z0, round(x1, 6) AS mean_x_z1,
               round(y0, 6) AS mean_y_z0, round(y1, 6) AS mean_y_z1,
               round(x1 - x0, 6) AS first_stage,
               round(y1 - y0, 6) AS itt,
               round((y1 - y0) / (x1 - x0), 6) AS beta_iv
        FROM est"""),
      "Wald instrumental-variable estimate with a binary instrument " +
        "— the causal effect of a self-selected treatment when an " +
        "as-if-random encouragement exists (holdouts, staggered " +
        "invites, hash-based exposure): the intent-to-treat outcome " +
        "gap rescaled by the first-stage compliance gap = exactly " +
        "2SLS for one binary instrument. First stage and ITT are " +
        "reported alongside β so a weak instrument is visible rather " +
        "than silently exploding. One per-user pass + one " +
        "conditional-aggregate pass; outcome sums are exact " +
        "DECIMAL(38,9) over the 1e-9 value grid."),

    // ---- q285: Friedman rank test (repeated measures) -----------------------
    "q285_friedman" -> Q(
      (s, d) => Stats.friedmanTest(Tables.events(s, d),
        col("user_id"), col("event_type"), col("value")),
      Some("""
        WITH cell AS (
          SELECT user_id AS blk, event_type AS trt,
                 CAST(SUM(CAST(round(value * 1e9) AS BIGINT)) AS DOUBLE)
                   / 1e9 / CAST(COUNT(*) AS DOUBLE) AS y
          FROM events
          WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            AND value IS NOT NULL
          GROUP BY 1, 2),
        kk AS (SELECT COUNT(DISTINCT trt) AS k FROM cell),
        complete AS (
          SELECT * FROM (
            SELECT cell.*, k,
                   COUNT(*) OVER (PARTITION BY blk) AS kb
            FROM cell CROSS JOIN kk)
          WHERE kb = k),
        ranked AS (
          SELECT trt, k,
                 CAST(RANK() OVER (PARTITION BY blk ORDER BY y) AS DOUBLE)
                   + CAST(COUNT(*) OVER (PARTITION BY blk, y) - 1 AS DOUBLE)
                     / 2.0 AS r
          FROM complete),
        pt AS (
          SELECT trt, MAX(k) AS k, COUNT(*) AS n,
                 CAST(SUM(CAST(CAST(round(r * 1e9) AS BIGINT)
                   AS DECIMAL(38,0))) AS DOUBLE) / 1e9 AS rj,
                 CAST(SUM(CAST(CAST(round(r * r * 1e9) AS BIGINT)
                   AS DECIMAL(38,0))) AS DOUBLE) / 1e9 AS sr2
          FROM ranked GROUP BY trt),
        agg AS (
          SELECT CAST(MAX(n) AS BIGINT) AS n_blocks,
                 CAST(MAX(k) AS BIGINT) AS k,
                 SUM(CAST(CAST(round(
                   (rj - CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1) / 2.0)
                   * (rj - CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1) / 2.0)
                   * 1e9) AS BIGINT) AS DECIMAL(38,0))) AS num9,
                 SUM(CAST(CAST(round(sr2 * 1e9) AS BIGINT)
                   AS DECIMAL(38,0))) AS sr29
          FROM pt)
        SELECT n_blocks, k,
               round((CAST(k AS DOUBLE) - 1)
                 * (CAST(num9 AS DOUBLE) / 1e9)
                 / ((CAST(sr29 AS DOUBLE) / 1e9)
                    - CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
                      * (CAST(k AS DOUBLE) + 1) * (CAST(k AS DOUBLE) + 1)
                      / 4.0), 6) AS chi2_f
        FROM agg"""),
      "Friedman rank test across the event-type panel with users as " +
        "blocks — the repeated-measures sibling of q231's Kruskal-" +
        "Wallis (KW assumes independent groups; Friedman ranks WITHIN " +
        "each user, cancelling user-level spending shifts). Tie-" +
        "corrected form over within-block average ranks (exact " +
        "multiples of 0.5); only complete blocks enter. One " +
        "aggregation to the (user × type) relation, per-BLOCK ranking " +
        "windows (k rows each — never a global sort), every rank sum " +
        "snapped to the 1e-9 grid into exact DECIMALs."),

    // ---- q286: Cochran's Q (related binary treatments) ----------------------
    "q286_cochran_q" -> Q(
      (s, d) => Stats.cochranQ(Tables.events(s, d),
        col("user_id"), col("event_type"), col("value") > 200.0),
      Some("""
        WITH cell AS (
          SELECT user_id AS blk, event_type AS trt,
                 MAX(CASE WHEN value > 200.0 THEN 1 ELSE 0 END) AS x
          FROM events
          WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          GROUP BY 1, 2),
        kk AS (SELECT COUNT(DISTINCT trt) AS k FROM cell),
        complete AS MATERIALIZED (
          SELECT * FROM (
            SELECT cell.*, k,
                   COUNT(*) OVER (PARTITION BY blk) AS kb
            FROM cell CROSS JOIN kk)
          WHERE kb = k),
        pb AS (SELECT blk, CAST(SUM(x) AS BIGINT) AS ri
               FROM complete GROUP BY blk),
        pba AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
                 SUM(CAST(ri AS DECIMAL(38,0))) AS sum_r,
                 SUM(CAST(ri AS DECIMAL(38,0)) * CAST(ri AS DECIMAL(38,0)))
                   AS sum_r2
          FROM pb),
        pt AS (SELECT trt, CAST(SUM(x) AS BIGINT) AS cj
               FROM complete GROUP BY trt),
        pta AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS k,
                 SUM(CAST(cj AS DECIMAL(38,0))) AS nn,
                 SUM(CAST(cj AS DECIMAL(38,0)) * CAST(cj AS DECIMAL(38,0)))
                   AS sum_c2
          FROM pt)
        SELECT n_blocks, k,
               CASE WHEN CAST(k AS DOUBLE) * CAST(sum_r AS DOUBLE)
                         - CAST(sum_r2 AS DOUBLE) <> 0.0
               THEN round((CAST(k AS DOUBLE) - 1)
                 * (CAST(k AS DOUBLE) * CAST(sum_c2 AS DOUBLE)
                    - CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
                 / (CAST(k AS DOUBLE) * CAST(sum_r AS DOUBLE)
                    - CAST(sum_r2 AS DOUBLE)), 6) END AS q_stat
        FROM pba CROSS JOIN pta"""),
      "Cochran's Q across the event-type panel — q285's 0/1 special " +
        "case: 'do the k variants differ in high-value-event RATE, " +
        "given every user saw all k?'. Every component (block/column " +
        "success totals and their squares) is an exact integer " +
        "accumulated as DECIMAL, so the statistic is a single IEEE " +
        "expression with no float grid at all. One aggregation to the " +
        "(user × type) panel; complete blocks only."),

    // ---- q288: Kish effective sample size of the raked weights --------------
    "q288_design_effect" -> Q(
      (s, d) => Stats.kishReport(
        Stats.rake2(Tables.customer(s, d),
          col("c_nationkey"), col("c_mktsegment"), iters = 3),
        col("weight"), col("n")),
      Some(s"""
        WITH $RakeChain,
        rw AS (
          SELECT n, round(w6, 6) AS weight FROM c3),
        agg AS (
          SELECT CAST(SUM(CAST(n AS BIGINT)) AS BIGINT) AS n_rows,
                 SUM(CAST(n AS DECIMAL(38,0))
                   * CAST(CAST(round(weight * 1e6) AS BIGINT)
                       AS DECIMAL(38,0))) AS sw6,
                 SUM(CAST(n AS DECIMAL(38,0))
                   * CAST(CAST(round(weight * 1e6) AS BIGINT)
                       AS DECIMAL(38,0))
                   * CAST(CAST(round(weight * 1e6) AS BIGINT)
                       AS DECIMAL(38,0))) AS sww12
          FROM rw WHERE weight IS NOT NULL)
        SELECT n_rows,
               round(CAST(sw6 AS DOUBLE) / 1e6, 6) AS sum_w,
               round((CAST(sw6 AS DOUBLE) / 1e6) * (CAST(sw6 AS DOUBLE) / 1e6)
                 / (CAST(sww12 AS DOUBLE) / 1e12), 6) AS n_eff,
               round(CAST(n_rows AS DOUBLE) * (CAST(sww12 AS DOUBLE) / 1e12)
                 / ((CAST(sw6 AS DOUBLE) / 1e6)
                    * (CAST(sw6 AS DOUBLE) / 1e6)), 6) AS deff
        FROM agg"""),
      "Kish effective sample size + design effect of the q277 raked " +
        "weights — what the reweighting COST in statistical power: " +
        "n_eff = (Σw)²/Σw², deff = n/n_eff ≥ 1. Rides the raked GRID " +
        "(weight, multiplicity) — Σw folds as Σ n·w — so the whole " +
        "readout is grid-sized after q277's one corpus aggregation; " +
        "weights snap to the 1e-6 grid and every sum is an exact " +
        "DECIMAL. The standard survey-sampling companion every " +
        "corpus-rebalancing pass should publish next to its weights."),

    // ---- q291: Gumbel extreme-value tail fit --------------------------------
    "q291_gumbel_tail" -> Q(
      (s, d) => Stats.gumbelTail(Tables.orders(s, d),
        col("o_totalprice"), threshold = 450000.0),
      Some("""
        WITH mom AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS sv,
                 SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,6)))
                   AS svv
          FROM orders WHERE o_totalprice IS NOT NULL
        ), fit AS (
          SELECT n,
                 CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS m,
                 sqrt((CAST(svv AS DOUBLE)
                   - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                     / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) AS s
          FROM mom
        ), gum AS (
          SELECT n, m, s,
                 s * sqrt(6.0) / 3.141592653589793 AS beta
          FROM fit
        ), g2 AS (
          SELECT n, m, s, beta,
                 m - 0.5772156649015329 * beta AS mu
          FROM gum)
        SELECT n, round(m, 6) AS mean, round(s, 6) AS sd,
               round(mu, 6) AS mu, round(beta, 6) AS beta,
               round(1.0 - exp(-exp(-((450000.0 - mu) / beta))), 6)
                 AS p_exceed
        FROM g2"""),
      "Gumbel (type-I extreme value) tail fit of the order-value " +
        "distribution by the method of moments — the capacity-" +
        "planning readout ('what is the chance a value exceeds t?') " +
        "for maxima-shaped columns where a normal tail badly " +
        "understates risk. Closed form — β = s·√6/π, μ = m − γβ — so " +
        "the whole fit is ONE conditional-aggregate pass over exact " +
        "DECIMAL(38,6) moments; √ is IEEE-correctly-rounded, γ/π are " +
        "identical 17-digit literals in both engines, exp's last-ulp " +
        "wiggle dies in the final round."),

    // ---- q296: empirical-Bayes shrinkage of per-source rates ----------------
    "q296_eb_rates" -> Q(
      (s, d) => Stats.ebShrinkRates(Tables.documents(s, d),
        col("source"), col("n_chars") > 306L),
      Some("""
        WITH per AS MATERIALIZED (
          SELECT CAST(source AS VARCHAR) AS grp,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN n_chars > 306 THEN 1 ELSE 0 END)
                   AS BIGINT) AS s
          FROM documents WHERE source IS NOT NULL GROUP BY 1
        ), tot AS (
          SELECT CAST(SUM(n) AS BIGINT) AS tn,
                 CAST(SUM(s) AS BIGINT) AS ts
          FROM per
        ), vp AS (
          SELECT MAX(m) AS m, MAX(tn) AS tn,
                 CAST(SUM(CAST(g AS DECIMAL(38,0))) AS DOUBLE) / 1e9
                   / CAST(MAX(tn) AS DOUBLE) AS var_p
          FROM (
            SELECT t.tn, CAST(t.ts AS DOUBLE) / CAST(t.tn AS DOUBLE) AS m,
                   CAST(round(CAST(p.n AS DOUBLE)
                     * (CAST(p.s AS DOUBLE) / CAST(p.n AS DOUBLE)
                        - CAST(t.ts AS DOUBLE) / CAST(t.tn AS DOUBLE))
                     * (CAST(p.s AS DOUBLE) / CAST(p.n AS DOUBLE)
                        - CAST(t.ts AS DOUBLE) / CAST(t.tn AS DOUBLE))
                     * 1e9) AS BIGINT) AS g
            FROM per p CROSS JOIN tot t)
        ), pri AS (
          SELECT m,
                 CASE WHEN var_p > 0
                      THEN greatest(0.0, m * (1.0 - m) / var_p - 1)
                      ELSE 0.0 END AS mm
          FROM vp)
        SELECT grp AS group_key, n, s AS successes,
               round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_rate,
               round((CAST(s AS DOUBLE) + mm * m)
                 / (CAST(n AS DOUBLE) + mm), 6) AS shrunk_rate,
               round(m, 6) AS prior_m,
               round(mm, 6) AS prior_strength
        FROM per CROSS JOIN pri
        ORDER BY group_key"""),
      "Empirical-Bayes (beta-binomial, method-of-moments) shrinkage " +
        "of per-source long-document rates — the estimator a curation " +
        "pipeline should publish instead of raw per-source quality " +
        "rates: sparse sources' noisy rates pull toward the corpus " +
        "mean in proportion to their evidence, with prior strength " +
        "M = m(1−m)/var_p − 1 matched to the observed between-source " +
        "spread (clamped to 0 when spread is at/under binomial " +
        "noise). One aggregation to the per-source (n, s) relation; " +
        "the variance pass is grid-sized with 1e-9-snapped DECIMAL " +
        "sums; everything else is IEEE over exact integers."),

    // ---- q297: walk-forward CV splits with embargo ---------------------------
    "q297_walkforward_cv" -> Q(
      (s, d) => Stats.walkForwardSplits(
        Tables.events(s, d).withColumn("ep", unix_timestamp(col("ts"))),
        col("user_id"), col("ep"), epoch0 = 1704067200L,
        trainDays0 = 8, stepDays = 7, embargoDays = 1, testDays = 3,
        folds = 3),
      Some {
        val spineRows = (0 until 3).flatMap { f =>
          val trEnd = 8 + f * 7
          val teStart = trEnd + 1
          Seq(s"($f, 'train', 0, $trEnd)",
            s"($f, 'test', $teStart, ${teStart + 3})")
        }.mkString(", ")
        s"""
        WITH spine(fold, split, day_start, day_end) AS (
          VALUES $spineRows
        ), days AS (
          SELECT user_id AS u,
                 CAST(floor(CAST(ep - 1704067200 AS DOUBLE) / 86400.0)
                   AS BIGINT) AS day
          FROM (SELECT user_id,
                       CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                         AS ep
                FROM events)
          WHERE user_id IS NOT NULL AND ep IS NOT NULL)
        SELECT CAST(fold AS INT) AS fold, split,
               CAST(day_start AS BIGINT) AS day_start,
               CAST(day_end AS BIGINT) AS day_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users
        FROM days JOIN spine
          ON day >= day_start AND day < day_end
        GROUP BY 1, 2, 3, 4
        ORDER BY fold, split"""
      },
      "Walk-forward cross-validation manifest with a 1-day embargo — " +
        "the leakage-safe eval harness for temporal data (random " +
        "k-fold leaks future into past; the embargo absorbs boundary " +
        "lookahead — the purged-CV rule): three expanding train " +
        "windows each followed by a gap and a 3-day test window, " +
        "reported as the per-(fold, split) day ranges with event and " +
        "user counts. The folds spine is a 6-row broadcast literal; " +
        "membership is a conditional projection — no global sort, " +
        "one counting aggregate."),

    // ---- q300: Cohen's d / Hedges' g effect size -----------------------------
    "q300_cohens_d" -> Q(
      (s, d) => Stats.cohensD(Tables.orders(s, d),
        col("o_totalprice"), col("o_orderpriority").isin(urgent: _*)),
      Some("""
        WITH s AS (
          SELECT CAST(round(o_totalprice * 1e9) AS BIGINT) AS g,
                 o_orderpriority IN ('1-URGENT', '2-HIGH') AS ina
          FROM orders
          WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
        ), mom AS (
          SELECT
            CAST(SUM(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN ina THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
            SUM(CASE WHEN ina THEN CAST(g AS DECIMAL(38,0))
                ELSE CAST(0 AS DECIMAL(38,0)) END) AS sa,
            SUM(CASE WHEN NOT ina THEN CAST(g AS DECIMAL(38,0))
                ELSE CAST(0 AS DECIMAL(38,0)) END) AS sb,
            SUM(CASE WHEN ina THEN CAST(g AS DECIMAL(38,0))
                * CAST(g AS DECIMAL(38,0))
                ELSE CAST(0 AS DECIMAL(38,0)) END) AS saa,
            SUM(CASE WHEN NOT ina THEN CAST(g AS DECIMAL(38,0))
                * CAST(g AS DECIMAL(38,0))
                ELSE CAST(0 AS DECIMAL(38,0)) END) AS sbb
          FROM s
        ), est AS (
          SELECT n_a, n_b,
                 CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
                 CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
                 (CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE)
                   * CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE))
                   / (CAST(n_a AS DOUBLE) - 1) AS va,
                 (CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE)
                   * CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
                   / (CAST(n_b AS DOUBLE) - 1) AS vb
          FROM mom
        ), fin AS (
          SELECT n_a, n_b, ma, mb,
                 sqrt(((CAST(n_a AS DOUBLE) - 1) * va
                   + (CAST(n_b AS DOUBLE) - 1) * vb)
                   / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2)) AS sp
          FROM est)
        SELECT n_a, n_b,
               round(ma / 1e9, 6) AS mean_a,
               round(mb / 1e9, 6) AS mean_b,
               round(sp / 1e9, 6) AS sd_pooled,
               round((ma - mb) / sp, 6) AS cohens_d,
               round((ma - mb) / sp * (1.0 - 3.0
                 / (4.0 * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                    - 9.0)), 6) AS hedges_g
        FROM fin"""),
      "Cohen's d / Hedges' g for the urgent-vs-rest order-value gap — " +
        "the practical-significance companion to q216's Welch t (at " +
        "corpus scale the t-test flags everything; d says whether the " +
        "gap MATTERS, in pooled-SD units, comparable across metrics). " +
        "One conditional-aggregate pass over 1e-9-grid exact DECIMAL " +
        "moments; d and g are scale-invariant so the grid factor " +
        "cancels in the IEEE chain."),

    // ---- q301: odds ratio with 95% Wald CI -----------------------------------
    "q301_odds_ratio" -> Q(
      (s, d) => {
        val perUser = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(sum(when(col("event_type") === "purchase",
            round(col("value") * lit(1e9)).cast("long")).otherwise(0L))
            .as("spend9"))
          .select((col("user_id") % 2 === 1).as("exposed"),
            (col("spend9") > lit(650000000000L)).as("converted"))
        Stats.oddsRatioReport(perUser, col("exposed"), col("converted"))
      },
      Some("""
        WITH pu AS (
          SELECT user_id % 2 = 1 AS exposed,
                 SUM(CASE WHEN event_type = 'purchase'
                     THEN CAST(round(value * 1e9) AS BIGINT)
                     ELSE 0 END) > 650000000000 AS converted
          FROM events GROUP BY user_id
        ), mom AS (
          SELECT
            CAST(SUM(CASE WHEN exposed AND converted THEN 1 ELSE 0 END)
              AS BIGINT) AS n_11,
            CAST(SUM(CASE WHEN exposed AND NOT converted THEN 1 ELSE 0 END)
              AS BIGINT) AS n_10,
            CAST(SUM(CASE WHEN NOT exposed AND converted THEN 1 ELSE 0 END)
              AS BIGINT) AS n_01,
            CAST(SUM(CASE WHEN NOT exposed AND NOT converted THEN 1 ELSE 0
              END) AS BIGINT) AS n_00
          FROM pu
        ), est AS (
          SELECT n_11, n_10, n_01, n_00,
                 n_11 > 0 AND n_10 > 0 AND n_01 > 0 AND n_00 > 0 AS ok,
                 CAST(n_11 AS DOUBLE) * CAST(n_00 AS DOUBLE)
                   / (CAST(n_10 AS DOUBLE) * CAST(n_01 AS DOUBLE)) AS orr,
                 sqrt(1.0 / CAST(n_11 AS DOUBLE) + 1.0 / CAST(n_10 AS DOUBLE)
                   + 1.0 / CAST(n_01 AS DOUBLE) + 1.0 / CAST(n_00 AS DOUBLE))
                   AS se
          FROM mom)
        SELECT n_11, n_10, n_01, n_00,
               CASE WHEN ok THEN round(orr, 6) END AS odds_ratio,
               CASE WHEN ok THEN round(ln(orr), 6) END AS ln_or,
               CASE WHEN ok THEN round(se, 6) END AS se,
               CASE WHEN ok THEN round(exp(ln(orr) - 1.96 * se), 6) END
                 AS ci_lo,
               CASE WHEN ok THEN round(exp(ln(orr) + 1.96 * se), 6) END
                 AS ci_hi
        FROM est"""),
      "Odds ratio of the (user-parity exposure) × (high-spend " +
        "conversion) 2×2 with its 95% Wald CI — the epidemiology-" +
        "standard binary-outcome A/B readout next to q161's z-test " +
        "and q284's continuous-outcome IV: one per-user pass, one " +
        "conditional aggregate to four exact integers, IEEE " +
        "estimates; empty cells report null rather than an infinity."),

    // ---- q290: chi-square effect-size panel ---------------------------------
    "q290_chi2_effects" -> Q(
      (s, d) => Stats.chiSquareEffects(Tables.orders(s, d),
        col("o_orderpriority"), col("o_orderstatus")),
      Some("""
        WITH cells0 AS MATERIALIZED (
          SELECT o_orderpriority AS ca, o_orderstatus AS cb,
                 CAST(COUNT(*) AS BIGINT) AS o
          FROM orders
          WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
          GROUP BY 1, 2),
        cells AS (
          SELECT la.ca, lb.cb, COALESCE(o, CAST(0 AS BIGINT)) AS o
          FROM (SELECT DISTINCT ca FROM cells0) la
          CROSS JOIN (SELECT DISTINCT cb FROM cells0) lb
          LEFT JOIN cells0 USING (ca, cb)),
        m AS (
          SELECT ca, cb, o,
                 SUM(o) OVER (PARTITION BY ca) AS rm,
                 SUM(o) OVER (PARTITION BY cb) AS cm,
                 SUM(o) OVER () AS n
          FROM cells),
        g AS (
          SELECT ca, cb, o, n,
                 CAST(round(
                   (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
                     * 1e9) AS BIGINT) AS gr
          FROM (SELECT *,
                  CAST(rm * cm AS DOUBLE) / CAST(n AS DOUBLE) AS e
                FROM m)),
        rep AS (
          SELECT CAST(MAX(n) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT ca) AS BIGINT) AS levels_a,
                 CAST(COUNT(DISTINCT cb) AS BIGINT) AS levels_b,
                 CAST((COUNT(DISTINCT ca) - 1) * (COUNT(DISTINCT cb) - 1)
                   AS BIGINT) AS dof,
                 CAST(SUM(gr) AS DOUBLE) / 1e9 AS chi2
          FROM g)
        SELECT n, levels_a, levels_b, dof, chi2,
               round(sqrt(chi2 / CAST(n AS DOUBLE)), 6) AS phi,
               round(sqrt(chi2 / (CAST(n AS DOUBLE)
                 * CAST(least(levels_a, levels_b) - 1 AS DOUBLE))), 6)
                 AS cramers_v,
               round(sqrt(chi2 / (chi2 + CAST(n AS DOUBLE))), 6)
                 AS contingency_c
        FROM rep"""),
      "Effect-size panel over the priority × status contingency " +
        "table — significance (q214) says 'not chance', this says " +
        "'how BIG': Cramér's V (bounded [0,1], comparable across " +
        "table shapes), phi, and Pearson's contingency coefficient, " +
        "all pure IEEE functions of the chi-square report's one row — " +
        "zero extra corpus work beyond the q214-class cell " +
        "aggregation. The practical-significance gate a drift alert " +
        "should carry at 100 TB, where chi-square flags everything.")
  )

  private val W = "string_split(text, ' ')"
  private val TS = "CAST(ts AS TIMESTAMP)"

  /** The q277 IPF chain (cells → … → c3), shared with q288's Kish
    * readout so both oracles rake identically. */
  private val RakeChain = """cells AS (
          SELECT CAST(c_nationkey AS VARCHAR) AS row_key,
                 c_mktsegment AS col_key,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM customer
          WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
          GROUP BY 1, 2),
        tots AS (
          SELECT CAST(SUM(n) AS BIGINT) AS tot,
                 CAST(COUNT(DISTINCT row_key) AS BIGINT) AS n_rows,
                 CAST(COUNT(DISTINCT col_key) AS BIGINT) AS n_cols
          FROM cells),
        i0 AS (
          SELECT c.*, t.tot, t.n_rows, t.n_cols, CAST(1 AS DOUBLE) AS w
          FROM cells c CROSS JOIN tots t),
        r1 AS (
          SELECT *, w * ((CAST(tot AS DOUBLE) / CAST(n_rows AS DOUBLE))
            / (CAST(SUM(CAST(round(w * CAST(n AS DOUBLE) * 1e9) AS BIGINT))
                 OVER (PARTITION BY row_key) AS DOUBLE) / 1e9)) AS w1
          FROM i0),
        c1 AS (
          SELECT *, w1 * ((CAST(tot AS DOUBLE) / CAST(n_cols AS DOUBLE))
            / (CAST(SUM(CAST(round(w1 * CAST(n AS DOUBLE) * 1e9) AS BIGINT))
                 OVER (PARTITION BY col_key) AS DOUBLE) / 1e9)) AS w2
          FROM r1),
        r2 AS (
          SELECT *, w2 * ((CAST(tot AS DOUBLE) / CAST(n_rows AS DOUBLE))
            / (CAST(SUM(CAST(round(w2 * CAST(n AS DOUBLE) * 1e9) AS BIGINT))
                 OVER (PARTITION BY row_key) AS DOUBLE) / 1e9)) AS w3
          FROM c1),
        c2 AS (
          SELECT *, w3 * ((CAST(tot AS DOUBLE) / CAST(n_cols AS DOUBLE))
            / (CAST(SUM(CAST(round(w3 * CAST(n AS DOUBLE) * 1e9) AS BIGINT))
                 OVER (PARTITION BY col_key) AS DOUBLE) / 1e9)) AS w4
          FROM r2),
        r3 AS (
          SELECT *, w4 * ((CAST(tot AS DOUBLE) / CAST(n_rows AS DOUBLE))
            / (CAST(SUM(CAST(round(w4 * CAST(n AS DOUBLE) * 1e9) AS BIGINT))
                 OVER (PARTITION BY row_key) AS DOUBLE) / 1e9)) AS w5
          FROM c2),
        c3 AS (
          SELECT *, w5 * ((CAST(tot AS DOUBLE) / CAST(n_cols AS DOUBLE))
            / (CAST(SUM(CAST(round(w5 * CAST(n AS DOUBLE) * 1e9) AS BIGINT))
                 OVER (PARTITION BY col_key) AS DOUBLE) / 1e9)) AS w6
          FROM r3)"""
}
