package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}

import graft.functions.TextFunctions.md5U52

/** Distribution-level statistical tests and robust conditioning — the
  * experiment-readout layer a data pipeline runs AFTER the drift
  * monitors flag a change ([[Quality.psiReport]] says "the input
  * moved"; these say "is the move significant, and how do we condition
  * the column"). Same portability discipline as the rest of the tier:
  * contingency/rank statistics accumulate as EXACT integers (longs
  * into DECIMAL(38,0) where products can wrap), cross-row float sums
  * snap to a 1e-9 grid, and the final statistics are plain IEEE
  * divisions / sqrt (both bit-portable) of those exact components, so
  * every report hash-proves against the DuckDB oracle with no
  * tolerance.
  *
  * Scale shape: every test is one or two hash aggregations whose state
  * is bounded by the LEVEL/SPINE cardinality (contingency cells,
  * distinct values), never by the corpus; the only sort is over that
  * bounded spine. Reference behavior: the reference engine publishes
  * latency/quality metrics but ships no significance layer
  * (/root/reference/src/utils.py:61-77 stops at raw rates) — this is
  * the [absent]-tier completion of its metrics story.
  */
object Stats {

  private def dec(c: Column) = c.cast(DecimalType(38, 0))
  /** round(x·1e9) → long: the shared cross-row float-sum grid. */
  private def grid(c: Column) = round(c * lit(1e9)).cast("long")

  /** Pearson chi-square test of independence between two categorical
    * columns — the "did the source mix shift across quality buckets?"
    * readout. One hash aggregation builds the contingency cells
    * (bounded by levels_a × levels_b); marginals come from windows
    * OVER THE CELLS (never a second corpus scan); expected counts are
    * IEEE divisions of exact DECIMAL marginal products (longs would
    * wrap past ~3e9 rows); per-cell contributions (o−e)²/e snap to the
    * 1e-9 grid and sum exactly. Output: one row (n, levels_a,
    * levels_b, dof, chi2). The decision against a chi-square quantile
    * is left to the caller — the quantile depends on the
    * data-dependent dof and is a table lookup, not a portable
    * expression. */
  def chiSquareReport(df: DataFrame, a: Column, b: Column): DataFrame = {
    val observed = df.filter(a.isNotNull && b.isNotNull)
      .groupBy(a.as("ca"), b.as("cb")).agg(count(lit(1)).as("o"))
      .localCheckpoint()
    // densify to the full levels_a × levels_b lattice: an UNOBSERVED
    // cell still contributes (0−e)²/e — dropping it silently
    // understates the statistic exactly when association is strongest
    // (a perfectly diagonal 2×2 table would read half its true χ²)
    val cells = observed.select(col("ca")).distinct()
      .crossJoin(observed.select(col("cb")).distinct())
      .join(observed, Seq("ca", "cb"), "left")
      .na.fill(0L, Seq("o"))
    val wr = Window.partitionBy(col("ca"))
    val wc = Window.partitionBy(col("cb"))
    val wAll = Window.partitionBy()
    val withM = cells
      .withColumn("rm", sum(col("o")).over(wr))
      .withColumn("cm", sum(col("o")).over(wc))
      .withColumn("n", sum(col("o")).over(wAll))
    val e = (dec(col("rm")) * dec(col("cm"))).cast("double") /
      col("n").cast("double")
    val contrib = (col("o").cast("double") - e) *
      (col("o").cast("double") - e) / e
    withM
      .select(col("ca"), col("cb"), col("o"), col("n"),
        grid(contrib).as("g"))
      .agg(
        max(col("n")).as("n"),
        count_distinct(col("ca")).as("levels_a"),
        count_distinct(col("cb")).as("levels_b"),
        ((count_distinct(col("ca")) - 1) *
          (count_distinct(col("cb")) - 1)).as("dof"),
        (sum(dec(col("g"))).cast("double") / lit(1e9)).as("chi2"))
  }

  /** Mann-Whitney U rank-sum test (two-sided, tie-corrected normal
    * approximation) — "are the two slices' value distributions the
    * same?" without assuming normality, the robust sibling of
    * [[welchTReport]]. Rows split on the boolean `inA`; U never ranks
    * individual rows: one hash aggregation collapses the corpus onto
    * the distinct-value spine (nA, nB per value), a window over the
    * spine accumulates below-counts, and 2·U = Σ 2·nA_v·cumB_v +
    * nA_v·nB_v stays an exact DECIMAL integer, as does the tie term
    * Σ t³−t. z = (2U − nA·nB) / (2·√var) is IEEE arithmetic over
    * those exact components (√ is correctly rounded by IEEE-754, so it
    * ports). No continuity correction — matches the large-sample
    * two-sided form. Output: one row (n_a, n_b, u2, z, reject_05);
    * z is null when either side is empty or all values tie. */
  def mannWhitneyReport(df: DataFrame, value: Column, inA: Column): DataFrame = {
    val spine = df.filter(value.isNotNull && inA.isNotNull)
      .groupBy(value.as("v"))
      .agg(
        sum(when(inA, 1L).otherwise(0L)).as("na_v"),
        sum(when(inA, 0L).otherwise(1L)).as("nb_v"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val c = spine.withColumn("cumb", coalesce(sum(col("nb_v")).over(w), lit(0L)))
    val g = c.agg(
      sum(col("na_v")).as("n_a"), sum(col("nb_v")).as("n_b"),
      // every product multiplies as DECIMAL — na_v·cumb of two ~n
      // counts would wrap a long past ~3e9 rows
      sum(lit(2L) * dec(col("na_v")) * dec(col("cumb")) +
        dec(col("na_v")) * dec(col("nb_v"))).as("u2"),
      sum(dec(col("na_v") + col("nb_v")) * dec(col("na_v") + col("nb_v")) *
        dec(col("na_v") + col("nb_v")) -
        dec(col("na_v") + col("nb_v"))).as("ties"))
    val dA = col("n_a").cast("double"); val dB = col("n_b").cast("double")
    val n = col("n_a") + col("n_b")
    val dN = n.cast("double")
    // var(U) = nA·nB/12 · [(n+1) − Σ(t³−t)/(n(n−1))]
    val varU = dA * dB / lit(12.0) *
      ((dN + lit(1.0)) - col("ties").cast("double") / (dN * (dN - lit(1.0))))
    val z = (col("u2").cast("double") - dA * dB) /
      (lit(2.0) * sqrt(nullif(varU, lit(0.0))))
    // u2 reports as DOUBLE (exact until ~2^53 pairs; the correctly-
    // rounded conversion is identical in both engines past that) — a
    // raw DECIMAL(38,0) would hash-compare against whatever precision
    // the oracle engine gives ITS integer sum
    g.select(col("n_a"), col("n_b"), col("u2").cast("double").as("u2"),
      z.as("z"), (abs(z) > lit(1.959963984540054)).as("reject_05"))
  }

  /** Welch's unequal-variance t-test of two slice means — the A/B
    * readout for a continuous metric when the slices differ in size
    * and spread (pooled-variance Student's t silently assumes equal
    * variance; Welch is the default modern recommendation). One
    * conditional-aggregate pass: per side, count, Σv and Σv² on the
    * exact 1e-9 grid (squares multiply as DECIMAL — a long would wrap
    * at |v| ≳ 3); means/variances/t/dof are IEEE expressions over the
    * exactly-represented components, mirrored verbatim in the oracle.
    * dof is Welch–Satterthwaite. reject_05 uses the normal 1.96
    * threshold — the documented large-sample approximation (exact
    * t-quantiles at data-dependent dof are table lookups, not portable
    * expressions). Output: one row (n_a, n_b, mean_a, mean_b, var_a,
    * var_b, t, dof, reject_05); t is null when either side has < 2
    * rows or zero variance. */
  def welchTReport(df: DataFrame, value: Column, inA: Column): DataFrame = {
    val v = grid(value)
    val g = df.filter(value.isNotNull && inA.isNotNull)
      .agg(
        sum(when(inA, 1L).otherwise(0L)).as("n_a"),
        sum(when(inA, 0L).otherwise(1L)).as("n_b"),
        sum(when(inA, dec(v)).otherwise(lit(0).cast(DecimalType(38, 0))))
          .as("sa"),
        sum(when(!inA, dec(v)).otherwise(lit(0).cast(DecimalType(38, 0))))
          .as("sb"),
        sum(when(inA, dec(v) * dec(v)).otherwise(lit(0).cast(DecimalType(38, 0))))
          .as("qa"),
        sum(when(!inA, dec(v) * dec(v)).otherwise(lit(0).cast(DecimalType(38, 0))))
          .as("qb"))
    def meanOf(s: Column, cnt: Column) =
      s.cast("double") / cnt.cast("double") / lit(1e9)
    def varOf(q: Column, s: Column, cnt: Column) = {
      val dn = cnt.cast("double")
      (q.cast("double") - s.cast("double") * s.cast("double") / dn) /
        (dn - lit(1.0)) / lit(1e18)
    }
    val ma = meanOf(col("sa"), col("n_a"))
    val mb = meanOf(col("sb"), col("n_b"))
    val va = varOf(col("qa"), col("sa"), col("n_a"))
    val vb = varOf(col("qb"), col("sb"), col("n_b"))
    val sea = va / col("n_a").cast("double")
    val seb = vb / col("n_b").cast("double")
    val t = (ma - mb) / sqrt(nullif(sea + seb, lit(0.0)))
    val dof = (sea + seb) * (sea + seb) /
      nullif(sea * sea / (col("n_a").cast("double") - lit(1.0)) +
        seb * seb / (col("n_b").cast("double") - lit(1.0)), lit(0.0))
    g.select(col("n_a"), col("n_b"),
      ma.as("mean_a"), mb.as("mean_b"), va.as("var_a"), vb.as("var_b"),
      t.as("t"), dof.as("dof"),
      (abs(t) > lit(1.959963984540054)).as("reject_05"))
  }

  /** Discrete quantiles by explicit order-statistic selection: the
    * value at sorted position max(1, ceil(p·n)) for each p — a
    * SELECTION from actually-present values (never an interpolation
    * for two engines to disagree on). Computed over the
    * DISTINCT-VALUE spine, not per row (the [[Quality.aucReport]]
    * stance): one hash aggregation collapses the corpus onto
    * (value, count), a window over that bounded spine accumulates
    * cumulative counts, and position idx selects min v with cum ≥ idx
    * — the corpus itself never sorts and never moves through a
    * single-partition window. Returns one row with one value-typed
    * column per requested (p, name). */
  def quantilesDisc(df: DataFrame, value: Column,
      ps: Seq[(Double, String)]): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (p, _) => p > 0 && p <= 1 },
      "quantilesDisc: ps in (0,1]")
    val spine = df.filter(value.isNotNull)
      .groupBy(value.as("_v")).agg(count(lit(1)).as("_c"))
    val w = Window.orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = spine
      .withColumn("_cum", sum(col("_c")).over(w))
      .withColumn("_n", sum(col("_c")).over(Window.partitionBy()))
    val aggs = ps.map { case (p, name) =>
      min(when(col("_cum") >=
        greatest(lit(1L), ceil(lit(p) * col("_n")).cast("long")), col("_v")))
        .as(name)
    }
    c.agg(aggs.head, aggs.tail: _*)
  }

  /** Winsorize a value column at discrete [pLo, pHi] quantile bounds —
    * the standard heavy-tail conditioning before a mean-based metric
    * or a feature feed (clipping beats dropping: row count and joins
    * survive). Bounds come from [[quantilesDisc]] (exact selection,
    * hash-portable) and broadcast back over the corpus as a scalar
    * cross join; the projection is then shuffle-free. Output: every
    * input row as (id, v, v_clipped, was_clipped) ordered by id. */
  def winsorize(df: DataFrame, id: Column, value: Column,
      pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(pLo > 0 && pHi < 1 && pLo < pHi, "winsorize: 0 < pLo < pHi < 1")
    val bounds = quantilesDisc(df, value, Seq(pLo -> "_lo", pHi -> "_hi"))
    df.filter(value.isNotNull)
      .select(id.as("id"), value.as("v"))
      .crossJoin(broadcast(bounds))
      .select(col("id"), col("v"),
        greatest(col("_lo"), least(col("_hi"), col("v"))).as("v_clipped"),
        (col("v") < col("_lo") || col("v") > col("_hi")).as("was_clipped"))
      .orderBy(col("id"))
  }

  /** Theil–Sen robust trend over a POINT relation (x, y) — the
    * median-of-pairwise-slopes estimator (breakdown point 29%, vs 0%
    * for least squares: one bad day cannot bend the line), the right
    * trend readout for the daily corpus/quality series the monitor
    * tier emits. The input must already be AGGREGATED to bounded
    * points (daily rollups — the operator's documented contract, like
    * every pairwise-quadratic baseline in this repo: n points cost
    * C(n,2) pair rows, so feed it time buckets, not raw events).
    * Slopes are pure IEEE ratios of input values; the median slope
    * and median intercept (median of y − m·x at the fitted m) are
    * [[quantilesDisc]] selections of actually-computed values.
    * Output: one row (n_points, n_pairs, slope, intercept). */
  def theilSen(points: DataFrame, x: Column, y: Column): DataFrame = {
    val p = points.filter(x.isNotNull && y.isNotNull)
      .select(x.cast("double").as("x"), y.cast("double").as("y"))
    val a = p.select(col("x").as("x1"), col("y").as("y1"))
    val b = p.select(col("x").as("x2"), col("y").as("y2"))
    // the when-guard is semantically a no-op (the join admits only
    // x1 < x2) but REQUIRED under ANSI: fused codegen may evaluate the
    // projected division before the join condition filters the pair,
    // and an unguarded x2−x1 = 0 then throws DIVIDE_BY_ZERO even
    // though the pair never reaches the output
    val slopes = a.join(b, col("x1") < col("x2"))
      .select(when(col("x2") =!= col("x1"),
        (col("y2") - col("y1")) / (col("x2") - col("x1"))).as("slope"))
    val m = quantilesDisc(slopes, col("slope"), Seq(0.5 -> "slope"))
    val resid = p.crossJoin(broadcast(m))
      .select(col("slope"), (col("y") - col("slope") * col("x")).as("r"))
    val b0 = quantilesDisc(resid, col("r"), Seq(0.5 -> "intercept"))
    val counts = p.agg(count(lit(1)).as("n_points"))
      // n(n−1) is even, so the double division is exact; the cast
      // matches the oracle's CAST(... AS BIGINT)
      .withColumn("n_pairs",
        (col("n_points") * (col("n_points") - 1) / lit(2)).cast("long"))
    counts.crossJoin(m).crossJoin(b0)
      .select(col("n_points"), col("n_pairs"), col("slope"),
        col("intercept"))
  }

  /** Split-conformal calibration of a scored binary filter — the
    * distribution-free guarantee layer on top of
    * [[Quality.calibrationReport]]: from a CALIBRATION slice, take the
    * conformal quantile q̂ of the nonconformity |label − score| at
    * level ceil((1−α)(n+1))/n (the finite-sample-correct rank, clamped
    * to n), then report the EVALUATION slice's empirical coverage of
    * {|label − score| ≤ q̂} — by the conformal theorem it lands at
    * ≥ 1−α on exchangeable data regardless of how bad the scores are,
    * so a drop below 1−α is a distribution-shift alarm with a
    * finite-sample footing. q̂ is a discrete selection off the
    * bounded nonconformity spine; coverage is a pure integer ratio.
    * Output: one row (n_calib, n_eval, qhat, coverage). */
  def conformalReport(scored: DataFrame, score: Column, label: Column,
      isCalib: Column, alpha: Double = 0.1): DataFrame = {
    require(alpha > 0 && alpha < 1, "conformalReport: alpha in (0,1)")
    val noncon = abs(label.cast("double") - score)
    val base = scored.filter(score.isNotNull && label.isNotNull)
      .select(noncon.as("nc"), isCalib.as("cal"))
    val spine = base.filter(col("cal"))
      .groupBy(col("nc")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("nc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = spine
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
    // the finite-sample conformal rank: ceil((1-α)(n+1)), clamped to n
    val idx = least(col("n"),
      ceil(lit(1.0 - alpha) * (col("n") + 1).cast("double")).cast("long"))
    val q = cum.agg(
      max(col("n")).as("n_calib"),
      min(when(col("cum") >= idx, col("nc"))).as("qhat"))
    base.filter(!col("cal"))
      .crossJoin(broadcast(q))
      .agg(
        max(col("n_calib")).as("n_calib"),
        count(lit(1)).as("n_eval"),
        max(col("qhat")).as("qhat"),
        (sum(when(col("nc") <= col("qhat"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double")).as("coverage"))
  }

  /** Difference-in-differences over a (treat × post) 2×2 design — the
    * workhorse causal readout when treatment was NOT randomized but a
    * pre-period exists (feature rollouts, source onboarding): the
    * treated group's pre→post change, net of the control group's
    * change, cancels any time-invariant group difference and any
    * common shock. One conditional-aggregate pass: per-cell counts and
    * outcome sums on the 1e-9 grid as exact decimals; the four means
    * and the DiD are IEEE expressions over those exact components
    * (same recipe as [[welchTReport]]). Null treat/post/outcome rows
    * are excluded. Output: one row (n_<cell>×4, mean_<cell>×4, did);
    * did is null when any cell is empty. */
  def diffInDiff(df: DataFrame, treat: Column, post: Column,
      outcome: Column): DataFrame = {
    val v = grid(outcome)
    def cell(t: Boolean, p: Boolean): Column = {
      val c = (if (t) treat else !treat) && (if (p) post else !post)
      c
    }
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    def s(c: Column) =
      sum(when(c, dec(v)).otherwise(lit(0).cast(DecimalType(38, 0))))
    val g = df.filter(treat.isNotNull && post.isNotNull && outcome.isNotNull)
      .agg(
        cnt(cell(true, false)).as("n_t_pre"),
        cnt(cell(true, true)).as("n_t_post"),
        cnt(cell(false, false)).as("n_c_pre"),
        cnt(cell(false, true)).as("n_c_post"),
        s(cell(true, false)).as("s_t_pre"),
        s(cell(true, true)).as("s_t_post"),
        s(cell(false, false)).as("s_c_pre"),
        s(cell(false, true)).as("s_c_post"))
    def mean(sc: String, n: String) =
      col(sc).cast("double") / nullif(col(n).cast("double"), lit(0.0)) /
        lit(1e9)
    val did = (mean("s_t_post", "n_t_post") - mean("s_t_pre", "n_t_pre")) -
      (mean("s_c_post", "n_c_post") - mean("s_c_pre", "n_c_pre"))
    g.select(
      col("n_t_pre"), col("n_t_post"), col("n_c_pre"), col("n_c_post"),
      mean("s_t_pre", "n_t_pre").as("mean_t_pre"),
      mean("s_t_post", "n_t_post").as("mean_t_post"),
      mean("s_c_pre", "n_c_pre").as("mean_c_pre"),
      mean("s_c_post", "n_c_post").as("mean_c_post"),
      did.as("did"))
  }

  /** Inverse-propensity-weighted average treatment effect — the
    * observational-data estimator when a pre-period does NOT exist
    * ([[diffInDiff]]'s sibling): every treated row reweights by 1/e,
    * every control by 1/(1−e), where e is a fitted propensity score
    * (here: any score column in (0,1), e.g.
    * [[TextAnalysis.qualityClassifier]] trained on the treatment
    * label). Scores clamp to [clip, 1−clip] — the standard
    * overlap-violation guard; without it one near-0/1 score dominates
    * the whole estimate. Per-row IPW terms snap to the 1e-9 grid and
    * sum exactly (they are RATIOS, so unlike raw outcomes they do not
    * stay integers); the two weighted means and the ATE are IEEE over
    * exact decimal sums. Output: one row (n, n_treated, mean_ipw_t,
    * mean_ipw_c, ate). */
  def ipwAte(scored: DataFrame, treat: Column, outcome: Column,
      score: Column, clip: Double = 0.01): DataFrame = {
    require(clip > 0 && clip < 0.5, "ipwAte: clip in (0, 0.5)")
    val e = greatest(lit(clip), least(lit(1.0 - clip), score))
    val y = outcome.cast("double")
    val tTerm = grid(y / e)
    val cTerm = grid(y / (lit(1.0) - e))
    val g = scored
      .filter(treat.isNotNull && outcome.isNotNull && score.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        sum(when(treat, 1L).otherwise(0L)).as("n_treated"),
        sum(when(treat, dec(tTerm)).otherwise(lit(0).cast(DecimalType(38, 0))))
          .as("st"),
        sum(when(!treat, dec(cTerm)).otherwise(lit(0).cast(DecimalType(38, 0))))
          .as("sc"))
    // Horvitz-Thompson normalization by the FULL n on both arms
    def m(s: String) =
      col(s).cast("double") / col("n").cast("double") / lit(1e9)
    g.select(col("n"), col("n_treated"),
      m("st").as("mean_ipw_t"), m("sc").as("mean_ipw_c"),
      (m("st") - m("sc")).as("ate"))
  }

  /** Streaming twin of [[conformalReport]] — the conformal coverage
    * monitor as a standing ingest: q̂ freezes ONCE from the
    * calibration slice (a single bounded-spine job at build time,
    * shipped as a driver literal — the frozen-reference stance of
    * [[Quality.psiIngest]]), and each micro-batch appends one
    * (n_eval, qhat, coverage) row, bit-equal to evaluating the batch
    * report against that calibration. Coverage sinking below 1−α is
    * the finite-sample distribution-shift alarm. Exactly-once through
    * the [[Sketches.writeDeltaTo]] delta-partition contract. */
  def conformalIngest(calibration: DataFrame, score: Column, label: Column,
      alpha: Double, reportTable: String, stateTable: String)
      : (DataFrame, Long) => Unit = {
    require(alpha > 0 && alpha < 1, "conformalIngest: alpha in (0,1)")
    val noncon = abs(label.cast("double") - score)
    val spine = calibration.filter(score.isNotNull && label.isNotNull)
      .groupBy(noncon.as("nc")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("nc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = spine
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
    val idx = least(col("n"),
      ceil(lit(1.0 - alpha) * (col("n") + 1).cast("double")).cast("long"))
    val qhat: Double = cum
      .agg(min(when(col("cum") >= idx, col("nc"))).as("qhat"))
      .head().getDouble(0)
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      Sketches.writeDeltaTo(
        batch.filter(score.isNotNull && label.isNotNull)
          .agg(
            count(lit(1)).as("n_eval"),
            lit(qhat).as("qhat"),
            (sum(when(noncon <= lit(qhat), 1L).otherwise(0L))
              .cast("double") / count(lit(1)).cast("double"))
              .as("coverage")),
        batchId, reportTable, stateTable)
    }
  }

  /** Spearman rank correlation between two BOUNDED-cardinality columns
    * — the monotone-association readout that survives outliers and
    * nonlinearity (Pearson on raw values does neither). Never ranks
    * individual rows: one hash aggregation collapses the corpus onto
    * the |X|×|Y| contingency cells, each marginal's average tied rank
    * comes from a window over its OWN bounded spine, and — the key
    * exactness move — ranks are kept DOUBLED (2·r is an integer even
    * for .5 tied ranks), so every moment Σc·2rx·2ry accumulates as an
    * exact DECIMAL integer; the constant factor cancels in the
    * correlation. rho is IEEE divide/sqrt of those exact components.
    * Contract: feed bounded-cardinality columns (grades, buckets,
    * small integer measures) — the cell table is the state. Output:
    * one row (n, levels_x, levels_y, rho); rho is null when either
    * marginal is constant. */
  def spearmanReport(df: DataFrame, x: Column, y: Column): DataFrame = {
    val cells = df.filter(x.isNotNull && y.isNotNull)
      .groupBy(x.as("vx"), y.as("vy")).agg(count(lit(1)).as("c"))
    def marginal(k: String): DataFrame = {
      val m = cells.groupBy(col(k)).agg(sum(col("c")).as("mc"))
      val w = Window.orderBy(col(k))
        .rowsBetween(Window.unboundedPreceding, -1)
      m.withColumn("cumb", coalesce(sum(col("mc")).over(w), lit(0L)))
        // doubled average tied rank: 2·(cumb + (mc+1)/2) stays integer
        .select(col(k), (lit(2L) * col("cumb") + col("mc") + lit(1L))
          .as(s"r2$k"))
    }
    val j = cells
      .join(broadcast(marginal("vx")), "vx")
      .join(broadcast(marginal("vy")), "vy")
    val g = j.agg(
      sum(col("c")).as("n"),
      count_distinct(col("vx")).as("levels_x"),
      count_distinct(col("vy")).as("levels_y"),
      sum(dec(col("c")) * dec(col("r2vx"))).as("sx"),
      sum(dec(col("c")) * dec(col("r2vy"))).as("sy"),
      sum(dec(col("c")) * dec(col("r2vx")) * dec(col("r2vx"))).as("sxx"),
      sum(dec(col("c")) * dec(col("r2vy")) * dec(col("r2vy"))).as("syy"),
      sum(dec(col("c")) * dec(col("r2vx")) * dec(col("r2vy"))).as("sxy"))
    def d(c: Column) = c.cast("double")
    val covN = d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
    val varX = d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    val varY = d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))
    g.select(col("n"), col("levels_x"), col("levels_y"),
      (covN / sqrt(nullif(varX * varY, lit(0.0)))).as("rho"))
  }

  /** Kruskal-Wallis H rank test across k NAMED groups — "do any of
    * these slices draw values from a different distribution?", the
    * k-sample extension of [[mannWhitneyReport]] (running k² pairwise
    * MW tests instead inflates false positives). Same spine stance:
    * per-value per-group counts, doubled average ranks off the bounded
    * value spine, per-group doubled rank sums as exact DECIMAL. The
    * groups are CALLER-SUPPLIED LITERALS so the k per-group H terms
    * (whose magnitudes overflow any integer grid) can sum in a FIXED
    * syntactic order — a float sum over a data-dependent group set
    * would be order-dependent and break cross-engine parity. Includes
    * the tie correction. Output: one row (n, k, dof, h, h_corrected);
    * h_corrected is null when all values tie. */
  def kruskalWallisReport(df: DataFrame, value: Column, group: Column,
      groups: Seq[String]): DataFrame = {
    require(groups.size >= 2 && groups.distinct.size == groups.size,
      "kruskalWallisReport: >= 2 distinct group literals")
    val spineAggs = count(lit(1)).as("cnt") +:
      groups.zipWithIndex.map { case (gn, i) =>
        sum(when(group === gn, 1L).otherwise(0L)).as(s"n$i")
      }
    val spine = df
      .filter(value.isNotNull && group.isin(groups.map(lit): _*))
      .groupBy(value.as("v"))
      .agg(spineAggs.head, spineAggs.tail: _*)
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = spine
      .withColumn("cumb", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("r2", lit(2L) * col("cumb") + col("cnt") + lit(1L))
    val gAggs = sum(col("cnt")).as("n") +:
      sum(dec(col("cnt")) * dec(col("cnt")) * dec(col("cnt")) -
        dec(col("cnt"))).as("ties") +:
      groups.indices.flatMap { i => Seq(
        sum(col(s"n$i")).as(s"ng$i"),
        sum(dec(col(s"n$i")) * dec(col("r2"))).as(s"r2g$i"))
      }
    val g = r.agg(gAggs.head, gAggs.tail: _*)
    def d(c: Column) = c.cast("double")
    val dn = d(col("n"))
    // Σ R2_j²/n_j in the FIXED literal order (parity-critical)
    val terms = groups.indices.map { i =>
      d(col(s"r2g$i")) * d(col(s"r2g$i")) / d(col(s"ng$i"))
    }
    val sumTerms = terms.reduceLeft(_ + _)
    // H on doubled ranks: 12/(n(n+1))·Σ(R2/2)²/n_j − 3(n+1)
    val h = lit(3.0) / (dn * (dn + lit(1.0))) * sumTerms -
      lit(3.0) * (dn + lit(1.0))
    val corr = lit(1.0) -
      d(col("ties")) / (dn * dn * dn - dn)
    g.select(col("n"), lit(groups.size).as("k"),
      lit(groups.size - 1L).as("dof"), h.as("h"),
      (h / nullif(corr, lit(0.0))).as("h_corrected"))
  }

  /** One-way ANOVA F across k NAMED groups — the parametric sibling of
    * [[kruskalWallisReport]] for "do the slice MEANS differ?" under a
    * shared-variance assumption ([[welchTReport]] is the k=2 form
    * without it). One conditional-aggregate pass: per-group n, Σv, Σv²
    * on the exact 1e-9 grid as DECIMAL; SSB/SSW are IEEE sums over the
    * FIXED caller-literal group order (the parity stance of
    * kruskalWallisReport). Output: one row (n, k, dof_between,
    * dof_within, ssb, ssw, f); f is null when SSW is 0 or any dof
    * is 0. */
  def anovaFReport(df: DataFrame, value: Column, group: Column,
      groups: Seq[String]): DataFrame = {
    require(groups.size >= 2 && groups.distinct.size == groups.size,
      "anovaFReport: >= 2 distinct group literals")
    val v = grid(value)
    val zero = lit(0).cast(DecimalType(38, 0))
    val aggs = count(lit(1)).as("n") +:
      sum(dec(v)).as("s") +:
      groups.zipWithIndex.flatMap { case (gn, i) => Seq(
        sum(when(group === gn, 1L).otherwise(0L)).as(s"n$i"),
        sum(when(group === gn, dec(v)).otherwise(zero)).as(s"s$i"),
        sum(when(group === gn, dec(v) * dec(v)).otherwise(zero))
          .as(s"q$i"))
      }
    val g = df
      .filter(value.isNotNull && group.isin(groups.map(lit): _*))
      .agg(aggs.head, aggs.tail: _*)
    def d(c: Column) = c.cast("double")
    val grandMean = d(col("s")) / d(col("n")) / lit(1e9)
    val ssbTerms = groups.indices.map { i =>
      val mi = d(col(s"s$i")) / d(col(s"n$i")) / lit(1e9)
      d(col(s"n$i")) * (mi - grandMean) * (mi - grandMean)
    }
    val sswTerms = groups.indices.map { i =>
      (d(col(s"q$i")) -
        d(col(s"s$i")) * d(col(s"s$i")) / d(col(s"n$i"))) / lit(1e18)
    }
    val ssb = ssbTerms.reduceLeft(_ + _)
    val ssw = sswTerms.reduceLeft(_ + _)
    val dofB = lit(groups.size - 1).cast("double")
    val dofW = d(col("n")) - lit(groups.size).cast("double")
    val f = (ssb / dofB) / nullif(ssw / nullif(dofW, lit(0.0)), lit(0.0))
    g.select(col("n"), lit(groups.size).as("k"),
      lit(groups.size - 1L).as("dof_between"),
      (col("n") - lit(groups.size.toLong)).as("dof_within"),
      ssb.as("ssb"), ssw.as("ssw"), f.as("f"))
  }

  /** Deterministic two-sample randomization test of a mean difference
    * — the assumption-free significance readout when neither the
    * normal approximation ([[welchTReport]]) nor rank exchange
    * ([[mannWhitneyReport]]) is wanted: under H0 the A/B labels are
    * exchangeable, so re-drawing them and recomputing the mean gap
    * calibrates the observed gap against its own null. Labels re-draw
    * per (row, rep) from the 52-bit md5 uniform (the
    * [[Quality.bootstrapRatioCi]] urn — engine/partitioning/rerun-
    * identical); a row joins pseudo-A iff u·n < 2^52·nA, an EXACT
    * integer comparison (both sides DECIMAL), so the assignment rate
    * matches the observed nA/n to within 2⁻⁵² with no float bias. The
    * p-value (1 + #{|diff_r| ≥ |diff_obs|})/(reps+1) is a pure integer
    * ratio — bit-portable, finite-sample valid, no distribution table.
    * Per-rep sums accumulate on the exact 1e-9 grid; the corpus is
    * re-spread before the ×reps explosion (AQE coalesces a
    * megabyte-scale stage to one partition, serializing the md5 work).
    * Output: one row (n, n_a, diff_obs, reps, n_extreme, p_value). */
  def permutationTest(df: DataFrame, id: Column, value: Column,
      inA: Column, reps: Int = 99, seed: Long = 0L): DataFrame = {
    require(reps >= 19, "permutationTest: reps >= 19")
    val spark = df.sparkSession
    val v = grid(value)
    val base = df.filter(value.isNotNull && inA.isNotNull)
      .select(id.cast("string").as("_id"), v.as("_v"), inA.as("_a"))
    val zero = lit(0).cast(DecimalType(38, 0))
    val obs = base.agg(
      count(lit(1)).as("n"),
      sum(when(col("_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("_a"), dec(col("_v"))).otherwise(zero)).as("sa"),
      sum(dec(col("_v"))).as("s"))
    def meanDiff(sa: Column, na: Column, s: Column, n: Column) = {
      def d(c: Column) = c.cast("double")
      d(sa) / nullif(d(na), lit(0.0)) / lit(1e9) -
        (d(s) - d(sa)) / nullif(d(n) - d(na), lit(0.0)) / lit(1e9)
    }
    // ×reps explosion as a GENERATE (explode of a constant sequence —
    // rows materialize inline in codegen; the broadcast-range crossJoin
    // this replaces paid a nested-loop row copy per output row, 3× the
    // cost at reps=99). The exploded stream carries ONLY (rep, _v, u):
    // the urn is the codegen'd md5_u52 (same 52-bit value as the
    // conv/substring/md5 chain), and the observed statistics join back
    // AFTER the per-rep aggregation instead of riding every row.
    val expanded = base
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("_v"),
        explode(sequence(lit(0), lit(reps - 1))).as("rep"),
        col("_id"))
      .select(col("rep"), col("_v"),
        md5U52(concat(col("_id"), lit(":"),
          col("rep").cast("string"), lit(":"), lit(seed.toString)))
          .as("_u"))
      .crossJoin(broadcast(obs.select(col("n"), col("n_a"))))
    val assign = dec(col("_u")) * dec(col("n")) <
      dec(lit(4503599627370496L)) * dec(col("n_a"))
    val perRep = expanded
      .groupBy(col("rep"))
      .agg(
        sum(when(assign, dec(col("_v"))).otherwise(zero)).as("sar"),
        sum(when(assign, 1L).otherwise(0L)).as("nar"))
      .crossJoin(broadcast(obs))
    val diffR = meanDiff(col("sar"), col("nar"), col("s"), col("n"))
    val diffObs = meanDiff(col("sa"), col("n_a"), col("s"), col("n"))
    perRep.agg(
      max(col("n")).as("n"), max(col("n_a")).as("n_a"),
      max(diffObs).as("diff_obs"),
      count(lit(1)).as("reps"),
      sum(when(abs(diffR) >= abs(diffObs), 1L).otherwise(0L))
        .as("n_extreme"))
      .withColumn("p_value",
        (col("n_extreme") + lit(1L)).cast("double") /
          (col("reps") + lit(1L)).cast("double"))
  }

  /** Per-group randomization p-values — one [[permutationTest]] per
    * key in a SINGLE corpus pass: the battery builder for
    * [[bhFdr]] ("which nations' urgent orders really differ?" asked
    * 25 times needs a multiplicity correction, and that needs all 25
    * p-values). Group statistics (n_g, nA_g, S_g) broadcast back onto
    * the ×reps explosion; each row re-draws its label against ITS
    * group's rate by the same exact-integer comparison; one
    * (group, rep) aggregation and one bounded per-group reduction
    * yield every p-value. Output: one row per group (g, n, n_a,
    * diff_obs, n_extreme, p_value), ordered by g. */
  def groupedPermutationPvalues(df: DataFrame, id: Column, value: Column,
      inA: Column, group: Column, reps: Int = 99, seed: Long = 0L)
      : DataFrame = {
    require(reps >= 19, "groupedPermutationPvalues: reps >= 19")
    val spark = df.sparkSession
    val v = grid(value)
    val base = df
      .filter(value.isNotNull && inA.isNotNull && group.isNotNull)
      .select(group.cast("string").as("g"), id.cast("string").as("_id"),
        v.as("_v"), inA.as("_a"))
    val zero = lit(0).cast(DecimalType(38, 0))
    val obs = base.groupBy(col("g")).agg(
      count(lit(1)).as("n"),
      sum(when(col("_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("_a"), dec(col("_v"))).otherwise(zero)).as("sa"),
      sum(dec(col("_v"))).as("s"))
    def meanDiff(sa: Column, na: Column, s: Column, n: Column) = {
      def d(c: Column) = c.cast("double")
      d(sa) / nullif(d(na), lit(0.0)) / lit(1e9) -
        (d(s) - d(sa)) / nullif(d(n) - d(na), lit(0.0)) / lit(1e9)
    }
    // same explosion discipline as [[permutationTest]]: GENERATE the
    // reps inline, keep the exploded stream narrow (g, rep, _v, urn),
    // join each row's group rate (two longs) from a broadcast, and
    // bring the wide observed statistics back only at per-(g, rep)
    // granularity — the stream never carries a decimal it doesn't sum
    val expanded = base
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("g"), col("_v"),
        explode(sequence(lit(0), lit(reps - 1))).as("rep"),
        col("_id"))
      .select(col("g"), col("rep"), col("_v"),
        md5U52(concat(col("_id"), lit(":"),
          col("rep").cast("string"), lit(":"), lit(seed.toString)))
          .as("_u"))
      .join(broadcast(obs.select(col("g"), col("n"), col("n_a"))), "g")
    val assign = dec(col("_u")) * dec(col("n")) <
      dec(lit(4503599627370496L)) * dec(col("n_a"))
    val perRep = expanded
      .groupBy(col("g"), col("rep"))
      .agg(
        sum(when(assign, dec(col("_v"))).otherwise(zero)).as("sar"),
        sum(when(assign, 1L).otherwise(0L)).as("nar"))
      .join(broadcast(obs), "g")
    val diffR = meanDiff(col("sar"), col("nar"), col("s"), col("n"))
    val diffObs = meanDiff(col("sa"), col("n_a"), col("s"), col("n"))
    perRep.groupBy(col("g")).agg(
      max(col("n")).as("n"), max(col("n_a")).as("n_a"),
      max(diffObs).as("diff_obs"),
      sum(when(abs(diffR) >= abs(diffObs), 1L).otherwise(0L))
        .as("n_extreme"))
      .withColumn("p_value",
        (col("n_extreme") + lit(1L)).cast("double") /
          lit((reps + 1).toDouble))
      .orderBy(col("g"))
  }

  /** Benjamini-Hochberg FDR step-up over a BOUNDED battery of
    * p-values — the multiplicity correction that makes a 25-test
    * battery honest (at α=0.05, 25 independent nulls yield ~1.2 fake
    * "discoveries"; BH caps the EXPECTED false-discovery fraction at α
    * while keeping far more power than Bonferroni). Ranks ascend by
    * (p, test_id) — the deterministic tie order; the step-up cutoff
    * k* = max{r : p_(r) ≤ r·α/m} comes from a window over the battery;
    * every test at rank ≤ k* is a discovery (including any whose own p
    * exceeds its threshold — the step-up shape, not a per-row test).
    * All thresholds are IEEE ratios of small exact integers. Input:
    * (test_id, p) one row per test. Output: (test_id, p, rank,
    * bh_threshold, discovery) ordered by rank. */
  def bhFdr(pvals: DataFrame, testId: Column, p: Column,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, "bhFdr: alpha in (0,1)")
    val base = pvals.filter(p.isNotNull)
      .select(testId.cast("string").as("test_id"), p.as("p"))
    val w = Window.orderBy(col("p"), col("test_id"))
    val wAll = Window.partitionBy()
    val ranked = base
      .withColumn("rank", row_number().over(w))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("bh_threshold",
        col("rank").cast("double") * lit(alpha) / col("m").cast("double"))
    val kStar = ranked
      .withColumn("kstar",
        max(when(col("p") <= col("bh_threshold"), col("rank"))
          .otherwise(lit(0))).over(wAll))
    kStar
      .select(col("test_id"), col("p"), col("rank"), col("bh_threshold"),
        (col("rank") <= col("kstar")).as("discovery"))
      .orderBy(col("rank"))
  }

  /** Robust scale: (v − median) / MAD, the outlier-insensitive
    * standardization (z-scores move with the outliers they are meant
    * to flag; median/MAD do not). Median and MAD are both discrete
    * order-statistic selections ([[quantilesDisc]] at 0.5 — MAD over
    * the |v − median| projection), so the whole transform is two
    * bounded sorts plus one shuffle-free projection; the scaled value
    * is pure IEEE (subtract, divide) over selected actual values.
    * Output: (id, v, scaled) ordered by id; scaled is null when MAD
    * is 0 (over half the values tie). */
  def robustScale(df: DataFrame, id: Column, value: Column): DataFrame = {
    val med = quantilesDisc(df, value, Seq(0.5 -> "_med"))
    val withMed = df.filter(value.isNotNull)
      .select(id.as("id"), value.as("v"))
      .crossJoin(broadcast(med))
    val mad = quantilesDisc(withMed, abs(col("v") - col("_med")),
      Seq(0.5 -> "_mad"))
    withMed.crossJoin(broadcast(mad))
      .select(col("id"), col("v"),
        ((col("v") - col("_med")) / nullif(col("_mad"), lit(0.0)))
          .as("scaled"))
      .orderBy(col("id"))
  }

  /** Sequential probability ratio test (Wald SPRT) read at bounded
    * LOOKS — the always-valid monitor for a Bernoulli rate that the
    * fixed-horizon tests (q161/q216) cannot give: peeking at a
    * z-test inflates false positives, while the SPRT's log-likelihood
    * ratio may be checked after EVERY look with the error rates still
    * α/β. Each look aggregates the trials of one period (the caller's
    * `look` column — a day, an ingest batch); cumulative successes/
    * failures come from a prefix window over the BOUNDED look spine,
    * so the corpus contributes one conditional-aggregation pass and
    * nothing per-row ever sorts globally.
    *
    * llr after look t = s_t·ln(p1/p0) + f_t·ln((1−p1)/(1−p0)); accept
    * H1 at llr ≥ ln((1−β)/α), accept H0 at llr ≤ ln(β/(1−α)). The
    * caller passes the two per-trial log terms and the boundary as
    * 1e-9-snapped LITERALS (the cross-engine transcendental stance:
    * constants are computed once and embedded, never re-derived), so
    * the llr is an exact-integer-weighted sum of two literals — the
    * hash proves the decision sequence itself. `decision` reports the
    * FIRST boundary crossing and then latches (the SPRT stops at the
    * crossing; later looks report the stopped state).
    *
    * Output: one row per look (look, n_trials, n_success, cum_trials,
    * cum_success, llr, decision) ordered by look. */
  def sprtLooks(df: DataFrame, look: Column, success: Column,
      lnRatioPos: Double, lnRatioNeg: Double, boundary: Double)
      : DataFrame =
    sprtFromLooks(
      df.filter(look.isNotNull && success.isNotNull)
        .groupBy(look.as("look"))
        .agg(count(lit(1)).as("n_trials"),
          sum(when(success, 1L).otherwise(0L)).as("n_success")),
      lnRatioPos, lnRatioNeg, boundary)

  /** The decision core of [[sprtLooks]] over an ALREADY-AGGREGATED
    * look relation (look, n_trials, n_success) — shared by the batch
    * query and the streaming twin, so streamed == batch is an
    * identity of inputs, not a re-derivation. */
  def sprtFromLooks(perLook: DataFrame,
      lnRatioPos: Double, lnRatioNeg: Double, boundary: Double)
      : DataFrame = {
    require(boundary > 0, "sprtFromLooks: boundary > 0")
    val w = Window.orderBy(col("look"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perLook
      .withColumn("cum_trials", sum(col("n_trials")).over(w))
      .withColumn("cum_success", sum(col("n_success")).over(w))
    def d(c: Column) = c.cast("double")
    val llr = d(col("cum_success")) * lit(lnRatioPos) +
      (d(col("cum_trials")) - d(col("cum_success"))) * lit(lnRatioNeg)
    val state = when(llr >= lit(boundary), lit("accept_h1"))
      .when(llr <= lit(-boundary), lit("accept_h0"))
      .otherwise(lit("continue"))
    val wAll = Window.partitionBy()
    cum
      .withColumn("llr", round(llr, 6))
      .withColumn("_state", state)
      // latch: the SPRT stops at the FIRST boundary crossing — find
      // that look over the bounded spine, then every look at or after
      // it reports the crossing's decision (not its own raw state)
      .withColumn("_fc",
        min(when(col("_state") =!= "continue", col("look"))).over(wAll))
      .withColumn("_fcState",
        min(when(col("look") === col("_fc"), col("_state"))).over(wAll))
      .withColumn("decision",
        when(col("_fc").isNull || col("look") < col("_fc"),
          lit("continue")).otherwise(col("_fcState")))
      .select(col("look"), col("n_trials"), col("n_success"),
        col("cum_trials"), col("cum_success"), col("llr"),
        col("decision"))
      .orderBy(col("look"))
  }

  /** Streaming maintenance for the SPRT monitor: per-batch (look,
    * trials, successes) partial counts land as idempotent delta
    * partitions ([[Sketches.writeDelta]] — replay overwrites, stale
    * batches skip), so a crash between append and checkpoint cannot
    * double-count a batch. Counts are additive and order-free, which
    * is exactly why the SPRT streams: [[sprtMerged]] reads the SAME
    * look relation the one-shot batch run aggregates, and therefore
    * the SAME decision sequence — the always-valid A/B monitor as a
    * standing query instead of a nightly recomputation. */
  def sprtIngest(look: Column, success: Column, prefix: String)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      Sketches.writeDelta(
        batch.filter(look.isNotNull && success.isNotNull)
          .groupBy(look.as("look"))
          .agg(count(lit(1)).as("n_trials"),
            sum(when(success, 1L).otherwise(0L)).as("n_success")),
        batchId, prefix)
    }

  /** [[sprtFromLooks]] over everything [[sprtIngest]] landed. */
  def sprtMerged(spark: org.apache.spark.sql.SparkSession, prefix: String,
      lnRatioPos: Double, lnRatioNeg: Double, boundary: Double)
      : DataFrame =
    sprtFromLooks(
      spark.table(s"${prefix}_deltas")
        .groupBy(col("look"))
        .agg(sum(col("n_trials")).as("n_trials"),
          sum(col("n_success")).as("n_success")),
      lnRatioPos, lnRatioNeg, boundary)

  /** Iterative proportional fitting (raking) of a two-way contingency
    * grid to uniform target margins — the survey-weighting / dataset-
    * rebalancing primitive: after `iters` row/column scaling rounds,
    * the weighted cell counts match the row targets exactly and the
    * column targets to IPF's geometric convergence rate. This is how
    * a curation pipeline reweights a corpus to a target (source ×
    * quality) mix without resampling.
    *
    * Scale + portability: one corpus aggregation to the bounded
    * (rowKey × colKey) grid, then 2·iters window passes over THOSE
    * CELLS. Each margin sum snaps w·n to the 1e-9 grid and sums as
    * exact DECIMALs (cross-engine float sums never happen); the scale
    * factors target/margin are IEEE divisions applied in a mirrored
    * chain. Output: (row_key, col_key, n, weight, fitted) ordered;
    * weight rounded to 6, fitted = rounded w·n. */
  def rake2(df: DataFrame, rowKey: Column, colKey: Column,
      iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 8, "rake2: 1 <= iters <= 8")
    val cells = df.filter(rowKey.isNotNull && colKey.isNotNull)
      .groupBy(rowKey.cast("string").as("rk"), colKey.cast("string").as("ck"))
      .agg(count(lit(1)).as("n"))
    val tots = cells.agg(sum(col("n")).as("tot"),
      countDistinct(col("rk")).as("n_rows"),
      countDistinct(col("ck")).as("n_cols"))
    def d(c: Column) = c.cast("double")
    val wr = Window.partitionBy(col("rk"))
    val wc = Window.partitionBy(col("ck"))
    var cur = cells.crossJoin(broadcast(tots))
      .withColumn("w", lit(1.0))
    val rTarget = d(col("tot")) / d(col("n_rows"))
    val cTarget = d(col("tot")) / d(col("n_cols"))
    (1 to iters).foreach { _ =>
      cur = cur
        .withColumn("_rs",
          sum(round(col("w") * d(col("n")) * lit(1e9)).cast("long")
            .cast(DecimalType(38, 0))).over(wr).cast("double") / lit(1e9))
        .withColumn("w", col("w") * (rTarget / col("_rs")))
        .withColumn("_cs",
          sum(round(col("w") * d(col("n")) * lit(1e9)).cast("long")
            .cast(DecimalType(38, 0))).over(wc).cast("double") / lit(1e9))
        .withColumn("w", col("w") * (cTarget / col("_cs")))
    }
    cur.select(col("rk").as("row_key"), col("ck").as("col_key"), col("n"),
        round(col("w"), 6).as("weight"),
        round(col("w") * d(col("n")), 6).as("fitted"))
      .orderBy(col("row_key"), col("col_key"))
  }

  /** Autocorrelation function of a regularly-indexed count series at
    * lags 0..maxLag — the seasonality detector that tells the
    * forecasters (q241/q242) WHICH period to fit: a spike at lag 7 is
    * the weekly cycle. The series is the per-`period` aggregate of
    * the corpus (one conditional-aggregation pass, bounded spine);
    * consecutive spine rows are indexed by position so every lag is
    * an equi-join of the spine against itself — 15 bounded joins,
    * never a corpus shuffle.
    *
    * Exactness: acf_l = Σ(x_t−x̄)(x_{t+l}−x̄) / Σ(x_t−x̄)² expands to
    * integer sums — Σ x_t·x_{t+l}, the head/tail window sums, Σx,
    * Σx² — accumulated as exact DECIMALs; x̄ and the final ratio are
    * one mirrored IEEE chain, so no float ever sums across rows.
    * Output: (lag, n_pairs, acf) ordered by lag; lag 0 reports 1. */
  def acfReport(df: DataFrame, period: Column, maxLag: Int = 14)
      : DataFrame = {
    require(maxLag >= 1, "acfReport: maxLag >= 1")
    val spine = df.filter(period.isNotNull)
      .groupBy(period.as("p"))
      .agg(count(lit(1)).as("x"))
      .withColumn("t", row_number().over(Window.orderBy(col("p"))))
    val tot = spine.agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"))
    val a = spine.select(col("t").as("ta"), col("x").as("xa"))
    val b = spine.select(col("t").as("tb"), col("x").as("xb"))
    val lags = a.sparkSession.range(0L, maxLag + 1L)
      .select(col("id").cast("int").as("lag"))
    val pairs = a.crossJoin(broadcast(lags))
      .join(b, col("tb") === col("ta") + col("lag"))
    def d(c: Column) = c.cast("double")
    val perLag = pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(dec(col("xa")) * dec(col("xb"))).as("sab"),
        sum(dec(col("xa"))).as("sa"),
        sum(dec(col("xb"))).as("sb"))
      .crossJoin(broadcast(tot))
    val xbar = d(col("sx")) / d(col("n"))
    val denom = d(col("sxx")) - d(col("sx")) * d(col("sx")) / d(col("n"))
    val num = d(col("sab")) - xbar * d(col("sa")) - xbar * d(col("sb")) +
      d(col("n_pairs")) * xbar * xbar
    perLag
      .select(col("lag"), col("n_pairs"),
        round(num / denom, 6).as("acf"))
      .orderBy(col("lag"))
  }

  /** Bradley–Terry preference strengths from a pairwise-wins grid —
    * the preference-aggregation primitive (RLHF preference data,
    * ranker evaluation, tournament scoring): given n_ij = "times i
    * beat j", fit P(i beats j) = p_i/(p_i+p_j) by `iters` rounds of
    * the standard MM update p_i ← W_i / Σ_{j≠i} m_ij/(p_i+p_j)
    * (W_i = total wins of i, m_ij = comparisons of the pair),
    * renormalized to Σp = 1 each round. The output is DEFINED as the
    * exact `iters`-round iterate — deterministic on both engines
    * whether or not the fit has converged.
    *
    * `wins` must already be the aggregated grid (item_a, item_b, n =
    * wins of a over b) over a bounded item domain — the corpus-sized
    * work (deriving comparisons) happens upstream; everything here is
    * joins/aggregates over the |items|² grid. Items with zero wins are
    * pinned to the MM fixed point p = 0 (they never recover under the
    * update, and 0/… divisions would otherwise NaN the round).
    * Portability: each denominator/normalizer addend snaps to the
    * 1e-12 grid and sums as exact DECIMALs; the updates are IEEE
    * divisions of those sums. Output: (item, strength, rank) by
    * strength desc, item asc. */
  def bradleyTerry(wins: DataFrame, itemA: String, itemB: String,
      n: String, iters: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 32, "bradleyTerry: 1 <= iters <= 32")
    def grid12(c: Column) = round(c, 12).cast(DecimalType(28, 12))
    def d(c: Column) = c.cast("double")
    // symmetrize once: per unordered pair carry (wins of i over j, total
    // comparisons m); keep DIRECTED rows (i, j, w_i, m_ij) for both
    // orientations so the per-i sums below are plain groupBys
    val fwd = wins.select(col(itemA).as("i"), col(itemB).as("j"),
      col(n).cast("long").as("w"))
    val rev = wins.select(col(itemB).as("i"), col(itemA).as("j"),
      lit(0L).as("w"))
    val pairs = fwd.unionByName(rev)
      .groupBy(col("i"), col("j"))
      .agg(sum(col("w")).as("w_ij"))
    val mBase = pairs.select(col("i"), col("j"), col("w_ij"))
      .join(pairs.select(col("i").as("j2"), col("j").as("i2"),
        col("w_ij").as("w_ji")),
        col("i") === col("i2") && col("j") === col("j2"))
      .select(col("i"), col("j"), col("w_ij"),
        (col("w_ij") + col("w_ji")).as("m_ij"))
      .filter(col("m_ij") > 0)
    // DRIVER-LOCAL fast path (the q281/q287 recipe): the duel grid is
    // |items|²-bounded by contract — below 2^12 cells the 8 MM rounds
    // (each a join + aggregate + normalize + checkpoint) are pure
    // stage-scheduling overhead. Arithmetic replicates the
    // distributed path bit-for-bit: the same IEEE m/(p_i+p_j) and
    // w/den divisions, the same HALF_UP 1e-12 rounds
    // (BigDecimal.valueOf == Spark's Round on doubles), the same
    // exact-decimal sums. The corpus-scale work (deriving `wins`)
    // already happened upstream. The driver loop keys items by their
    // string form, so only string items take it: any other item type
    // would come back as a string.
    val stringItems = mBase.schema("i").dataType == StringType
    Route.bySize(mBase, if (stringItems) 1L << 12 else 0L) { m =>
      val mCells = m.collect()
        .map(r => (r.getAs[Any]("i").toString, r.getAs[Any]("j").toString,
          r.getAs[Long]("w_ij"), r.getAs[Long]("m_ij")))
      import java.math.{BigDecimal => JBD, RoundingMode}
      val items0 = mCells.map(_._1).distinct
      val wTot = items0.map(i =>
        i -> mCells.filter(_._1 == i).map(_._3).sum).toMap
      var pMap: Map[String, Double] =
        items0.map(_ -> 1.0 / items0.length.toDouble).toMap
      (1 to iters).foreach { _ =>
        val den = scala.collection.mutable.Map.empty[String, JBD]
        mCells.foreach { case (i, j, _, mij) =>
          val term = JBD.valueOf(mij.toDouble / (pMap(i) + pMap(j)))
            .setScale(12, RoundingMode.HALF_UP)
          den(i) = den.getOrElse(i, JBD.ZERO).add(term)
        }
        val raw = items0.map { i =>
          i -> (if (wTot(i) > 0) wTot(i).toDouble / den(i).doubleValue
                else 0.0)
        }.toMap
        val tot = raw.values
          .map(v => JBD.valueOf(v).setScale(12, RoundingMode.HALF_UP))
          .foldLeft(JBD.ZERO)(_.add(_)).doubleValue
        pMap = raw.map { case (i, v) => i -> v / tot }
      }
      val spark = wins.sparkSession
      val wRankL = Window.orderBy(col("p").desc, col("item"))
      spark.createDataFrame(pMap.toSeq.sortBy(_._1))
        .toDF("item", "p")
        .withColumn("rank", row_number().over(wRankL))
        .select(col("item"), round(col("p"), 6).as("strength"), col("rank"))
        .orderBy(col("rank"))
    } { m =>
      val itemW = m.groupBy(col("i")).agg(sum(col("w_ij")).as("w_tot"))
      val k = itemW.agg(count(lit(1)).as("k"))
      var p = itemW.crossJoin(broadcast(k))
        .select(col("i").as("item"), col("w_tot"),
          (lit(1.0) / d(col("k"))).as("p"))
      (1 to iters).foreach { _ =>
        val pj = p.select(col("item").as("j"), col("p").as("p_j"))
        val upd = m
          .join(p, col("i") === col("item"))
          .join(pj, Seq("j"))
          .groupBy(col("i"))
          .agg(sum(grid12(d(col("m_ij")) / (col("p") + col("p_j"))))
            .cast("double").as("den"))
        val raw = p.drop("p").join(upd, col("item") === col("i")).drop("i")
          .withColumn("p_raw",
            when(col("w_tot") > 0, d(col("w_tot")) / col("den"))
              .otherwise(lit(0.0)))
        val tot = raw.agg(sum(grid12(col("p_raw"))).cast("double").as("t"))
        // localCheckpoint each round: the iterate feeds the NEXT round
        // twice (p_i and p_j sides), so without it the logical plan
        // doubles per round (2^iters analysis blow-up). The checkpoint
        // materializes |items| rows — trivial at any corpus size, since
        // the grid is bounded by the item domain, never the corpus.
        p = raw.crossJoin(broadcast(tot))
          .select(col("item"), col("w_tot"),
            (col("p_raw") / col("t")).as("p"))
          .localCheckpoint()
      }
      val wRank = Window.orderBy(col("p").desc, col("item"))
      p.withColumn("rank", row_number().over(wRank))
        .select(col("item"), round(col("p"), 6).as("strength"), col("rank"))
        .orderBy(col("rank"))
    }
  }

  /** Sharp regression-discontinuity estimate at a cutoff — the causal
    * readout when treatment flips deterministically at a threshold of
    * a running variable (credit limits, eligibility scores, ranking
    * cutoffs): fit a local linear regression on each side of the
    * cutoff within ±`bandwidth` and report the jump in the fitted
    * value AT the cutoff. Completes the quasi-experimental battery
    * (q225 DiD needs a pre-period, q226 IPW needs overlap, q275 PSM
    * needs conditional ignorability; RD needs only the threshold
    * rule + continuity).
    *
    * Portability: x and y are money-scale (≤ 2 decimals), so the five
    * per-side OLS moments Σ1, Σx, Σy, Σx², Σxy accumulate EXACTLY as
    * DECIMAL(38,6)-cast products of grid values; slope/intercept are
    * the closed-form IEEE expressions of those exact moments (the q248
    * recipe) with x centered at the cutoff so each intercept IS the
    * fitted value at the cutoff. One conditional-aggregate pass.
    * Output: one row (n_left, n_right, slope_left, slope_right,
    * y0_left, y0_right, rd_effect), effect = y0_right − y0_left. */
  def rddEstimate(df: DataFrame, running: Column, outcome: Column,
      cutoff: Double, bandwidth: Double): DataFrame = {
    require(bandwidth > 0, "rddEstimate: bandwidth > 0")
    def d(c: Column) = c.cast("double")
    def dec6(c: Column) = c.cast(DecimalType(38, 6))
    val base = df
      .filter(running.isNotNull && outcome.isNotNull)
      .select((running - lit(cutoff)).as("x"), outcome.as("y"))
      .filter(abs(col("x")) < lit(bandwidth))
      .withColumn("r", col("x") >= 0)
    def side(flag: Boolean, suf: String) = Seq(
      sum(when(col("r") === flag, 1L).otherwise(0L)).as(s"n_$suf"),
      sum(when(col("r") === flag, dec6(col("x")))).as(s"sx_$suf"),
      sum(when(col("r") === flag, dec6(col("y")))).as(s"sy_$suf"),
      sum(when(col("r") === flag, dec6(col("x") * col("x"))))
        .as(s"sxx_$suf"),
      sum(when(col("r") === flag, dec6(col("x") * col("y"))))
        .as(s"sxy_$suf"))
    val agg = side(false, "l") ++ side(true, "r")
    val mom = base.agg(agg.head, agg.tail: _*)
    def fit(suf: String): (Column, Column) = {
      val nn = d(col(s"n_$suf"))
      val sx = d(col(s"sx_$suf")); val sy = d(col(s"sy_$suf"))
      val sxx = d(col(s"sxx_$suf")); val sxy = d(col(s"sxy_$suf"))
      val b = (nn * sxy - sx * sy) / (nn * sxx - sx * sx)
      val a = (sy - b * sx) / nn
      (b, a)
    }
    val (bl, al) = fit("l"); val (br, ar) = fit("r")
    mom.select(
      col("n_l").as("n_left"), col("n_r").as("n_right"),
      round(bl, 6).as("slope_left"), round(br, 6).as("slope_right"),
      round(al, 6).as("y0_left"), round(ar, 6).as("y0_right"),
      round(ar - al, 6).as("rd_effect"))
  }

  /** Wald instrumental-variable estimate with a binary instrument —
    * the causal effect of a (self-selected, confounded) binary
    * treatment when an as-if-random ENCOURAGEMENT exists (holdout
    * flags, staggered invites, hash-based exposure): β = (ȳ₁ − ȳ₀) /
    * (x̄₁ − x̄₀) over instrument arms — the intent-to-treat outcome
    * gap rescaled by the first-stage compliance gap, i.e. exactly
    * two-stage least squares for one binary instrument. Reports the
    * ITT and first stage alongside β so a weak instrument
    * (first_stage ≈ 0) is visible rather than silently blowing up.
    *
    * One conditional-aggregate pass: per-arm counts as longs, Σx as
    * longs (binary treatment), Σy as exact DECIMAL(38,9) sums (the
    * outcome contract: ≤ 9 decimals — feed 1e-9-gridded values); the
    * three estimates are IEEE expressions of those exact components.
    * Output: one row (n_z0, n_z1, mean_x_z0, mean_x_z1, mean_y_z0,
    * mean_y_z1, first_stage, itt, beta_iv). */
  def ivWald(df: DataFrame, instrument: Column, treatment: Column,
      outcome: Column): DataFrame = {
    def d(c: Column) = c.cast("double")
    def dec6(c: Column) = c.cast(DecimalType(38, 9))
    val base = df.filter(instrument.isNotNull && treatment.isNotNull &&
        outcome.isNotNull)
      .select(instrument.cast("int").as("z"),
        treatment.cast("long").as("x"), outcome.as("y"))
    val mom = base.agg(
      sum(when(col("z") === 0, 1L).otherwise(0L)).as("n_z0"),
      sum(when(col("z") === 1, 1L).otherwise(0L)).as("n_z1"),
      sum(when(col("z") === 0, col("x")).otherwise(0L)).as("sx0"),
      sum(when(col("z") === 1, col("x")).otherwise(0L)).as("sx1"),
      sum(when(col("z") === 0, dec6(col("y")))).as("sy0"),
      sum(when(col("z") === 1, dec6(col("y")))).as("sy1"))
    val x0 = d(col("sx0")) / d(col("n_z0"))
    val x1 = d(col("sx1")) / d(col("n_z1"))
    val y0 = d(col("sy0")) / d(col("n_z0"))
    val y1 = d(col("sy1")) / d(col("n_z1"))
    mom.select(
      col("n_z0"), col("n_z1"),
      round(x0, 6).as("mean_x_z0"), round(x1, 6).as("mean_x_z1"),
      round(y0, 6).as("mean_y_z0"), round(y1, 6).as("mean_y_z1"),
      round(x1 - x0, 6).as("first_stage"),
      round(y1 - y0, 6).as("itt"),
      round((y1 - y0) / (x1 - x0), 6).as("beta_iv"))
  }

  /** Friedman rank test for k related treatments over n blocks — the
    * repeated-measures sibling of [[kruskalWallisReport]] (KW assumes
    * independent groups; Friedman ranks WITHIN each block, so
    * block-level shifts cancel — "do the k variants differ, given
    * every user saw all k?"). Only COMPLETE blocks (all k treatments
    * present) enter, the standard requirement. Uses the tie-corrected
    * form χ² = (k−1)·Σ_j(R_j − n(k+1)/2)² / (Σr² − nk(k+1)²/4),
    * which reduces to the classic statistic when no ties exist.
    *
    * Portability: within-block average ranks are rank() + (ties−1)/2 —
    * multiples of 0.5, exact in doubles; every sum (R_j, Σr²) snaps
    * to the 1e-9 grid and accumulates as exact DECIMALs; the statistic
    * is one IEEE expression of those sums. The corpus collapses to the
    * (block × treatment) relation in one aggregation; ranking windows
    * partition BY BLOCK (k rows each), never globally. Output: one row
    * (n_blocks, k, chi2_f); the χ²(k−1) decision is the caller's
    * table lookup (data-dependent dof — the chiSquareReport rule). */
  def friedmanTest(df: DataFrame, block: Column, treatment: Column,
      response: Column): DataFrame = {
    val cell = df.filter(block.isNotNull && treatment.isNotNull &&
        response.isNotNull)
      .groupBy(block.as("blk"), treatment.as("trt"))
      .agg((sum(grid(response)).cast("double") / lit(1e9) /
        count(lit(1)).cast("double")).as("y"))
    val k = cell.agg(countDistinct(col("trt")).as("k"))
    val complete = cell
      .withColumn("kb", count(lit(1))
        .over(Window.partitionBy(col("blk"))))
      .crossJoin(broadcast(k))
      .filter(col("kb") === col("k"))
    val wBlk = Window.partitionBy(col("blk")).orderBy(col("y"))
    val ties = Window.partitionBy(col("blk"), col("y"))
    val ranked = complete
      .withColumn("rmin", rank().over(wBlk))
      .withColumn("t", count(lit(1)).over(ties))
      .withColumn("r",
        col("rmin").cast("double") +
          (col("t") - 1).cast("double") / lit(2.0))
    def d(c: Column) = c.cast("double")
    val perTrt = ranked.groupBy(col("trt"))
      .agg(max(col("k")).as("k"),
        count(lit(1)).as("n"),
        (sum(dec(grid(col("r")))).cast("double") / lit(1e9)).as("rj"),
        (sum(dec(grid(col("r") * col("r")))).cast("double") / lit(1e9))
          .as("sr2"))
    perTrt.agg(
        max(col("n")).as("n_blocks"), max(col("k")).as("k"),
        sum(dec(grid((col("rj") - d(col("n")) * (d(col("k")) + 1) / lit(2.0)) *
          (col("rj") - d(col("n")) * (d(col("k")) + 1) / lit(2.0)))))
          .as("num9"),
        sum(dec(grid(col("sr2")))).as("sr29"))
      .select(col("n_blocks"), col("k"),
        round((d(col("k")) - 1) * (col("num9").cast("double") / lit(1e9)) /
          ((col("sr29").cast("double") / lit(1e9)) -
            d(col("n_blocks")) * d(col("k")) * (d(col("k")) + 1) *
              (d(col("k")) + 1) / lit(4.0)), 6).as("chi2_f"))
  }

  /** Cochran's Q test for k related BINARY treatments over n blocks —
    * [[friedmanTest]]'s 0/1 special case ("do the k variants differ
    * in success RATE, given every user saw all k?"). Same
    * complete-block rule. Q = k(k−1)·Σ_j(C_j − N/k)² /
    * (k·ΣR_i − ΣR_i²) with C_j column successes, R_i block successes,
    * N total — every component an exact integer, so the statistic is
    * one IEEE expression of exact DECIMAL sums and hash-proves with
    * no grid at all. One aggregation to the (block × treatment)
    * relation; the block/column sums are grid-sized. Output: one row
    * (n_blocks, k, q_stat). */
  def cochranQ(df: DataFrame, block: Column, treatment: Column,
      success: Column): DataFrame = {
    val cell = df.filter(block.isNotNull && treatment.isNotNull)
      .groupBy(block.as("blk"), treatment.as("trt"))
      .agg(max(when(success, 1L).otherwise(0L)).as("x"))
    val k = cell.agg(countDistinct(col("trt")).as("k"))
    val complete = cell
      .withColumn("kb", count(lit(1))
        .over(Window.partitionBy(col("blk"))))
      .crossJoin(broadcast(k))
      .filter(col("kb") === col("k"))
      .localCheckpoint()
    def d(c: Column) = c.cast("double")
    val perBlk = complete.groupBy(col("blk"))
      .agg(sum(col("x")).as("ri"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(dec(col("ri"))).as("sum_r"),
        sum(dec(col("ri")) * dec(col("ri"))).as("sum_r2"))
    val perTrt = complete.groupBy(col("trt"))
      .agg(sum(col("x")).as("cj"))
      .agg(count(lit(1)).as("k"),
        sum(dec(col("cj"))).as("nn"),
        sum(dec(col("cj")) * dec(col("cj"))).as("sum_c2"))
    perBlk.crossJoin(broadcast(perTrt))
      // Σ(C_j − N/k)² = ΣC_j² − N²/k, kept in exact decimals as
      // (k·ΣC_j² − N²)/k via the IEEE chain below. The denominator is
      // 0 exactly when every block is all-success or all-failure —
      // the statistic is undefined there (no within-block variation
      // to test), reported as null rather than a divide error
      .select(col("n_blocks"), col("k"),
        when(d(col("k")) * d(col("sum_r")) - d(col("sum_r2")) =!= 0.0,
          round(
            (d(col("k")) - 1) *
              (d(col("k")) * d(col("sum_c2")) - d(col("nn")) * d(col("nn"))) /
              (d(col("k")) * d(col("sum_r")) - d(col("sum_r2"))), 6))
          .as("q_stat"))
  }

  /** Kish effective sample size + design effect of a weighted corpus —
    * the one-row readout that tells a curation pipeline what a
    * reweighting (e.g. [[rake2]]) COST in statistical power:
    * n_eff = (Σw)²/Σw², deff = n/n_eff ≥ 1. Takes any (weight,
    * multiplicity) relation — pass n = 1 rows for per-row weights or
    * the raked grid's (weight, n) cells; Σw = Σ m·w and Σw² = Σ m·w²
    * fold identically either way. Weights snap to the 1e-6 grid (the
    * rake2 output contract) so w and w² sums accumulate as exact
    * DECIMALs. Output: one row (n_rows, sum_w, n_eff, deff). */
  def kishReport(cells: DataFrame, weight: Column,
      multiplicity: Column): DataFrame = {
    def d(c: Column) = c.cast("double")
    val w6 = round(weight * lit(1e6)).cast("long")
    val agg = cells.filter(weight.isNotNull)
      .agg(sum(multiplicity.cast("long")).as("n_rows"),
        sum(dec(multiplicity) * dec(w6)).as("sw6"),
        sum(dec(multiplicity) * dec(w6) * dec(w6)).as("sww12"))
    agg.select(col("n_rows"),
      round(d(col("sw6")) / lit(1e6), 6).as("sum_w"),
      round((d(col("sw6")) / lit(1e6)) * (d(col("sw6")) / lit(1e6)) /
        (d(col("sww12")) / lit(1e12)), 6).as("n_eff"),
      round(d(col("n_rows")) * (d(col("sww12")) / lit(1e12)) /
        ((d(col("sw6")) / lit(1e6)) * (d(col("sw6")) / lit(1e6))), 6)
        .as("deff"))
  }

  /** Cohen's d / Hedges' g standardized effect size for a two-group
    * mean difference — the practical-significance companion to
    * [[welchTReport]] (at corpus scale the t-test flags everything;
    * d says whether the gap MATTERS, in pooled-standard-deviation
    * units, comparable across metrics): d = (m̄_A − m̄_B)/s_pooled,
    * g = d·(1 − 3/(4n − 9)) (the small-sample bias correction).
    * One conditional-aggregate pass over 1e-9-grid moments (exact
    * DECIMAL sums); all estimates are IEEE expressions of those exact
    * components — d and g are scale-invariant so the grid factor
    * cancels. Output: one row (n_a, n_b, mean_a, mean_b, sd_pooled,
    * cohens_d, hedges_g). */
  def cohensD(df: DataFrame, value: Column, inA: Column): DataFrame = {
    val v = grid(value)
    def d(c: Column) = c.cast("double")
    val zero = lit(0).cast(DecimalType(38, 0))
    val mom = df.filter(value.isNotNull && inA.isNotNull)
      .agg(
        sum(when(inA, 1L).otherwise(0L)).as("n_a"),
        sum(when(inA, 0L).otherwise(1L)).as("n_b"),
        sum(when(inA, dec(v)).otherwise(zero)).as("sa"),
        sum(when(!inA, dec(v)).otherwise(zero)).as("sb"),
        sum(when(inA, dec(v) * dec(v)).otherwise(zero)).as("saa"),
        sum(when(!inA, dec(v) * dec(v)).otherwise(zero)).as("sbb"))
    val ma = d(col("sa")) / d(col("n_a"))
    val mb = d(col("sb")) / d(col("n_b"))
    val va = (d(col("saa")) - d(col("sa")) * d(col("sa")) / d(col("n_a"))) /
      (d(col("n_a")) - 1)
    val vb = (d(col("sbb")) - d(col("sb")) * d(col("sb")) / d(col("n_b"))) /
      (d(col("n_b")) - 1)
    val sp = sqrt(((d(col("n_a")) - 1) * va + (d(col("n_b")) - 1) * vb) /
      (d(col("n_a")) + d(col("n_b")) - 2))
    val dv = (ma - mb) / sp
    val g = dv * (lit(1.0) - lit(3.0) /
      (lit(4.0) * (d(col("n_a")) + d(col("n_b"))) - lit(9.0)))
    mom.select(col("n_a"), col("n_b"),
      round(ma / lit(1e9), 6).as("mean_a"),
      round(mb / lit(1e9), 6).as("mean_b"),
      round(sp / lit(1e9), 6).as("sd_pooled"),
      round(dv, 6).as("cohens_d"),
      round(g, 6).as("hedges_g"))
  }

  /** Odds ratio of a 2×2 exposure × outcome table with its 95% Wald
    * confidence interval — the epidemiology-standard A/B readout when
    * the outcome is binary (complements [[ivWald]]'s continuous-
    * outcome estimate): OR = (n₁₁·n₀₀)/(n₁₀·n₀₁),
    * CI = exp(ln OR ± 1.96·√(Σ 1/n_ij)). One conditional-aggregate
    * pass to four exact integers; the estimates are IEEE expressions
    * of them (ln/exp's last-ulp wiggle dies in the rounds). Any empty
    * cell makes the OR undefined — reported null rather than an
    * infinity (callers wanting a continuity correction can add 0.5
    * upstream). Output: one row (n_11, n_10, n_01, n_00, odds_ratio,
    * ln_or, se, ci_lo, ci_hi). */
  def oddsRatioReport(df: DataFrame, exposed: Column,
      outcome: Column): DataFrame = {
    def d(c: Column) = c.cast("double")
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val mom = df.filter(exposed.isNotNull && outcome.isNotNull)
      .agg(
        cnt(exposed && outcome).as("n_11"),
        cnt(exposed && !outcome).as("n_10"),
        cnt(!exposed && outcome).as("n_01"),
        cnt(!exposed && !outcome).as("n_00"))
    val ok = col("n_11") > 0 && col("n_10") > 0 &&
      col("n_01") > 0 && col("n_00") > 0
    val or = d(col("n_11")) * d(col("n_00")) /
      (d(col("n_10")) * d(col("n_01")))
    val lnOr = log(or)
    val se = sqrt(lit(1.0) / d(col("n_11")) + lit(1.0) / d(col("n_10")) +
      lit(1.0) / d(col("n_01")) + lit(1.0) / d(col("n_00")))
    mom.select(col("n_11"), col("n_10"), col("n_01"), col("n_00"),
      when(ok, round(or, 6)).as("odds_ratio"),
      when(ok, round(lnOr, 6)).as("ln_or"),
      when(ok, round(se, 6)).as("se"),
      when(ok, round(exp(lnOr - lit(1.96) * se), 6)).as("ci_lo"),
      when(ok, round(exp(lnOr + lit(1.96) * se), 6)).as("ci_hi"))
  }

  /** Walk-forward cross-validation splits with an embargo gap — the
    * leakage-safe eval harness for temporal data (random k-fold leaks
    * future into past; the embargo additionally absorbs label/feature
    * lookahead at the boundary, the de Prado "purged CV" rule): fold
    * f trains on days [0, trainDays0 + f·stepDays), skips
    * `embargoDays`, tests on the next `testDays`. Returns the split
    * MANIFEST (per fold × split: day range, event and user counts) —
    * the auditable artifact a training pipeline materializes before
    * reading any rows.
    *
    * Scale: the folds spine is a literal ≤`folds·2`-row broadcast;
    * membership is a conditional projection per event (no shuffle
    * beyond the counting aggregate); nothing is ever sorted. Counts
    * are exact integers. Output: (fold, split, day_start, day_end,
    * n_events, n_users) ordered by (fold, split). */
  def walkForwardSplits(df: DataFrame, user: Column, epCol: Column,
      epoch0: Long, trainDays0: Int, stepDays: Int, embargoDays: Int,
      testDays: Int, folds: Int, daySec: Long = 86400L): DataFrame = {
    require(folds >= 1 && folds <= 64, "walkForwardSplits: 1 <= folds <= 64")
    require(trainDays0 >= 1 && stepDays >= 0 && embargoDays >= 0 &&
      testDays >= 1, "walkForwardSplits: nonsensical window sizes")
    val spark = df.sparkSession
    val spine = spark.createDataFrame(
      (0 until folds).flatMap { f =>
        val trEnd = trainDays0 + f * stepDays
        val teStart = trEnd + embargoDays
        Seq((f, "train", 0L, trEnd.toLong),
          (f, "test", teStart.toLong, (teStart + testDays).toLong))
      }).toDF("fold", "split", "day_start", "day_end")
    val days = df.filter(user.isNotNull && epCol.isNotNull)
      .select(user.as("u"),
        floor((epCol - lit(epoch0)).cast("double") / lit(daySec.toDouble))
          .cast("long").as("day"))
    days.join(broadcast(spine),
        col("day") >= col("day_start") && col("day") < col("day_end"))
      .groupBy(col("fold"), col("split"))
      .agg(max(col("day_start")).as("day_start"),
        max(col("day_end")).as("day_end"),
        count(lit(1)).as("n_events"),
        countDistinct(col("u")).as("n_users"))
      .select(col("fold"), col("split"), col("day_start"), col("day_end"),
        col("n_events"), col("n_users"))
      .orderBy(col("fold"), col("split"))
  }

  /** Gumbel (type-I extreme value) tail fit by the method of moments —
    * the capacity-planning readout over a maxima-shaped column ("what
    * is the chance a value exceeds t?"): β = s·√6/π, μ = m − γ·β from
    * the exact first two moments, then P(X > t) = 1 − exp(−exp(−(t−μ)/β)).
    * Moment matching is the standard closed-form Gumbel estimator —
    * no iteration, so the whole fit is one conditional-aggregate pass.
    *
    * Portability: values are money-grid (≤ 2 decimals), so Σv and Σv²
    * accumulate exactly as DECIMAL(38,6); m, s and the plug-in
    * probability are IEEE expressions of those exact moments (√6 and
    * √ are correctly rounded by IEEE-754; γ and π are embedded as the
    * same 17-digit literals in both engines; exp's last-ulp wiggle
    * dies in the final round). Output: one row (n, mean, sd, mu,
    * beta, p_exceed). */
  def gumbelTail(df: DataFrame, value: Column, threshold: Double): DataFrame = {
    def d(c: Column) = c.cast("double")
    def dec6(c: Column) = c.cast(DecimalType(38, 6))
    val mom = df.filter(value.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(dec6(value)).as("sv"),
        sum(dec6(value * value)).as("svv"))
    val m = d(col("sv")) / d(col("n"))
    val variance = (d(col("svv")) - d(col("sv")) * d(col("sv")) / d(col("n"))) /
      (d(col("n")) - 1)
    val s = sqrt(variance)
    val beta = s * sqrt(lit(6.0)) / lit(3.141592653589793)
    val mu = m - lit(0.5772156649015329) * beta
    val z = (lit(threshold) - mu) / beta
    mom.select(col("n"),
      round(m, 6).as("mean"), round(s, 6).as("sd"),
      round(mu, 6).as("mu"), round(beta, 6).as("beta"),
      round(lit(1.0) - exp(-exp(-z)), 6).as("p_exceed"))
  }

  /** Empirical-Bayes (beta-binomial, method-of-moments) shrinkage of
    * per-group binary rates — the estimator a curation pipeline
    * should publish instead of raw per-source quality rates: small
    * sources' noisy rates shrink toward the corpus mean in proportion
    * to their evidence, shrunk_j = (s_j + M·m)/(n_j + M) with prior
    * strength M = m(1−m)/var_p − 1 matched to the observed
    * between-group variance (var_p = Σn_j(p_j−m)² / Σn_j). When the
    * observed spread is at/under binomial noise (M undefined or
    * negative) M clamps to 0 — no shrinkage rather than a NaN.
    *
    * One aggregation to the per-group (n, s) relation, one grid-sized
    * second pass for the variance (each n·(p−m)² addend snapped to
    * the 1e-9 grid, summed as exact DECIMALs), then pure IEEE
    * per-group arithmetic. Output: (group, n, successes, raw_rate,
    * shrunk_rate, prior_m, prior_strength) ascending by group. */
  def ebShrinkRates(df: DataFrame, group: Column,
      success: Column): DataFrame = {
    def d(c: Column) = c.cast("double")
    val per = df.filter(group.isNotNull)
      .groupBy(group.cast("string").as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("s"))
      .localCheckpoint()
    val tot = per.agg(sum(col("n")).as("tn"), sum(col("s")).as("ts"))
    val wMean = d(col("ts")) / d(col("tn"))
    val varP = per.crossJoin(broadcast(tot))
      .withColumn("m", wMean)
      .select(col("m"), col("tn"),
        grid(d(col("n")) * (d(col("s")) / d(col("n")) - col("m")) *
          (d(col("s")) / d(col("n")) - col("m"))).as("g"))
      .agg(max(col("m")).as("m"), max(col("tn")).as("tn"),
        (sum(dec(col("g"))).cast("double") / lit(1e9) /
          max(col("tn")).cast("double")).as("var_p"))
    val withPrior = varP
      .withColumn("mm", when(col("var_p") > 0,
        greatest(lit(0.0),
          col("m") * (lit(1.0) - col("m")) / col("var_p") - 1))
        .otherwise(lit(0.0)))
    per.crossJoin(broadcast(withPrior))
      .select(col("grp").as("group_key"), col("n"), col("s").as("successes"),
        round(d(col("s")) / d(col("n")), 6).as("raw_rate"),
        round((d(col("s")) + col("mm") * col("m")) /
          (d(col("n")) + col("mm")), 6).as("shrunk_rate"),
        round(col("m"), 6).as("prior_m"),
        round(col("mm"), 6).as("prior_strength"))
      .orderBy(col("group_key"))
  }

  /** Effect-size panel over [[chiSquareReport]] — significance says
    * "not chance", these say "how big": Cramér's V (the bounded [0,1]
    * association strength, comparable across table shapes), the phi
    * coefficient, and Pearson's contingency coefficient. Pure IEEE
    * functions of the report's (chi2, n, levels) row — zero extra
    * corpus work. Output: one row (n, levels_a, levels_b, dof, chi2,
    * phi, cramers_v, contingency_c). */
  def chiSquareEffects(df: DataFrame, a: Column, b: Column): DataFrame = {
    def d(c: Column) = c.cast("double")
    chiSquareReport(df, a, b)
      .withColumn("phi", round(sqrt(col("chi2") / d(col("n"))), 6))
      .withColumn("cramers_v", round(sqrt(col("chi2") / (d(col("n")) *
        (least(col("levels_a"), col("levels_b")) - 1).cast("double"))), 6))
      .withColumn("contingency_c",
        round(sqrt(col("chi2") / (col("chi2") + d(col("n")))), 6))
  }
}
