package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.md5U52

/** Declarative data-quality auditing — the Deequ/great-expectations
  * shape (Schelter et al., VLDB 2018): a rule set compiles into ONE
  * conditional-aggregate pass over the relation, producing a
  * per-rule metrics report with pass/fail flags. At 100 TB this is the
  * only acceptable shape — one map-side-combined scan computes every
  * completeness/bounds/pattern metric at once (no per-rule jobs);
  * only the uniqueness rules add a distinct aggregation on their
  * column. The audit report is rows, so it lands in the same
  * lakehouse tables it audits.
  */
object Quality {

  /** One audit rule: `metric` must be an aggregate expression over the
    * input producing a DOUBLE in [0,1]; the rule passes when
    * metric >= minRatio. */
  final case class Rule(name: String, column: String, metric: Column,
      minRatio: Double)

  /** Share of non-null values (completeness >= minRatio). */
  def complete(column: String, minRatio: Double = 1.0): Rule =
    Rule("complete", column,
      count(col(column)).cast("double") / count(lit(1)), minRatio)

  /** Share of rows inside [lo, hi] among non-nulls. */
  def inRange(column: String, lo: Double, hi: Double,
      minRatio: Double = 1.0): Rule =
    Rule("in_range", column,
      count(when(col(column) >= lo && col(column) <= hi, 1))
        .cast("double") / count(col(column)), minRatio)

  /** Share of non-null values matching the anchored regexp. */
  def matches(column: String, regex: String, minRatio: Double = 1.0): Rule =
    Rule("matches", column,
      count(when(col(column).rlike(regex), 1)).cast("double") /
        count(col(column)), minRatio)

  /** Distinct-to-row ratio (1.0 = unique key). Exact distinct — the
    * one rule kind that costs a shuffle on its column. */
  def unique(column: String): Rule =
    Rule("unique", column,
      countDistinct(col(column)).cast("double") / count(lit(1)), 1.0)

  /** Reliability-diagram calibration report for a scored binary
    * classifier (the post-training eval step every learned quality
    * filter needs before its scores gate a corpus): scores bucket into
    * `bins` equal-width probability bins (top edge closed, so 1.0
    * lands in the last bin), each populated bin reporting its support,
    * mean predicted probability, empirical positive rate, and the
    * signed calibration gap. The Murphy/Brier reliability term reads
    * off this table as Σ n_b·gap_b²/N; a calibrated filter shows
    * |gap| ≈ 0 in every populated bin. ONE hash aggregation into at
    * most `bins` groups — bounded output at any corpus size; the mean
    * accumulates on the 1e-6 decimal grid (scores arrive round(·,6)
    * from [[TextAnalysis.qualityClassifier]]) and the gap is one IEEE
    * subtraction of the two reported doubles, so the report is
    * hash-stable cross-engine. */
  def calibrationReport(scored: DataFrame, score: String, label: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, "calibrationReport: bins >= 2")
    import org.apache.spark.sql.types.DecimalType
    scored
      // clamp both edges: scores below 0 land in bin 0, >= 1 in the top
      // bin, so the contract of "at most `bins` groups" holds for any
      // input, not just well-formed probabilities
      .withColumn("bin",
        greatest(lit(0L),
          least(floor(col(score) * bins), lit(bins - 1))).cast("int"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col(score).cast(DecimalType(27, 6))).cast("double") /
          count(lit(1)), 6).as("mean_score"),
        round(sum(col(label).cast("long")).cast("double") /
          count(lit(1)), 6).as("frac_pos"))
      .withColumn("gap", col("frac_pos") - col("mean_score"))
      .orderBy(col("bin"))
  }

  /** Streaming twin of [[calibrationReport]]: each micro-batch appends
    * its per-bin partials (bin, n, score_sum on the exact 1e-6 decimal
    * grid, n_pos) to `spineTable` — at most `bins` rows per batch, and
    * every partial is additive, so [[calibrationMerged]] re-aggregates
    * to EXACTLY the one-shot report at any point in the stream (same
    * decimal accumulation, same divides). With [[psiIngest]] and
    * [[aucIngest]] this completes the monitor family's ingest forms:
    * drift, ranking power, and probability honesty all maintained
    * per-batch without re-scanning scored history. Delivery is
    * exactly-once through the [[Sketches.writeDeltaTo]] contract: each
    * batch's partials land in their own batch_id partition with
    * dynamic overwrite, so a crash-window replay rewrites its
    * partition instead of double-counting it. */
  def calibrationIngest(score: String, label: String, bins: Int,
      spineTable: String, stateTable: String): (DataFrame, Long) => Unit = {
    require(bins >= 2, "calibrationIngest: bins >= 2")
    import org.apache.spark.sql.types.DecimalType
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      Sketches.writeDeltaTo(
        batch
          .withColumn("bin",
            greatest(lit(0L),
              least(floor(col(score) * bins), lit(bins - 1))).cast("int"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            sum(col(score).cast(DecimalType(27, 6))).as("score_sum"),
            sum(col(label).cast("long")).as("n_pos")),
        batchId, spineTable, stateTable)
    }
  }

  /** Calibration report from a [[calibrationIngest]]-maintained spine:
    * additive partials re-aggregate to the one-shot
    * [[calibrationReport]] exactly. */
  def calibrationMerged(spark: org.apache.spark.sql.SparkSession,
      spineTable: String): DataFrame =
    spark.table(spineTable)
      .groupBy(col("bin"))
      .agg(sum(col("n")).as("n"),
        round(sum(col("score_sum")).cast("double") / sum(col("n")), 6)
          .as("mean_score"),
        round(sum(col("n_pos")).cast("double") / sum(col("n")), 6)
          .as("frac_pos"))
      .withColumn("gap", col("frac_pos") - col("mean_score"))
      .orderBy(col("bin"))

  /** Population-stability-index drift report between a reference and a
    * current slice of one relation — the batch-over-batch input-drift
    * monitor a standing curation pipeline needs (credit-scoring's PSI,
    * applied to corpus statistics): `value` buckets into `bins`
    * fixed-width bins (top bin open), each populated bin reporting both
    * slices' counts, smoothed shares p = (n + 0.5)/(N + 0.5·bins)
    * (add-half smoothing keeps empty-on-one-side bins finite), and its
    * PSI contribution (p_ref − p_cur)·ln(p_ref/p_cur). Σ contrib < 0.1
    * is the conventional "stable" read. Exactly `bins` output rows: a
    * bin spine left-joins the populated counts so bins empty in both
    * slices still carry their smoothed mass and the reported
    * psi_contrib column sums to the full smoothed PSI (and the share
    * columns to 1). Values below 0 clamp into bin 0 (top bin stays
    * open), and rows whose `isRef` evaluates to null count as current
    * (coalesced to false). ONE conditional-aggregate pass into ≤
    * `bins` groups, totals rejoined as a broadcast scalar aggregate
    * (zero driver jobs) — bounded state at any corpus size. */
  def psiReport(df: DataFrame, value: Column, isRef: Column,
      binWidth: Double, bins: Int = 10): DataFrame = {
    require(bins >= 2 && binWidth > 0, "psiReport: bins >= 2, binWidth > 0")
    val g = df
      .withColumn("bin",
        greatest(lit(0L),
          least(floor(value / binWidth), lit(bins - 1))).cast("int"))
      // null values have no bin and are excluded from counts AND totals
      // (keeps this report bit-equal to the psiIngest per-batch form,
      // which never sees a reference row to carry a null through)
      .filter(col("bin").isNotNull)
      .withColumn("is_ref", coalesce(isRef, lit(false)))
      .groupBy(col("bin"))
      .agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
    val spine = df.sparkSession.range(bins.toLong)
      .select(col("id").cast("int").as("bin"))
    val full = spine.join(g, Seq("bin"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
    val t = g.agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
    val pRef = (col("n_ref").cast("double") + lit(0.5)) /
      (col("t_ref").cast("double") + lit(0.5 * bins))
    val pCur = (col("n_cur").cast("double") + lit(0.5)) /
      (col("t_cur").cast("double") + lit(0.5 * bins))
    full.crossJoin(t)
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(pRef, 6).as("ref_share"),
        round(pCur, 6).as("cur_share"),
        round((pRef - pCur) * log(pRef / pCur), 6).as("psi_contrib"))
      .orderBy(col("bin"))
  }

  /** Two-sample Kolmogorov–Smirnov drift test between a reference and
    * a current slice of one relation — the distribution-shape
    * companion of [[psiReport]]: PSI reads binned share shifts, KS
    * reads the MAXIMUM gap between the two empirical CDFs, the
    * classic sensitive-anywhere two-sample test. `value` snaps to a
    * `binWidth` grid (the test is then the exact KS of the gridded
    * distributions — the grid bounds the spine at range/binWidth
    * whatever the corpus size), one conditional-aggregate pass
    * collapses the corpus onto the spine, and a window cumsum walks
    * both CDFs together.
    *
    * Cross-engine hash parity by exact integer arithmetic: the CDF gap
    * maximized is |cum_ref·t_cur − cum_cur·t_ref| — a DECIMAL(38,0)
    * product of longs, exact and order-independent (n² stays under
    * 10³⁸ past 10¹⁸ rows) — and D = max_gap/(t_ref·t_cur) plus the
    * scaled statistic √(t_ref·t_cur/(t_ref+t_cur))·D are pure IEEE
    * divides/sqrt on identical exact integers, so they are NOT rounded
    * (a round would reintroduce the tie hazard the division never
    * had). reject_05 compares the scaled statistic against the
    * asymptotic 5% critical value 1.358.
    *
    * Output: one row (n_ref, n_cur, d_stat, ks_scaled, reject_05);
    * d_stat null when either slice is empty. */
  def ksReport(df: DataFrame, value: Column, isRef: Column,
      binWidth: Double): DataFrame = {
    require(binWidth > 0, "ksReport: binWidth > 0")
    val g = df
      .withColumn("bin", floor(value / binWidth).cast("long"))
      .filter(col("bin").isNotNull)
      .withColumn("is_ref", coalesce(isRef, lit(false)))
      .groupBy(col("bin"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
           sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
    ksFromCounts(g)
  }

  /** The KS tail over a pre-binned (bin, n_ref, n_cur) relation —
    * shared with [[ksIngest]] so each streamed per-batch report is
    * bit-equal to [[ksReport]] over reference ∪ batch. */
  private def ksFromCounts(g: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast(org.apache.spark.sql.types.DecimalType(19, 0))
    // the spine is bounded (range/binWidth), so the global-order window
    // is the same single-partition-over-bounded-state shape aucReport
    // uses; both CDFs advance together in one cumsum pass
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val c = g.select(col("n_ref"), col("n_cur"),
      sum(col("n_ref")).over(w).as("cr"),
      sum(col("n_cur")).over(w).as("cc"))
    val t = g.agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
    c.crossJoin(t)
      .agg(max(col("t_ref")).as("n_ref"), max(col("t_cur")).as("n_cur"),
        max(abs(dec(col("cr")) * dec(col("t_cur")) -
          dec(col("cc")) * dec(col("t_ref")))).as("max_gap"))
      .select(col("n_ref"), col("n_cur"),
        (col("max_gap").cast("double") /
          nullif((dec(col("n_ref")) * dec(col("n_cur"))).cast("double"),
            lit(0.0))).as("d_stat"))
      .select(col("n_ref"), col("n_cur"), col("d_stat"),
        (col("d_stat") * sqrt((dec(col("n_ref")) * dec(col("n_cur")))
            .cast("double") /
          (col("n_ref") + col("n_cur")).cast("double"))).as("ks_scaled"))
      .withColumn("reject_05", col("ks_scaled") > lit(1.358))
  }

  /** One-dimensional Wasserstein-1 (earth-mover) distance between a
    * reference and a current slice — the INTEGRAL-gap sibling of
    * [[ksReport]]'s max gap: EMD = ∫|F_ref − F_cur| dx reads HOW MUCH
    * mass moved HOW FAR (a small shift of everything and a large shift
    * of a sliver read the same to KS; EMD separates them — the metric
    * behind drift-magnitude alerts). On the `binWidth` grid the CDFs
    * are step functions, so the integral is exact: Σ over populated
    * bins of |cum_ref·t_cur − cum_cur·t_ref| · (next_bin − bin),
    * every term an exact integer (the gap beyond the last populated
    * bin is identically zero), accumulated in DECIMAL(38,0) —
    * order-independent — with ONE IEEE divide by t_ref·t_cur and one
    * multiply by binWidth at the end. Same bounded-spine shape as
    * [[ksReport]]; null when either slice is empty.
    *
    * Output: one row (n_ref, n_cur, emd). */
  def emdReport(df: DataFrame, value: Column, isRef: Column,
      binWidth: Double): DataFrame = {
    require(binWidth > 0, "emdReport: binWidth > 0")
    val g = df
      .withColumn("bin", floor(value / binWidth).cast("long"))
      .filter(col("bin").isNotNull)
      .withColumn("is_ref", coalesce(isRef, lit(false)))
      .groupBy(col("bin"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
           sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
    emdFromCounts(g, binWidth)
  }

  /** The EMD tail over a pre-binned (bin, n_ref, n_cur) relation —
    * shared with [[emdIngest]] so each streamed per-batch report is
    * bit-equal to [[emdReport]] over reference ∪ batch. */
  private def emdFromCounts(g: DataFrame, binWidth: Double): DataFrame = {
    def dec(c: Column) = c.cast(org.apache.spark.sql.types.DecimalType(19, 0))
    val w = Window.orderBy(col("bin"))
    val c = g.select(col("bin"), col("n_ref"), col("n_cur"),
      sum(col("n_ref")).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .as("cr"),
      sum(col("n_cur")).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .as("cc"),
      lead(col("bin"), 1).over(w).as("next_bin"))
    val t = g.agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
    c.crossJoin(t)
      .agg(max(col("t_ref")).as("n_ref"), max(col("t_cur")).as("n_cur"),
        // the last populated bin has no successor AND a zero gap
        // (cr = t_ref, cc = t_cur there) — coalesce its width to 0
        sum(abs(dec(col("cr")) * dec(col("t_cur")) -
            dec(col("cc")) * dec(col("t_ref"))) *
          dec(coalesce(col("next_bin") - col("bin"), lit(0L))))
          .as("area"))
      .select(col("n_ref"), col("n_cur"),
        (col("area").cast("double") /
          nullif((dec(col("n_ref")) * dec(col("n_cur"))).cast("double"),
            lit(0.0)) * lit(binWidth)).as("emd"))
  }

  /** Streaming EMD drift monitor — completes the monitor-twin set
    * (PSI/KS/AUC/calibration all stream; this is the Wasserstein
    * member): frozen reference bin counts as driver literals, one
    * appended (batch_id, n_ref, n_cur, emd) row per micro-batch,
    * bit-equal to [[emdReport]] over reference ∪ that batch through
    * the shared tail; exactly-once through the
    * [[Sketches.writeDeltaTo]] delta-partition contract (a crash-window
    * replay rewrites its own batch_id partition, never appends a
    * duplicate drift row). */
  def emdIngest(reference: DataFrame, value: Column, binWidth: Double,
      reportTable: String, stateTable: String): (DataFrame, Long) => Unit = {
    require(binWidth > 0, "emdIngest: binWidth > 0")
    def binOf(v: Column): Column = floor(v / binWidth).cast("long")
    val refCounts: Seq[(Long, Long)] = reference
      .select(binOf(value).as("bin"))
      .filter(col("bin").isNotNull)
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      val spark = batch.sparkSession
      import spark.implicits._
      val ref = refCounts.toDF("bin", "n_ref")
      val cur = batch.select(binOf(value).as("bin"))
        .filter(col("bin").isNotNull)
        .groupBy(col("bin")).agg(count(lit(1)).as("n_cur"))
      val g = ref.join(cur, Seq("bin"), "full_outer")
        .na.fill(0L, Seq("n_ref", "n_cur"))
      Sketches.writeDeltaTo(
        emdFromCounts(g, binWidth)
          .select(col("n_ref"), col("n_cur"), col("emd")),
        batchId, reportTable, stateTable)
    }
  }

  /** Streaming KS drift monitor — the [[psiIngest]] pattern applied to
    * [[ksReport]]: the reference CDF freezes as driver literals (one
    * count per POPULATED reference bin — bounded by the reference
    * range / binWidth), and each micro-batch appends one report row
    * (batch_id, n_ref, n_cur, d_stat, ks_scaled, reject_05) BIT-EQUAL
    * to the batch ksReport over reference ∪ that batch (same grid,
    * same exact-integer gap arithmetic) — StreamingSpec pins the
    * equality, so alert thresholds tuned on batch reports transfer.
    *
    * Delivery: exactly-once through the [[Sketches.writeDeltaTo]]
    * delta-partition contract — a replayed batch id is skipped whole,
    * and a crash-window replay (report written, state not yet)
    * rewrites its own batch_id partition instead of appending a
    * duplicate row to the drift series. */
  def ksIngest(reference: DataFrame, value: Column, binWidth: Double,
      reportTable: String, stateTable: String): (DataFrame, Long) => Unit = {
    require(binWidth > 0, "ksIngest: binWidth > 0")
    def binOf(v: Column): Column = floor(v / binWidth).cast("long")
    val refCounts: Seq[(Long, Long)] = reference
      .select(binOf(value).as("bin"))
      .filter(col("bin").isNotNull)
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      val spark = batch.sparkSession
      import spark.implicits._
      val ref = refCounts.toDF("bin", "n_ref")
      val cur = batch.select(binOf(value).as("bin"))
        .filter(col("bin").isNotNull)
        .groupBy(col("bin")).agg(count(lit(1)).as("n_cur"))
      val g = ref.join(cur, Seq("bin"), "full_outer")
        .na.fill(0L, Seq("n_ref", "n_cur"))
      Sketches.writeDeltaTo(
        ksFromCounts(g)
          .select(col("n_ref"), col("n_cur"),
            col("d_stat"), col("ks_scaled"), col("reject_05")),
        batchId, reportTable, stateTable)
    }
  }

  /** Ranking quality (AUC-ROC) of a scored binary classifier — the
    * companion eval to [[calibrationReport]] (calibration says the
    * probabilities are honest, AUC says the ORDERING separates the
    * classes; a corpus-gating filter needs both). Computed as the
    * tie-corrected Mann-Whitney U without ever ranking rows: scores
    * arrive on the round(·,6) grid from
    * [[TextAnalysis.qualityClassifier]], so the distinct-score spine is
    * BOUNDED at ≤ 1e6+1 values at any corpus size — one hash
    * aggregation collapses the corpus onto the spine, one window over
    * the spine accumulates negatives-below, and U doubles into an
    * exact integer (2·U = Σ 2·np_g·cumneg_g + np_g·nn_g, every term a
    * product of longs), so auc = U2/(2·pos·neg) is one IEEE divide and
    * the report hash-proves cross-engine. Output: one row (n, n_pos,
    * n_neg, auc); degenerate single-class inputs yield null auc. */
  def aucReport(scored: DataFrame, score: String, label: String): DataFrame =
    aucFromSpine(scored
      .groupBy(col(score).as("s"))
      .agg(count(lit(1)).as("n"), sum(col(label).cast("long")).as("np")))

  /** The Mann-Whitney tail of [[aucReport]] over a pre-aggregated
    * (s, n, np) score spine — shared with [[aucMerged]] so the
    * streaming-maintained spine reads the identical AUC. */
  private def aucFromSpine(g0: DataFrame): DataFrame = {
    val g = g0.withColumn("nn", col("n") - col("np"))
    val w = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val c = g.withColumn("cumneg", coalesce(sum(col("nn")).over(w), lit(0L)))
    c.agg(
        sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(lit(2L) * col("np") * col("cumneg") + col("np") * col("nn"))
          .as("u2"))
      .select(
        (col("n_pos") + col("n_neg")).as("n"),
        col("n_pos"), col("n_neg"),
        round(col("u2").cast("double") /
          nullif(lit(2.0) * col("n_pos").cast("double") *
            col("n_neg").cast("double"), lit(0.0)), 6).as("auc"))
  }

  /** Per-segment AUC — [[aucReport]] partitioned by a slice column
    * (source, language, time bucket): the fairness/segment eval that
    * catches a filter whose global AUC hides a collapsed slice. Same
    * tie-corrected Mann-Whitney arithmetic, with the cumulative-
    * negatives window partitioned per segment, so state per segment
    * stays bounded by the score spine. Output: one row per segment
    * (segment, n, n_pos, n_neg, auc), null auc for single-class
    * segments. */
  def aucReportBy(scored: DataFrame, segment: String, score: String,
      label: String): DataFrame = {
    val g = scored
      .groupBy(col(segment).as("seg"), col(score).as("s"))
      .agg(count(lit(1)).as("n"), sum(col(label).cast("long")).as("np"))
      .withColumn("nn", col("n") - col("np"))
    val w = Window.partitionBy(col("seg")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val c = g.withColumn("cumneg", coalesce(sum(col("nn")).over(w), lit(0L)))
    c.groupBy(col("seg"))
      .agg(
        sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(lit(2L) * col("np") * col("cumneg") + col("np") * col("nn"))
          .as("u2"))
      .select(col("seg").as(segment),
        (col("n_pos") + col("n_neg")).as("n"),
        col("n_pos"), col("n_neg"),
        round(col("u2").cast("double") /
          nullif(lit(2.0) * col("n_pos").cast("double") *
            col("n_neg").cast("double"), lit(0.0)), 6).as("auc"))
      .orderBy(col(segment))
  }

  /** Streaming twin of [[aucReport]]: each micro-batch appends its
    * per-score partial counts (s, n, np) to `spineTable` — the spine is
    * BOUNDED (scores live on the round(·,6) grid), so the table grows
    * by at most 1e6+1 rows per batch regardless of batch size, and the
    * merge is additive, so arrival order and batch boundaries cannot
    * change the merged counts. [[aucMerged]] then reads the identical
    * AUC the one-shot batch report computes — the standing
    * eval-on-ingest a scored corpus needs (is the filter's separation
    * drifting as new data arrives?) without ever re-scanning scored
    * history. Exactly-once through the [[Sketches.writeDeltaTo]]
    * delta-partition contract (an appended replay would double-count
    * its scores; the partition overwrite rewrites instead). */
  def aucIngest(score: String, label: String, spineTable: String,
      stateTable: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      Sketches.writeDeltaTo(
        batch
          .groupBy(col(score).as("s"))
          .agg(count(lit(1)).as("n"), sum(col(label).cast("long")).as("np")),
        batchId, spineTable, stateTable)
    }

  /** AUC from an [[aucIngest]]-maintained spine: re-aggregate the
    * per-batch partials (additive, so equal to one-shot counts) and run
    * the shared Mann-Whitney tail. */
  def aucMerged(spark: org.apache.spark.sql.SparkSession,
      spineTable: String): DataFrame =
    aucFromSpine(spark.table(spineTable)
      .groupBy(col("s"))
      .agg(sum(col("n")).as("n"), sum(col("np")).as("np")))

  /** Streaming twin of [[psiReport]] — the standing input-drift monitor
    * a curation pipeline actually runs: the REFERENCE histogram is
    * frozen once (it is ≤ `bins` longs, so it collapses to driver
    * literals — per-batch work is ONE aggregation of the batch plus a
    * projection, no reference join at all), and each micro-batch
    * appends its full per-bin PSI report to `reportTable` keyed by
    * batch_id. Report rows are BIT-EQUAL to calling [[psiReport]] on
    * reference ∪ batch (same bin clamp, same add-half smoothing, same
    * rounding) — StreamingSpec pins the equality — so alerting
    * thresholds tuned on batch reports transfer unchanged.
    *
    * Delivery: exactly-once through the [[Sketches.writeDeltaTo]]
    * delta-partition contract — a replayed batch id is skipped whole,
    * and a crash-window replay rewrites its own batch_id partition
    * instead of appending a duplicate report. */
  def psiIngest(reference: DataFrame, value: Column, binWidth: Double,
      bins: Int, reportTable: String, stateTable: String)
      : (DataFrame, Long) => Unit = {
    require(bins >= 2 && binWidth > 0, "psiIngest: bins >= 2, binWidth > 0")
    def binOf(v: Column): Column =
      greatest(lit(0L), least(floor(v / binWidth), lit(bins - 1))).cast("int")
    val refMap = reference.select(binOf(value).as("bin"))
      .filter(col("bin").isNotNull)
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val refCounts: Seq[Long] = (0 until bins).map(b => refMap.getOrElse(b, 0L))
    val tRef = refCounts.sum
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val cur = batch.select(binOf(value).as("bin"))
        .filter(col("bin").isNotNull)
        .groupBy(col("bin")).agg(count(lit(1)).as("n_cur"))
      val spine = spark.range(bins.toLong)
        .select(col("id").cast("int").as("bin"))
      val full = spine.join(cur, Seq("bin"), "left")
        .na.fill(0L, Seq("n_cur"))
        .withColumn("n_ref", element_at(typedlit(refCounts), col("bin") + 1))
      // coalesce: a batch whose every value is null has no populated
      // bins — t_cur must read 0 (matching psiReport over the union),
      // not null
      val t = cur.agg(coalesce(sum(col("n_cur")), lit(0L)).as("t_cur"))
      val pRef = (col("n_ref").cast("double") + lit(0.5)) /
        (lit(tRef).cast("double") + lit(0.5 * bins))
      val pCur = (col("n_cur").cast("double") + lit(0.5)) /
        (col("t_cur").cast("double") + lit(0.5 * bins))
      Sketches.writeDeltaTo(
        full.crossJoin(t)
          .select(col("bin"), col("n_ref"), col("n_cur"),
            round(pRef, 6).as("ref_share"),
            round(pCur, 6).as("cur_share"),
            round((pRef - pCur) * log(pRef / pCur), 6).as("psi_contrib")),
        batchId, reportTable, stateTable)
    }
  }

  /** One-row classifier scorecard — the consolidated eval a gating
    * filter ships with: threshold metrics (accuracy / precision /
    * recall / F1 at 0.5), the Brier score, and expected calibration
    * error (ECE) over `bins` equal-width bins. ONE corpus pass builds
    * the counts and the Brier sum, one ≤-`bins` aggregation builds the
    * ECE; every reported number is either an IEEE division of exact
    * integers or an exact-decimal-grid sum divided once:
    * (score−y)² snaps to a 1e-12 grid (scores are round(·,6), so the
    * square is EXACTLY a 12-decimal value — the snap loses nothing),
    * and each bin's n·|gap| ECE term snaps to 1e-9 before the
    * bin-order-independent integer sum. Degenerate precision/recall
    * denominators (no predicted / no actual positives) report null.
    * Output: (n, accuracy, precision_, recall_, f1, brier, ece). */
  def evalSummary(scored: DataFrame, score: String, label: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, "evalSummary: bins >= 2")
    import org.apache.spark.sql.types.DecimalType
    val pred = col(score) >= 0.5
    val pos = col(label).cast("double") === 1.0
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val sqErr = (col(score) - col(label).cast("double")) *
      (col(score) - col(label).cast("double"))
    val base = scored.agg(
      count(lit(1)).as("n"),
      cnt(pred && pos).as("tp"), cnt(pred && !pos).as("fp"),
      cnt(!pred && pos).as("fn"), cnt(!pred && !pos).as("tn"),
      (sum(round(sqErr * lit(1e12)).cast("long").cast(DecimalType(38, 0)))
        .cast("double") / count(lit(1)) / lit(1e12)).as("brier"))
    val binned = calibrationReport(scored, score, label, bins)
      .select(col("n").as("nb"), col("gap"))
      .agg(coalesce(
        sum(round(col("nb").cast("double") * abs(col("gap")) * lit(1e9))
          .cast("long").cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0)))
        .cast("double").as("ece_num"))
    val p = col("tp").cast("double") /
      nullif((col("tp") + col("fp")).cast("double"), lit(0.0))
    val r = col("tp").cast("double") /
      nullif((col("tp") + col("fn")).cast("double"), lit(0.0))
    base.crossJoin(binned).select(
      col("n"),
      ((col("tp") + col("tn")).cast("double") / col("n").cast("double"))
        .as("accuracy"),
      p.as("precision_"), r.as("recall_"),
      (lit(2.0) * p * r / nullif(p + r, lit(0.0))).as("f1"),
      col("brier"),
      (col("ece_num") / col("n").cast("double") / lit(1e9)).as("ece"))
  }

  /** Cohen's kappa between two binary labelers over one relation — the
    * inter-annotator-agreement / classifier-vs-gold eval (labeling
    * pipelines need agreement BEYOND CHANCE, not raw accuracy: a 95%
    * positive corpus gives 90% raw agreement to two coin-flippers).
    * ONE conditional-aggregate pass builds the 2×2 contingency table;
    * po, pe and kappa are IEEE divisions of exact integer counts — the
    * pe marginal products multiply as DECIMAL(38,0) (two ~n marginals
    * would silently wrap a long past ~3e9 rows in non-ANSI mode), so
    * the report stays exact and hash-proves cross-engine at any corpus
    * size. Null labels on either side are excluded
    * (pairwise-complete). Degenerate chance-perfect agreement (pe = 1)
    * reports null kappa. Output: one row (n, n11, n10, n01, n00, po,
    * pe, kappa). */
  def kappaReport(df: DataFrame, labelA: Column, labelB: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val a = labelA.cast("boolean")
    val b = labelB.cast("boolean")
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    df.filter(a.isNotNull && b.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        cnt(a && b).as("n11"), cnt(a && !b).as("n10"),
        cnt(!a && b).as("n01"), cnt(!a && !b).as("n00"))
      .withColumn("po",
        (col("n11") + col("n00")).cast("double") / col("n").cast("double"))
      .withColumn("pe",
        (dec(col("n11") + col("n10")) * dec(col("n11") + col("n01")) +
         dec(col("n01") + col("n00")) * dec(col("n10") + col("n00")))
          .cast("double") /
          (col("n").cast("double") * col("n").cast("double")))
      .withColumn("kappa",
        (col("po") - col("pe")) / nullif(lit(1.0) - col("pe"), lit(0.0)))
  }

  /** Deterministic Poisson-bootstrap confidence interval for a RATIO
    * metric (accuracy, threshold precision, conversion, pass-rate —
    * anything of the form Σ success / Σ total): each of `reps`
    * replicates reweights every row by an iid Poisson(1) draw — the
    * standard bootstrap approximation whose weights come from the
    * row's md5(id, rep) hash through the inverted Poisson CDF, so the
    * "randomness" is a pure projection: engine-portable, shuffle-free,
    * and identical on every rerun and partitioning. ONE pass over the
    * reps×n expansion (bounded: reps is a constant) aggregates every
    * replicate's integer (Σw·s, Σw); the interval is PERCENTILE_DISC
    * over the reps replicate ratios — a selection from actually
    * computed values (no interpolation to disagree on). Output: one
    * row (n, point, lo, hi) at the given coverage; the point estimate
    * is the full-sample ratio, exact. */
  def bootstrapRatioCi(df: DataFrame, id: Column, success: Column,
      reps: Int = 32, coverage: Double = 0.95, seed: Long = 0L): DataFrame = {
    require(reps >= 8, "bootstrapRatioCi: reps >= 8")
    require(coverage > 0 && coverage < 1, "bootstrapRatioCi: coverage in (0,1)")
    // inverted Poisson(1) CDF on the 52-bit md5 uniform; weights 0..6
    // (P(>6) < 1e-4 — the tail truncation shifts nothing at 2^-52
    // resolution both engines share)
    val u = md5U52(concat(col("_id").cast("string"),
      lit(":"), col("rep").cast("string"), lit(":"), lit(seed.toString)))
      .cast("double") / lit(4503599627370496.0)
    val w = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238463, 3L)
      .when(u < 0.9963401531726563, 4L)
      .when(u < 0.9994058151824183, 5L)
      .otherwise(6L)
    val s01 = when(success, 1L).otherwise(0L)
    val expanded = df.select(id.as("_id"), s01.as("_s"))
      .crossJoin(df.sparkSession.range(reps.toLong)
        .select(col("id").cast("int").as("rep")))
    val perRep = expanded
      .groupBy(col("rep"))
      .agg((sum(w * col("_s")).cast("double") /
        nullif(sum(w).cast("double"), lit(0.0))).as("ratio"))
    val alpha = (1.0 - coverage) / 2.0
    val ci = perRep.agg(
      expr(s"percentile_disc($alpha) WITHIN GROUP (ORDER BY ratio)").as("lo"),
      expr(s"percentile_disc(${1.0 - alpha}) WITHIN GROUP (ORDER BY ratio)")
        .as("hi"))
    val base = df.agg(count(lit(1)).as("n"),
      (sum(s01).cast("double") / count(lit(1)).cast("double")).as("point"))
    base.crossJoin(ci).select(col("n"), col("point"), col("lo"), col("hi"))
  }

  /** Key-skew audit — the "will this key shuffle melt a task?"
    * pre-flight every big join/groupBy deserves: one hash aggregation
    * to per-key counts, then scalar statistics over the BOUNDED
    * count-of-counts spine (distinct count values, the q119 frequency-
    * table stance): max, discrete p50/p99, the skew ratio max/mean,
    * and the worst key by name (ties to the smallest key — rendered
    * as string for a deterministic total order). A skew ratio in the
    * thousands says salt this key ([[Skew.saltedMoneySum]]) or let AQE
    * split it; ~1 says the key is safe. Output: one row (n_rows,
    * n_keys, max_n, p50_n, p99_n, skew_ratio, top_key). */
  def skewAudit(df: DataFrame, key: Column): DataFrame = {
    val counts = df.filter(key.isNotNull)
      .groupBy(key.cast("string").as("k")).agg(count(lit(1)).as("n"))
    val spine = counts.groupBy(col("n")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("n"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = spine
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("nk", sum(col("c")).over(Window.partitionBy()))
    def pick(p: Double) = min(when(col("cum") >=
      greatest(lit(1L), ceil(lit(p) * col("nk").cast("double")).cast("long")),
      col("n")))
    val stats = cum.agg(
      max(col("nk")).as("n_keys"),
      sum(col("n") * col("c")).as("n_rows"),
      max(col("n")).as("max_n"),
      pick(0.5).as("p50_n"), pick(0.99).as("p99_n"))
    val top = counts
      .agg(min_by(col("k"), struct((-col("n")).as("neg"), col("k")))
        .as("top_key"))
    stats.crossJoin(top).select(
      col("n_rows"), col("n_keys"), col("max_n"), col("p50_n"), col("p99_n"),
      (col("max_n").cast("double") /
        (col("n_rows").cast("double") / col("n_keys").cast("double")))
        .as("skew_ratio"),
      col("top_key"))
  }

  /** Isotonic calibration by PAV's exact minimax form over a bounded
    * bin spine — the nonparametric upgrade of [[calibrationReport]]:
    * instead of REPORTING per-bin miscalibration it FITS the best
    * monotone score→probability map, g(i) = max_{j≤i} min_{k≥i}
    * mean(y over bins j..k) (the closed form of pool-adjacent-
    * violators; Robertson et al. 1988). Never touches rows twice: one
    * pass bins the corpus (≤ bins rows of state), prefix sums give
    * every range mean from two subtractions, and the minimax is a
    * bounded ≤ bins³ triple join over the spine — broadcast, no
    * shuffle of anything corpus-sized, the identical plan at 100 TB.
    * Every range mean is a ratio of exact integers (IEEE-portable, so
    * the fit hash-matches any engine); min/max of such ratios
    * likewise. Output: (bin, n, n_pos, frac_pos, isotonic) ordered by
    * bin; `isotonic` is nondecreasing by construction. */
  def isotonicCalibration(df: DataFrame, score: Column, label: Column,
      bins: Int = 20): DataFrame = {
    require(bins >= 2 && bins <= 64, "isotonicCalibration: 2 <= bins <= 64")
    val spine = df.filter(score.isNotNull && label.isNotNull)
      .withColumn("bin", greatest(lit(0L),
        least(floor(score * bins), lit(bins - 1))).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(label.cast("long")).as("n_pos"))
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = spine
      .withColumn("cn", sum(col("n")).over(w))
      .withColumn("cp", sum(col("n_pos")).over(w))
    val lo = cum.select(col("bin").as("j"),
      (col("cn") - col("n")).as("cn0"), (col("cp") - col("n_pos")).as("cp0"))
    val hi = cum.select(col("bin").as("k"),
      col("cn").as("cn1"), col("cp").as("cp1"))
    // range means A(j,k) for present bins j <= k: (Σpos)/(Σn), a pure
    // integer ratio (every range holds >= 1 row, so never 0/0)
    val ranges = lo.join(broadcast(hi), col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("cp1") - col("cp0")).cast("double") /
          (col("cn1") - col("cn0")).cast("double")).as("a"))
    val fit = spine.select(col("bin").as("i"))
      .join(broadcast(ranges), col("j") <= col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("j")).agg(min(col("a")).as("mn"))
      .groupBy(col("i")).agg(max(col("mn")).as("isotonic"))
    spine.join(broadcast(fit), col("bin") === col("i"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double"))
          .as("frac_pos"),
        col("isotonic"))
      .orderBy(col("bin"))
  }

  /** k-anonymity / l-diversity audit over caller-named
    * quasi-identifier columns — the re-identification pre-flight a
    * governed corpus needs BEFORE release (and the measurement
    * counterpart of [[graft.Catalog.deleteRows]]: deletion handles the
    * named individual, this measures whether the remainder still hides
    * everyone else). One hash aggregation to equivalence classes
    * (rows sharing all quasi-identifier values); the report reduces
    * the BOUNDED class table: k_anonymity = the smallest class (an
    * attacker matching any quasi-tuple finds ≥ k candidates),
    * l_diversity = the fewest distinct sensitive values in any class
    * (k alone fails when the whole class shares one diagnosis —
    * homogeneity attack), plus how many rows sit in classes below the
    * target k. Pure integer outputs — hash-portable by construction.
    * Output: one row (n_rows, n_classes, k_anonymity, l_diversity,
    * n_classes_below_k, n_rows_below_k, pct_rows_below_k). */
  def kAnonymityAudit(df: DataFrame, quasi: Seq[(String, Column)],
      sensitive: Column, k: Int): DataFrame = {
    require(quasi.nonEmpty, "kAnonymityAudit: at least one quasi-id")
    require(k >= 2, "kAnonymityAudit: k >= 2")
    val classes = df
      .groupBy(quasi.map { case (n, c) => c.as(n) }: _*)
      .agg(count(lit(1)).as("cnt"),
        count_distinct(sensitive).as("nsens"))
    classes.agg(
      sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_classes"),
      min(col("cnt")).as("k_anonymity"),
      min(col("nsens")).as("l_diversity"),
      sum(when(col("cnt") < k, 1L).otherwise(0L)).as("n_classes_below_k"),
      sum(when(col("cnt") < k, col("cnt")).otherwise(0L))
        .as("n_rows_below_k"))
      .withColumn("pct_rows_below_k",
        col("n_rows_below_k").cast("double") / col("n_rows").cast("double"))
  }

  /** Seeded Laplace noise for [[dpNoisyCounts]] — computed ON THE
    * DRIVER (one Math.log per released cell; ln at data-dependent
    * points differs across engine libms, so it never enters a plan —
    * the [[Retrieval]] NDCG-discount stance) and snapped to the 1e-9
    * grid so the same literal embeds in both the Spark plan and the
    * oracle SQL. The uniform comes from the shared 52-bit md5 urn
    * keyed (seed, group): deterministic, engine-free, rerun-identical. */
  def dpLaplaceNoise(seed: Long, group: String, epsilon: Double): Double = {
    require(epsilon > 0, "dpLaplaceNoise: epsilon > 0")
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed:$group".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 13)
    val u = java.lang.Long.parseLong(hex, 16).toDouble / 4503599627370496.0
    val c = u - 0.5
    // inverse-CDF Laplace(0, 1/ε); |c| < 0.5 strictly (u < 1 by urn)
    val raw = -math.signum(c) * math.log(1.0 - 2.0 * math.abs(c)) / epsilon
    math.round(raw * 1e9) / 1e9
  }

  /** ε-differentially-private count release over a CALLER-LITERAL
    * group list — the governance sibling of [[kAnonymityAudit]]: where
    * the audit says "these cells are too small to show", this releases
    * every cell with Laplace(1/ε) noise so no single row's presence
    * moves any count by a detectable amount (counts have sensitivity
    * 1; ε=0.1 is a strong guarantee, ε=2 a weak one). The group list
    * must be DATA-INDEPENDENT literals (releasing data-derived group
    * NAMES would itself leak — the standard DP practice of a fixed
    * domain); absent groups release as noisy zero, indistinguishable
    * from small. Noise is seeded per (seed, group) via
    * [[dpLaplaceNoise]] driver literals; the noisy count is one IEEE
    * addition of an exact long and that literal — bit-portable, and
    * deliberately NOT rounded back to an integer (rounding re-spends
    * budget arguing over ties; standard practice releases the real
    * value). Output: (g, epsilon, noisy_count) ordered by g. */
  def dpNoisyCounts(df: DataFrame, group: Column, groups: Seq[String],
      epsilon: Double, seed: Long = 0L): DataFrame = {
    require(groups.nonEmpty && groups.distinct.size == groups.size,
      "dpNoisyCounts: distinct literal groups")
    require(epsilon > 0, "dpNoisyCounts: epsilon > 0")
    val spark = df.sparkSession
    import spark.implicits._
    val noise = groups.map(g => (g, dpLaplaceNoise(seed, g, epsilon)))
      .toDF("g", "_noise")
    val counts = df.filter(group.isin(groups.map(lit): _*))
      .groupBy(group.cast("string").as("g"))
      .agg(count(lit(1)).as("_cnt"))
    noise.join(counts, Seq("g"), "left")
      .select(col("g"), lit(epsilon).as("epsilon"),
        (coalesce(col("_cnt"), lit(0L)).cast("double") + col("_noise"))
          .as("noisy_count"))
      .orderBy(col("g"))
  }

  /** ε-DP clipped sum / count / mean release over the same fixed
    * literal domain as [[dpNoisyCounts]] — the numeric sibling: values
    * clip to the caller's [lo, hi] (unclipped sums have unbounded
    * sensitivity — one outlier row would be visible at any ε), the
    * budget splits ε/2 to the count (sensitivity 1) and ε/2 to the
    * sum (sensitivity max(|lo|,|hi|)), and the released mean is the
    * noisy ratio with the denominator floored at 1 (the standard
    * guard; a negative noisy count would otherwise flip the sign).
    * Clipped values snap to the 1e-9 grid and sum exactly; each noise
    * draw is one driver literal from the (seed, group, role) urn — so
    * the whole release is one conditional-aggregate pass plus one
    * IEEE addition/division per cell, bit-portable. Output:
    * (g, epsilon, noisy_count, noisy_sum, dp_mean) ordered by g. */
  def dpNoisyStats(df: DataFrame, group: Column, groups: Seq[String],
      value: Column, lo: Double, hi: Double, epsilon: Double,
      seed: Long = 0L): DataFrame = {
    require(groups.nonEmpty && groups.distinct.size == groups.size,
      "dpNoisyStats: distinct literal groups")
    require(lo < hi, "dpNoisyStats: lo < hi")
    require(epsilon > 0, "dpNoisyStats: epsilon > 0")
    val spark = df.sparkSession
    import spark.implicits._
    val sens = math.max(math.abs(lo), math.abs(hi))
    val noise = groups.map { g =>
      (g, dpLaplaceNoise(seed, s"$g:cnt", epsilon / 2.0),
        dpLaplaceNoise(seed, s"$g:sum", epsilon / 2.0 / sens))
    }.toDF("g", "_nc", "_ns")
    val clipped = greatest(lit(lo), least(lit(hi), value))
    val gridded = round(clipped * lit(1e9)).cast("long")
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val cells = df.filter(value.isNotNull && group.isin(groups.map(lit): _*))
      .groupBy(group.cast("string").as("g"))
      .agg(count(lit(1)).as("_cnt"), sum(gridded).as("_sum"))
    noise.join(cells, Seq("g"), "left")
      .select(col("g"), lit(epsilon).as("epsilon"),
        (coalesce(col("_cnt"), lit(0L)).cast("double") + col("_nc"))
          .as("noisy_count"),
        (coalesce(col("_sum").cast("double"), lit(0.0)) / lit(1e9) +
          col("_ns")).as("noisy_sum"))
      .withColumn("dp_mean",
        col("noisy_sum") / greatest(col("noisy_count"), lit(1.0)))
      .orderBy(col("g"))
  }

  /** Run every rule in one aggregate job. Output: (rule, column,
    * metric rounded to 6, min_ratio, pass), one row per rule, in rule
    * order. */
  def audit(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "audit: at least one rule")
    val aggs = rules.zipWithIndex.map { case (r, i) =>
      round(r.metric, 6).as(s"_m$i") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val report = rules.zipWithIndex.map { case (r, i) =>
      struct(lit(r.name).as("rule"), lit(r.column).as("column"),
        col(s"_m$i").as("metric"), lit(r.minRatio).as("min_ratio"),
        (col(s"_m$i") >= r.minRatio).as("pass"))
    }
    one.select(explode(array(report: _*)).as("r")).select(col("r.*"))
  }

  /** Functional-dependency audit: does column `lhs` determine column
    * `rhs`? For each candidate FD the report gives the group counts
    * plus the standard g3 approximateness measure — the MINIMUM number
    * of rows that would have to be deleted for the FD to hold exactly
    * (per lhs-group, everything but the modal rhs value). g3 = 0 ⟺
    * the FD holds. The discovery companion of [[audit]]'s declared
    * rules: audit checks constraints you assert, fdAudit measures ones
    * you suspect.
    *
    * Scale: each candidate is two partial-aggregatable shuffles —
    * (lhs, rhs) counts, then per-lhs rollup — on key-pair cardinality,
    * never raw rows; the final per-candidate reduction is one row.
    * Null lhs rows are excluded (a null determinant determines
    * nothing); null rhs counts as a regular value.
    *
    * Output: one row per candidate —
    * (lhs, rhs, n_rows, n_groups, n_violating, g3_rows, holds). */
  def fdAudit(df: DataFrame, candidates: Seq[(String, String)]): DataFrame = {
    require(candidates.nonEmpty, "fdAudit: no candidate FDs")
    candidates.map { case (lhs, rhs) =>
      df.filter(col(lhs).isNotNull)
        .groupBy(col(lhs).as("_l"), col(rhs).as("_r"))
        .agg(count(lit(1)).as("_n"))
        .groupBy(col("_l"))
        .agg(sum(col("_n")).as("_rows"), max(col("_n")).as("_maxn"),
          count(lit(1)).as("_ndv"))
        .agg(
          coalesce(sum(col("_rows")), lit(0L)).as("n_rows"),
          count(lit(1)).as("n_groups"),
          coalesce(sum(when(col("_ndv") > 1, lit(1L)).otherwise(lit(0L))),
            lit(0L)).as("n_violating"),
          coalesce(sum(col("_rows") - col("_maxn")), lit(0L)).as("g3_rows"))
        .select(lit(lhs).as("lhs"), lit(rhs).as("rhs"),
          col("n_rows"), col("n_groups"), col("n_violating"),
          col("g3_rows"), (col("g3_rows") === 0L).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** Murphy decomposition of the Brier score over DISCRETE forecast
    * bins — the single-number companion to [[calibrationReport]]'s
    * reliability table: with forecasts taking the bin-center values
    * p_k, the mean squared error splits EXACTLY into
    *   brier = reliability − resolution + uncertainty
    * (reliability: how far each bin's forecast sits from its observed
    * rate — lower is better; resolution: how much the bins separate
    * the base rate — higher is better; uncertainty: the base rate's
    * own variance, the no-skill floor). The identity is what makes
    * the decomposition audit-grade: `brier` is ALSO computed directly
    * from per-bin moments and must equal the recomposition to the
    * last grid digit.
    *
    * One aggregation to the bounded bin relation, one reduction over
    * it; per-bin terms snap to the 1e-12 grid and sum as exact
    * DECIMALs (the q109 ln-sum discipline), so the report
    * hash-proves. Input: `bin` an integer bin id whose forecast is
    * (bin + 0.5) / nBins; `outcome` boolean. Output: one row (n,
    * base_rate, uncertainty, reliability, resolution, brier,
    * brier_identity). */
  def brierDecomposition(df: DataFrame, bin: Column, outcome: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "brierDecomposition: nBins >= 2")
    import org.apache.spark.sql.types.DecimalType
    val cells = df.filter(bin.isNotNull && outcome.isNotNull)
      .groupBy(bin.cast("int").as("bin"))
      .agg(count(lit(1)).as("n_k"),
        sum(when(outcome, 1L).otherwise(0L)).as("s_k"))
    val wAll = Window.partitionBy()
    def d(c: Column) = c.cast("double")
    val withTotals = cells
      .withColumn("n", sum(col("n_k")).over(wAll))
      .withColumn("s", sum(col("s_k")).over(wAll))
    val pK = (d(col("bin")) + lit(0.5)) / lit(nBins.toDouble)
    val obarK = d(col("s_k")) / d(col("n_k"))
    val obar = d(col("s")) / d(col("n"))
    def grid12(c: Column) = round(c, 12).cast(DecimalType(28, 12))
    val relTerm = d(col("n_k")) * (pK - obarK) * (pK - obarK)
    val resTerm = d(col("n_k")) * (obarK - obar) * (obarK - obar)
    val brierTerm = d(col("n_k")) * pK * pK -
      lit(2.0) * pK * d(col("s_k")) + d(col("s_k"))
    val red = withTotals
      .withColumn("_rel", grid12(relTerm))
      .withColumn("_res", grid12(resTerm))
      .withColumn("_bri", grid12(brierTerm))
      .groupBy(col("n"), col("s"))
      .agg(sum(col("_rel")).as("sum_rel"), sum(col("_res")).as("sum_res"),
        sum(col("_bri")).as("sum_bri"))
    val ob = d(col("s")) / d(col("n"))
    red.select(
      col("n"),
      round(ob, 6).as("base_rate"),
      round(ob * (lit(1.0) - ob), 6).as("uncertainty"),
      round(d(col("sum_rel")) / d(col("n")), 6).as("reliability"),
      round(d(col("sum_res")) / d(col("n")), 6).as("resolution"),
      round(d(col("sum_bri")) / d(col("n")), 6).as("brier"),
      round(d(col("sum_rel")) / d(col("n")) -
        d(col("sum_res")) / d(col("n")) +
        ob * (lit(1.0) - ob), 6).as("brier_identity"))
  }

  /** Mean reciprocal rank over a RANKED retrieval relation — the
    * first-relevant-hit eval that complements [[Retrieval.ndcgDiscounts]]'s
    * graded gains and the recall@k audits (q208/q210): "how far down
    * the list is the first right answer?". Input is any (probe, rank,
    * is_relevant) relation — BM25, cosine, IVF, fused — so one
    * readout serves every retriever.
    *
    * Per-probe reduction (min rank over relevant hits), then one
    * window over the BOUNDED probe relation for the corpus MRR;
    * reciprocal ranks snap to the 1e-12 grid and sum as exact
    * DECIMALs so the mean is order-independent. Probes with no
    * relevant hit in their list contribute rr = 0 (the standard
    * truncated-MRR convention). Output: one row per probe (probe,
    * hit_rank nullable, rr, mrr) ordered by probe; `mrr` repeats the
    * corpus value on every row. */
  def mrrReport(ranked: DataFrame, probe: Column, rank: Column,
      isRelevant: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val perProbe = ranked
      .groupBy(probe.as("probe"))
      .agg(min(when(isRelevant, rank)).as("hit_rank"))
      .withColumn("rr", coalesce(
        lit(1.0) / col("hit_rank").cast("double"), lit(0.0)))
    val wAll = Window.partitionBy()
    perProbe
      .withColumn("_rr", round(col("rr"), 12).cast(DecimalType(28, 12)))
      .withColumn("mrr", round(sum(col("_rr")).over(wAll).cast("double") /
        count(lit(1)).over(wAll).cast("double"), 6))
      .select(col("probe"), col("hit_rank").cast("int").as("hit_rank"),
        col("rr"), col("mrr"))
      .orderBy(col("probe"))
  }

  /** Herfindahl–Hirschman concentration of a weighted group mix — the
    * one-row "is this corpus dominated by one source?" audit that
    * belongs next to the mixture weights (q81): HHI = Σ share²
    * (1/n_groups = uniform, 1 = monopoly), its min-max normalized
    * form, and the effective number of groups 1/HHI (the Hill number
    * a mixing plan should quote — '47 sources' can behave like 3).
    *
    * One aggregation to the per-group weight relation; shares are
    * IEEE ratios of exact DECIMAL weight sums, each share² snapped to
    * the 1e-12 grid and summed exactly. `weight` must be a
    * non-negative integer-valued column (counts, tokens, bytes).
    * Output: one row (n_groups, hhi, hhi_norm, n_effective);
    * hhi_norm is null for a single group. */
  def hhiReport(df: DataFrame, group: Column, weight: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def d(c: Column) = c.cast("double")
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val per = df.filter(group.isNotNull && weight.isNotNull)
      .groupBy(group.as("g"))
      .agg(sum(dec(weight.cast("long"))).as("wg"))
    val tot = per.agg(sum(col("wg")).as("wt"), count(lit(1)).as("k"))
    val hhi = per.crossJoin(broadcast(tot))
      .select(col("k"),
        round(d(col("wg")) / d(col("wt")) * (d(col("wg")) / d(col("wt"))),
          12).cast(DecimalType(28, 12)).as("s2"))
      .groupBy(col("k"))
      .agg(sum(col("s2")).cast("double").as("hhi"))
    hhi.select(col("k").as("n_groups"),
      round(col("hhi"), 6).as("hhi"),
      when(col("k") > 1, round(
        (col("hhi") - lit(1.0) / d(col("k"))) /
          (lit(1.0) - lit(1.0) / d(col("k"))), 6)).as("hhi_norm"),
      round(lit(1.0) / col("hhi"), 6).as("n_effective"))
  }
}
