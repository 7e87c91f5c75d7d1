package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{bloomHits, bloomPositions, cmsSketch, kmvMergeStats, md5U52}

/** Engine-portable sketches. Spark's built-in sketches (HLL++,
  * approx percentiles — q24/q36) are correct and fast but their
  * internals are engine-specific, so the driver can only rows-check
  * them. This HyperLogLog is built from first principles on md5-derived
  * hashes and a pinned estimator, so ANY SQL engine can recompute the
  * registers AND the estimate bit-for-bit — the sketch itself becomes
  * hash-provable.
  *
  * Design (classic Flajolet HLL, m = 256 registers, no range
  * corrections — the estimator is pinned, documented, and measured
  * against the exact count in the same output):
  *  - h = the 52-bit prefix of md5(value-as-string) — exact in BIGINT
  *    and DOUBLE on every engine;
  *  - register index = h mod 256; w = h div 256 (44 payload bits);
  *  - rank ρ = 45 − bitlength(w) (position of the first 1-bit in the
  *    44-bit window; 45 for w = 0);
  *  - registers aggregate with max — ONE (group, idx) partial-agg
  *    shuffle, at most 256 rows per group survive map-side combine;
  *  - estimate = α·m² / Σ 2^−M[j], with 2^−M computed as 1/(1<<M)
  *    (exact — pow() is libm-dependent) and the Σ folded in register
  *    order over a sorted list, so the double sum is deterministic
  *    under any partial-agg split and identical across engines.
  *
  * At 100 TB this is the right shape: the shuffle carries (group, idx,
  * ρ) triples capped at m rows per group regardless of input size.
  */
object Sketches {

  /** Per-group portable-HLL distinct estimate, with the exact count and
    * relative error alongside (the sketch audits itself).
    * Output: (group, hll_estimate, n_zero_registers, exact_distinct,
    * rel_err). */
  def hllDistinct(df: DataFrame, group: String, value: String): DataFrame = {
    val regs = hllRegisters(df, group, value)
    val exact = df.groupBy(col(group))
      .agg(countDistinct(col(value)).as("exact_distinct"))
    hllEstimateFrom(regs, group).join(exact, group)
      .select(col(group), col("hll_estimate"),
        col("n_zero_registers"),
        col("exact_distinct"),
        round(abs(col("hll_estimate") - col("exact_distinct")) /
          col("exact_distinct"), 6).as("rel_err"))
  }

  /** The register relation alone — (group, idx, r), at most 256 rows
    * per group. Registers MERGE by max (idempotent and commutative),
    * which is what makes the sketch incrementally maintainable:
    * re-applying a batch is a no-op, and union→max over any batch
    * split equals the one-shot build. */
  def hllRegisters(df: DataFrame, group: String, value: String): DataFrame = {
    val m = 256
    val h = md5U52(col(value).cast("string"))
    val base = df.select(col(group), h.as("h"))
      .withColumn("idx", (col("h") % m).cast("int"))
      .withColumn("w", shiftright(col("h"), 8))
    val rho = when(col("w") === 0L, lit(45))
      .otherwise(lit(45) - length(conv(col("w"), 10, 2)))
    base.groupBy(col(group), col("idx")).agg(max(rho).as("r"))
  }

  /** The pinned estimator over a register relation (the [[hllDistinct]]
    * tail): (group, hll_estimate, n_zero_registers). */
  def hllEstimateFrom(regs: DataFrame, group: String): DataFrame = {
    val m = 256
    // SQL form: the Scala shiftleft() helper only takes a literal shift
    val term = struct(col("idx"),
      (lit(1.0) / expr("shiftleft(CAST(1 AS BIGINT), r)").cast("double")).as("t"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
    val folded = regs.groupBy(col(group))
      .agg(count(lit(1)).cast("int").as("n_present"),
        aggregate(array_sort(collect_list(term)), lit(0.0),
          (a, x) => a + x.getField("t")).as("s"))
      .withColumn("denom", col("s") + (lit(m) - col("n_present")) * lit(1.0))
      .withColumn("raw", alpha * lit(65536.0) / col("denom"))
      // small-range (linear counting) correction — standard HLL: with
      // V empty registers and a small raw estimate, m·ln(m/V) is far
      // less biased. ln() differs by <=1 ulp across libms; rounding to
      // 4 decimals puts the residual noise astronomically far from a
      // rounding boundary (same argument as the unigram-LM oracle).
      .withColumn("v", lit(m) - col("n_present"))
      .withColumn("hll_estimate", round(
        when(col("raw") <= lit(2.5 * m) && col("v") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v")))
          .otherwise(col("raw")), 4))
    folded.select(col(group), col("hll_estimate"),
      col("v").as("n_zero_registers"))
  }

  /** The d count-min cell positions of a value (md5 halves, pos_i =
    * (h1 + i·h2) mod w) — exposed so a STREAMING sketch is just
    * `posexplode(cmsPositions(...)) → groupBy(row, pos) → count` in
    * update/complete mode: the state is bounded by d·w counters
    * whatever the stream length, and incremental maintenance equals
    * the batch sketch exactly (integer sums commute). */
  def cmsPositions(c: Column, w: Int, d: Int): Column = {
    require(w > 0 && d > 0, "w and d must be positive")
    val hx = md5(c.cast("string"))
    val h1 = conv(substring(hx, 1, 8), 16, 10).cast("long")
    val h2 = conv(substring(hx, 9, 8), 16, 10).cast("long")
    array((0 until d).map(i => ((h1 + lit(i) * h2) % w).cast("int")): _*)
  }

  /** Portable count-min sketch for value frequencies — the heavy-hitter
    * companion to [[hllDistinct]]/[[histogramQuantiles]], built the same
    * engine-portable way: `d` hash rows of `w` counters, positions from
    * [[cmsPositions]], estimate = min over the d cells. Counter
    * updates are integer sums — associative and order-independent — so
    * the whole sketch is deterministic under any partitioning and
    * hash-matches a SQL recomputation.
    *
    * At 100 TB the shuffle after map-side combine carries at most d·w
    * counter keys whatever the input size — the sketch is the fixed-
    * memory stand-in for a full frequency table. The exact counts ride
    * along as the audit (overcount = estimate − exact is >= 0 ALWAYS:
    * a count-min estimate never undercounts).
    *
    * Output: (value, cms_estimate, exact_cnt, overcount) per distinct
    * value. */
  def countMinFrequencies(df: DataFrame, value: String,
      w: Int = 1024, d: Int = 4, audit: Boolean = true): DataFrame = {
    def positions(c: Column): Column = cmsPositions(c, w, d)
    // audit = true: ONE materialization feeds both arms (counters build
    // + exact-count probe) — without it each arm re-runs the full
    // upstream lineage (the repo's dual-arm localCheckpoint convention:
    // sourceOverlap, packShardsGlobal). audit = false: NO checkpoint —
    // materializing the whole token stream to executor-local disk is
    // exactly the unbounded cost the production form exists to avoid
    // (and a lost executor would fail the job); the probe arm's
    // distinct re-reads lineage instead.
    val projected = df.select(col(value))
    val vals = if (audit) projected.localCheckpoint() else projected
    val counters = countMinCounters(vals, value, w, d)
    // audit = true (the QA/oracle form): exact counts ride along with
    // the overcount audit. audit = false (the production-scale form):
    // the exact-count arm is skipped entirely — the sketch then costs
    // one bounded d×w counter shuffle plus a distinct over the probe
    // values, and output is (value, cms_estimate) only.
    val probe =
      if (audit) vals.groupBy(col(value).as("v")).agg(count(lit(1)).as("exact_cnt"))
      else vals.select(col(value).as("v")).distinct()
    val carried = probe.columns.map(col).toSeq
    // d x w rows by construction — broadcast is safe at any input size
    val est = probe
      .select(carried :+ posexplode(positions(col("v"))).as(Seq("row", "pos")): _*)
      .join(broadcast(counters), Seq("row", "pos"))
      .groupBy(carried: _*).agg(min(col("c")).as("cms_estimate"))
    if (audit)
      est.select(col("v").as(value), col("cms_estimate"), col("exact_cnt"),
        (col("cms_estimate") - col("exact_cnt")).as("overcount"))
    else est.select(col("v").as(value), col("cms_estimate"))
  }

  /** The bounded counters relation alone — (row, pos, c) for every
    * occupied cell, built by the one-pass [[graft.plans.CmsSketchAgg]]
    * (buffer = the d·w array, merged per partition; no d× row
    * expansion). At most d·w rows whatever the input size, so the
    * result is always broadcastable — this is the build half of the
    * production API, the piece a 100 TB job materializes ONCE and then
    * probes with [[countMinProbe]]. Bit-identical to the declarative
    * posexplode → groupBy build (integer sums commute). */
  def countMinCounters(df: DataFrame, value: String,
      w: Int, d: Int): DataFrame = {
    df.agg(cmsSketch(col(value).cast("string"), w, d).as("sk"))
      .select(posexplode(col("sk")).as(Seq("i", "c")))
      .filter(col("c") > 0)
      .select((col("i") / lit(w)).cast("int").as("row"),
        (col("i") % lit(w)).cast("int").as("pos"), col("c"))
  }

  /** Point-probe form — the production shape the full-enumeration scan
    * (q95) is NOT: estimates for a SUPPLIED query-value set only, via
    * [[cmsPositions]] on the query side + a broadcast of the bounded
    * counters. After the one counter build, the corpus is never touched
    * again — probing k values costs k·d broadcast-hash lookups, zero
    * corpus-side shuffle, which at 100 TB is the difference between
    * answering "how often does this phrase occur?" and re-running the
    * frequency job. A cell absent from `counters` held count 0 (the
    * build drops empties), so missing cells coalesce to 0 — a value
    * never seen estimates 0 unless every one of its d cells collides
    * with real mass (the standard count-min overcount, never an
    * undercount). Output: (value, cms_estimate) per query value. */
  def countMinProbe(counters: DataFrame, queries: DataFrame, value: String,
      w: Int, d: Int): DataFrame = {
    val probe = queries.select(col(value).as("v"),
      posexplode(cmsPositions(col(value), w, d)).as(Seq("row", "pos")))
    probe.join(broadcast(counters), Seq("row", "pos"), "left")
      .groupBy(col("v"))
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_estimate"))
      .select(col("v").as(value), col("cms_estimate"))
  }

  /** Bloom-filter benchmark decontamination — the sketch-backed, at-scale
    * form of [[TextAnalysis.decontaminate]]: instead of equi-joining
    * corpus shingles against the benchmark shingle set (one corpus-sized
    * shuffle of 8-byte keys), the benchmark compresses into an
    * `mBits`-bit Bloom filter whose positions come from md5 halves
    * (Kirsch–Mitzenmacher: pos_j = (h1 + j·h2) mod m — engine-portable,
    * so the whole filter AND every probe is SQL-recomputable), and the
    * corpus side becomes a PURE PROJECTION through the one-pass native
    * [[graft.plans.BloomShingleHits]] expression — zero shuffle over the
    * corpus, which at 100 TB is the difference between a decontamination
    * scan and a decontamination job.
    *
    * The filter build is bounded by construction: distinct positions
    * ≤ mBits regardless of benchmark size (the collect is at most
    * mBits longs), and the broadcast literal is mBits booleans. False
    * positive rate ≈ (1 − e^(−k·n/m))^k; false NEGATIVES are impossible,
    * so the exact arm (the q54 equi-join, rerun here as the audit) can
    * only ever find fewer hits — the output carries both counts plus
    * their difference, making the sketch self-auditing the same way
    * [[hllDistinct]] and [[histogramQuantiles]] are.
    *
    * `audit = true` (the QA/oracle form, q85) reruns the exact
    * equi-join alongside; `audit = false` is the PRODUCTION form: the
    * corpus side stays a pure projection — zero corpus shuffles, which
    * is the documented benefit the audited form gives back by paying
    * the full corpus-sized shingle shuffle it exists to avoid.
    *
    * Output: (id, n_sh, n_bloom, n_exact, n_false_pos) per corpus doc
    * when audited; (id, n_sh, n_bloom) when not. */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      id: String, text: String, n: Int, mBits: Int, kHashes: Int,
      audit: Boolean = true): DataFrame = {
    require(mBits > 0 && kHashes > 0, "mBits and kHashes must be positive")
    val setPositions = benchmark
      .select(explode(bloomPositions(col(text), n, mBits, kHashes)).as("p"))
      .distinct().collect().map(_.getLong(0).toInt)
    val bits = new Array[Boolean](mBits)
    setPositions.foreach(bits(_) = true)
    val probed = corpus.select(col(id),
        bloomHits(col(text), n, kHashes, bits.toSeq).as("bh"))
      .select(col(id), col("bh.n_sh").as("n_sh"), col("bh.n_hits").as("n_bloom"))
    if (!audit) probed
    else {
      val exact = TextAnalysis.decontaminate(corpus, benchmark, id, text, n)
        .select(col(id), col("n_hits").as("n_exact"))
      probed.join(exact, Seq(id))
        .withColumn("n_false_pos", col("n_bloom") - col("n_exact"))
    }
  }

  /** Per-group histogram quantile sketch — the portable companion to
    * engine quantile sketches (q36's percentile_approx stays rows-only
    * by nature): one min/max/count pass fixes an equi-width 256-bin
    * grid, a second pass histograms into it, and quantile q estimates
    * as the lower edge of the first bin whose cumulative count reaches
    * ceil(q·n). Every step is integer counts or deterministic double
    * arithmetic, so the sketch hash-matches any SQL engine; the exact
    * interpolated percentiles ride along as the accuracy audit (error
    * is bounded by one bin width by construction). At scale the
    * shuffles carry at most `bins` rows per group.
    *
    * Output: (group, n, p50_est/p90_est/p99_est, p50/p90/p99,
    * max_abs_err). */
  def histogramQuantiles(df: DataFrame, group: String, value: String,
      bins: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = df.groupBy(col(group))
      .agg(min(col(value)).as("mn"), max(col(value)).as("mx"),
        count(lit(1)).as("n"))
    val binned = df.select(col(group), col(value).as("v"))
      .join(broadcast(stats), group)
      .withColumn("idx",
        when(col("mx") === col("mn"), lit(0))
          .otherwise(least(lit(bins - 1).cast("long"),
            floor((col("v") - col("mn")) / (col("mx") - col("mn")) * bins))
            .cast("int")))
    val hist = binned.groupBy(col(group), col("idx")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col(group)).orderBy(col("idx"))
    val cum = hist.withColumn("cum", sum(col("c")).over(w))
      .join(broadcast(stats), group)
    def edge: Column = when(col("mx") === col("mn"), col("mn"))
      .otherwise(col("mn") + (col("mx") - col("mn")) * col("idx") / bins)
    def est(p: Double): Column =
      round(min(when(col("cum") >= ceil(lit(p) * col("n")), edge)), 6)
    val ests = cum.groupBy(col(group))
      .agg(est(0.5).as("p50_est"), est(0.9).as("p90_est"), est(0.99).as("p99_est"))
    val exact = df.groupBy(col(group))
      .agg(count(lit(1)).as("n"),
        round(expr(s"percentile($value, 0.5)"), 4).as("p50"),
        round(expr(s"percentile($value, 0.9)"), 4).as("p90"),
        round(expr(s"percentile($value, 0.99)"), 4).as("p99"))
    ests.join(exact, group)
      .select(col(group), col("n"),
        col("p50_est"), col("p90_est"), col("p99_est"),
        col("p50"), col("p90"), col("p99"),
        round(greatest(
          abs(col("p50_est") - col("p50")),
          abs(col("p90_est") - col("p90")),
          abs(col("p99_est") - col("p99"))), 6).as("max_abs_err"))
  }

  // --------------------------------------------------------------------
  // Streaming sketch maintenance — EXACTLY-ONCE delta partitions.
  //
  // Sketches are mergeable state (count-min counters add; HLL registers
  // max), which admits a stronger delivery guarantee than the
  // append-only ingest tables (dedupIngest/bm25Ingest, at-least-once in
  // the crash window): each micro-batch writes its bounded per-batch
  // sketch into a batch_id PARTITION with dynamic partition overwrite,
  // so a replayed batch REPLACES its own partition byte-for-byte instead
  // of appending twice — an additive merge would otherwise double-count.
  // The merged sketch is an on-demand fold over the deltas (max nBatches
  // × bounded-sketch rows, compactable by rewriting); the corpus itself
  // is touched once per batch, never re-read.
  // --------------------------------------------------------------------

  /** Land one batch's delta rows into `table` partition
    * batch_id=`batchId` IDEMPOTENTLY (no replay guard, no state write —
    * callers own those): first write creates the table partitioned on
    * batch_id (optionally bucketed, for index tables whose readers
    * equi-join the bucket column shuffle-free); later writes use
    * dynamic partition overwrite, which touches ONLY the batch_id
    * partitions present in this write — a replay of the crash window
    * (delta written, state not yet) REWRITES its own partition
    * byte-for-byte instead of appending a duplicate. `delta` must not
    * already carry a batch_id column. */
  private[operators] def landDelta(delta: DataFrame, batchId: Long,
      table: String, bucket: Option[(Int, String)] = None): Unit = {
    val spark = delta.sparkSession
    val withId = delta.withColumn("batch_id", lit(batchId))
    if (!spark.catalog.tableExists(table)) {
      val w0 = withId.write.partitionBy("batch_id")
      bucket.fold(w0) { case (n, c) => w0.bucketBy(n, c) }.saveAsTable(table)
    } else {
      // Session conf, not writer option: insertInto into a catalog
      // table does not honor the per-write option
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try withId.write.mode("overwrite").insertInto(table)
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  /** [[landDelta]] wrapped in the standard replay contract: skip whole
    * batches at or below the recorded high-water mark, land the delta,
    * then advance `stateTable` — delta-before-state plus the
    * partition-overwrite write make redelivery of the crash window
    * exactly-once. Package-visible: the drift/eval monitor ingests
    * (Quality) and ANN index ingests (Similarity) share the contract. */
  private[operators] def writeDeltaTo(delta: DataFrame, batchId: Long,
      deltaTable: String, stateTable: String,
      bucket: Option[(Int, String)] = None): Unit = {
    val spark = delta.sparkSession
    import spark.implicits._
    val lastBatch: Long =
      if (spark.catalog.tableExists(stateTable))
        spark.table(stateTable).head().getLong(0)
      else -1L
    if (batchId > lastBatch) {
      landDelta(delta, batchId, deltaTable, bucket)
      Seq(batchId).toDF("last_batch")
        .write.mode("overwrite").saveAsTable(stateTable)
    }
  }

  /** Write one batch's sketch rows into `<prefix>_deltas` partition
    * batch_id=`batchId`, idempotently, and advance `<prefix>_state`.
    * Package-visible: the DSIR ingest loop (TextAnalysis) lands its
    * bucket-LM deltas through the same contract. */
  private[operators] def writeDelta(delta: DataFrame, batchId: Long,
      prefix: String): Unit =
    writeDeltaTo(delta, batchId, s"${prefix}_deltas", s"${prefix}_state")

  /** Streaming count-min maintenance: a `foreachBatch` function that
    * sketches each micro-batch with [[countMinCounters]] (bounded d·w
    * rows) and lands it as an idempotent delta partition. The merged
    * sketch ([[countMinMerged]]) equals the one-shot batch build over
    * everything ingested — integer sums commute across any batch split
    * — and feeds [[countMinProbe]] unchanged. */
  def countMinIngest(value: String, prefix: String,
      w: Int = 1024, d: Int = 4): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      writeDelta(countMinCounters(batch, value, w, d), batchId, prefix)
    }

  /** The merged count-min counters over everything [[countMinIngest]]
    * has landed: (row, pos, c) — drop-in for [[countMinProbe]]. */
  def countMinMerged(spark: org.apache.spark.sql.SparkSession,
      prefix: String): DataFrame =
    spark.table(s"${prefix}_deltas")
      .groupBy(col("row"), col("pos")).agg(sum(col("c")).as("c"))

  /** Fixed-grid histogram quantile estimates — the STREAMABLE quantile
    * form: bins are a caller-fixed `binWidth` grid (the
    * [[graft.operators.Quality.psiIngest]] stance), NOT data-dependent
    * min/max edges like [[histogramQuantiles]], so bin counts are
    * purely ADDITIVE and the same report computes one-shot or from
    * merged ingest deltas, bit-equal. Estimate = left edge of the
    * first bin whose cumulative count reaches ceil(p·n) — within
    * binWidth of the true quantile by construction, every output an
    * exact multiple of binWidth. Output: one row (n, p50_est, p90_est,
    * p99_est). */
  def fixedHistogramQuantiles(df: DataFrame, value: Column,
      binWidth: Double): DataFrame = {
    require(binWidth > 0, "fixedHistogramQuantiles: binWidth > 0")
    fixedHistQuantileTail(
      df.filter(value.isNotNull)
        .groupBy(floor(value / binWidth).cast("long").as("bin"))
        .agg(count(lit(1)).as("c")),
      binWidth)
  }

  private def fixedHistQuantileTail(binCounts: DataFrame,
      binWidth: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = binCounts
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
    def est(p: Double) = min(when(col("cum") >=
      ceil(lit(p) * col("n").cast("double")).cast("long"),
      col("bin").cast("double") * lit(binWidth)))
    cum.agg(max(col("n")).as("n"),
      est(0.5).as("p50_est"), est(0.9).as("p90_est"), est(0.99).as("p99_est"))
  }

  /** Streaming twin of [[fixedHistogramQuantiles]]: per-batch bin
    * counts (bounded by the value range / binWidth) land as idempotent
    * delta partitions; counts are additive, so
    * [[histogramQuantilesMerged]] reads EXACTLY the one-shot report at
    * any point in the stream — the standing latency/length-quantile
    * monitor without re-scanning history. */
  def histogramIngest(value: Column, binWidth: Double,
      prefix: String): (DataFrame, Long) => Unit = {
    require(binWidth > 0, "histogramIngest: binWidth > 0")
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      writeDelta(
        batch.filter(value.isNotNull)
          .groupBy(floor(value / binWidth).cast("long").as("bin"))
          .agg(count(lit(1)).as("c")),
        batchId, prefix)
    }
  }

  /** Quantile estimates over everything [[histogramIngest]] landed. */
  def histogramQuantilesMerged(spark: org.apache.spark.sql.SparkSession,
      prefix: String, binWidth: Double): DataFrame =
    fixedHistQuantileTail(
      spark.table(s"${prefix}_deltas")
        .groupBy(col("bin")).agg(sum(col("c")).as("c")),
      binWidth)

  /** Compact a delta-partition spine: fold every landed batch_id
    * partition through the sketch's own `merge` (sum for count-min,
    * max for HLL — whatever the merged reader already applies) and
    * rewrite the table as ONE partition at the current high-water
    * batch id. The on-demand merge readers stay O(nBatches ×
    * boundedSketch) forever without this; compaction is the periodic
    * maintenance job that resets nBatches to 1 so a year of
    * micro-batches does not make every probe fold thousands of
    * partitions. Merged-reader results are unchanged by construction
    * (the reader applies the same merge), and the state table is
    * untouched, so the ingest replay guard keeps rejecting old batch
    * ids and new batches land as fresh partitions alongside the
    * compacted one.
    *
    * Crash safety: the merge lands in `<table>_compact_tmp` FIRST
    * (never read-and-overwrite the table it reads), then the live
    * table drops and is RECREATED from the tmp (a plain copy of the
    * bounded sketch — no renames, whose directory moves are
    * catalog-cache hazards), then the tmp drops. A crash after the
    * live drop leaves the data safe in tmp; re-running compactDeltas
    * detects that state and completes the rebuild before doing
    * anything else. Run it OUTSIDE the ingest loop (it is table
    * maintenance, not a batch handler), and only on SPINE tables —
    * bucketed index tables would lose their bucketing through the
    * rebuild. */
  def compactDeltas(spark: org.apache.spark.sql.SparkSession,
      deltaTable: String, stateTable: String,
      merge: DataFrame => DataFrame): Unit = {
    val tmp = s"${deltaTable}_compact_tmp"
    def rebuildFromTmp(): Unit = {
      spark.table(tmp).write.partitionBy("batch_id").saveAsTable(deltaTable)
      spark.sql(s"DROP TABLE $tmp")
    }
    // recovery: a previous compaction crashed after dropping the live
    // table — the tmp holds the complete compacted spine
    if (!spark.catalog.tableExists(deltaTable)) {
      require(spark.catalog.tableExists(tmp),
        s"compactDeltas: neither $deltaTable nor $tmp exists")
      rebuildFromTmp()
      return
    }
    require(spark.catalog.tableExists(stateTable),
      s"compactDeltas: $stateTable missing — nothing ingested yet")
    val lastBatch = spark.table(stateTable).head().getLong(0)
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    merge(spark.table(deltaTable).drop("batch_id"))
      .withColumn("batch_id", lit(lastBatch))
      .write.partitionBy("batch_id").saveAsTable(tmp)
    spark.sql(s"DROP TABLE $deltaTable")
    rebuildFromTmp()
  }

  /** Streaming HLL maintenance: per-batch register relations
    * ([[hllRegisters]], ≤256 rows per group) landed as idempotent delta
    * partitions; [[hllMergedEstimate]] folds them with max — the merge
    * under which HLL is exact — so the streamed estimate equals the
    * one-shot batch estimate over everything ingested. */
  def hllIngest(group: String, value: String,
      prefix: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      writeDelta(hllRegisters(batch, group, value), batchId, prefix)
    }

  /** Merged registers + the pinned estimator over everything
    * [[hllIngest]] has landed: (group, hll_estimate,
    * n_zero_registers). */
  def hllMergedEstimate(spark: org.apache.spark.sql.SparkSession,
      prefix: String, group: String): DataFrame =
    hllEstimateFrom(
      spark.table(s"${prefix}_deltas")
        .groupBy(col(group), col("idx")).agg(max(col("r")).as("r")),
      group)

  /** Bottom-k / KMV distinct sketch (Bar-Yossef et al. 2002; the
    * "K Minimum Values" estimator): keep the k smallest distinct
    * 52-bit md5 hashes per group; with h₍ₖ₎ the k-th smallest as a
    * fraction of the hash space, distinct ≈ (k−1)/ (h₍ₖ₎/2⁵²). The
    * third portable cardinality sketch beside [[hllDistinct]] (better
    * accuracy per byte at small k, and — unlike HLL registers — the
    * retained hash SAMPLE also supports set operations downstream).
    * Groups with fewer than k distinct values report their exact count
    * (the sketch IS the full distinct set there).
    *
    * Scale shape: one distinct shuffle of (group, h) 16-byte rows
    * (map-side combined), then a per-group bottom-k that Spark 4
    * plans as WindowGroupLimit — each map task forwards at most k
    * rows per group to the ranking shuffle, so no unbounded per-group
    * sort materializes. Estimate folds ≤ k rows per group.
    * Exactness: the estimate is one double division of exact integers,
    * identical on any engine; rounded to 4 like the HLL estimator.
    * Output: (group, kmv_estimate, n_kept, exact_distinct, rel_err). */
  def kmvDistinct(df: DataFrame, group: String, value: String,
      k: Int = 64): DataFrame = {
    val est = kmvEstimateFrom(kmvHashes(df, group, value, k), group, k)
    val exact = df.groupBy(col(group))
      .agg(countDistinct(col(value)).as("exact_distinct"))
    est.join(exact, group)
      .select(col(group), col("kmv_estimate"), col("n_kept"),
        col("exact_distinct"),
        round(abs(col("kmv_estimate") - col("exact_distinct")) /
          col("exact_distinct"), 6).as("rel_err"))
  }

  /** The bottom-k hash relation alone — (group, h), at most k rows per
    * group. MERGES by union → re-bottom-k (the k smallest of a union
    * are among the per-part bottom-k's — min-wise, like the HLL max),
    * which is what makes the sketch incrementally maintainable. */
  def kmvHashes(df: DataFrame, group: String, value: String,
      k: Int): DataFrame = {
    require(k >= 2, "kmvHashes: k must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val h = md5U52(col(value).cast("string"))
    val w = Window.partitionBy(col(group)).orderBy(col("h"))
    // dense_rank BEFORE the dedup: the bottom-k distinct VALUES are the
    // rows with dense_rank <= k over the raw (duplicated) stream, and
    // rank-limit windows plan as WindowGroupLimit — a map-side per-task
    // top-k filter that prunes each scan task's output to ~k rows per
    // group BEFORE the one exchange. distinct-then-row_number computed
    // the same set but shuffled the FULL distinct hash stream twice
    // (dedup exchange + window exchange). Same output rows, so every
    // downstream estimate (and the streamed delta merge) is unchanged.
    df.select(col(group), h.as("h"))
      .withColumn("rn", dense_rank().over(w))
      .filter(col("rn") <= k)
      .select(col(group), col("h"))
      .distinct()
  }

  /** The pinned KMV estimator over a bottom-k relation:
    * (group, kmv_estimate, n_kept). */
  def kmvEstimateFrom(bottom: DataFrame, group: String, k: Int): DataFrame = {
    val TwoPow52 = 4503599627370496.0
    bottom.groupBy(col(group))
      .agg(count(lit(1)).cast("int").as("n_kept"), max(col("h")).as("hk"))
      .withColumn("kmv_estimate", round(
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(TwoPow52) /
            col("hk").cast("double")), 4))
      .select(col(group), col("kmv_estimate"), col("n_kept"))
  }

  /** Streaming KMV maintenance: per-batch bottom-k hash relations
    * (≤ k rows per group) landed as idempotent delta partitions — the
    * [[hllIngest]] pattern under the min-wise merge. */
  def kmvIngest(group: String, value: String, prefix: String,
      k: Int = 64): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      writeDelta(kmvHashes(batch, group, value, k), batchId, prefix)
    }

  /** Merged bottom-k + the pinned estimator over everything
    * [[kmvIngest]] has landed — equals the one-shot batch estimate
    * (union → distinct → bottom-k is associative). */
  def kmvMergedEstimate(spark: org.apache.spark.sql.SparkSession,
      prefix: String, group: String, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(group)).orderBy(col("h"))
    val merged = spark.table(s"${prefix}_deltas")
      .select(col(group), col("h")).distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(group), col("h"))
    kmvEstimateFrom(merged, group, k)
  }

  /** Pairwise set-overlap ESTIMATES from per-group KMV sketches — the
    * sketch twin of [[Dedup.sourceOverlap]]'s exact source-pair
    * Jaccard: each group keeps only its bottom-k hash sketch (one
    * corpus pass), every pair's UNION estimate comes from the min-wise
    * merge of the two sketches (the k smallest of a union are among
    * the per-side bottom-k's), and intersection falls out by
    * inclusion–exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B). At
    * 100 TB the exact form joins per-shingle source sets across the
    * corpus; this form touches the corpus ONCE to sketch and then
    * works entirely on ≤ k-row relations per group — the |groups|²/2
    * pair space never sees a corpus row. Estimates use the pinned
    * [[kmvEstimateFrom]] estimator (4-decimal rounds), so every
    * derived number is deterministic and oracle-portable; the
    * intersection clamps at 0 (inclusion–exclusion on estimates can
    * go slightly negative for disjoint sets).
    *
    * Output: (src_a, src_b, est_a, est_b, est_union, est_inter,
    * jaccard_est) for every unordered group pair, src_a < src_b. */
  def kmvPairJaccard(df: DataFrame, group: String, value: String,
      k: Int = 256): DataFrame =
    kmvPairJaccardFrom(kmvHashes(df, group, value, k).localCheckpoint(),
      group, k)

  /** Streamed twin of [[kmvPairJaccard]]: the pair matrix over
    * everything [[kmvIngest]] has landed. The min-wise merge of the
    * delta bottom-k's equals the one-shot batch bottom-k, and the pair
    * matrix is a pure function of the bottom relation, so streamed ==
    * batch (StreamingSpec pins it). */
  def kmvPairJaccardMerged(spark: org.apache.spark.sql.SparkSession,
      prefix: String, group: String, k: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(group)).orderBy(col("h"))
    val merged = spark.table(s"${prefix}_deltas")
      .select(col(group), col("h")).distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(group), col("h"))
    kmvPairJaccardFrom(merged.localCheckpoint(), group, k)
  }

  /** The pair matrix over an already-built bottom-k relation (batch or
    * merged-from-deltas). `bottom` must be ≤ k rows per group. */
  private[graft] def kmvPairJaccardFrom(bottom: DataFrame, group: String,
      k: Int): DataFrame = {
    val per = kmvEstimateFrom(bottom, group, k)
      .select(col(group).as("g"), col("kmv_estimate").as("est"))
    // min-wise merge on PER-SOURCE SORTED ARRAYS: each sketch is ≤k
    // longs (~2 KB) by contract, so the pair matrix pairs sketches,
    // never rows. The row form materialized |pairs|×2k rows through a
    // distinct exchange and a per-pair window (≈256M rows at 100×
    // where the per-copy sources square the pair count) and heap-OOM'd
    // the one-JVM 100× run. The merge itself is the native
    // kmv_merge_stats two-pointer over the pre-sorted sketches —
    // (n_kept, hk) == (size, last) of
    // slice(array_sort(array_union(ha, hb)), 1, k), but without the
    // interpreted per-pair lambda sort that dominated the squared pair
    // grid at 100× (251 s → the union scan is O(k) per pair).
    val arrs = bottom.groupBy(col(group).as("g"))
      .agg(sort_array(collect_list(col("h"))).as("hs"))
    val unionEst = arrs.select(col("g").as("src_a"), col("hs").as("ha"))
      .crossJoin(arrs.select(col("g").as("src_b"), col("hs").as("hb")))
      .filter(col("src_a") < col("src_b"))
      .withColumn("ms",
        kmvMergeStats(col("ha"), col("hb"), k))
      // the pinned kmvEstimateFrom estimator, keyed by the pair
      .select(col("src_a"), col("src_b"),
        col("ms.n_kept").as("n_kept"), col("ms.hk").as("hk"))
      .withColumn("est_union", round(
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(4503599627370496.0) /
            col("hk").cast("double")), 4))
    unionEst
      .join(per.select(col("g").as("src_a"), col("est").as("est_a")), "src_a")
      .join(per.select(col("g").as("src_b"), col("est").as("est_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
        col("est_union"),
        greatest(col("est_a") + col("est_b") - col("est_union"),
          lit(0.0)).as("est_inter"),
        (greatest(col("est_a") + col("est_b") - col("est_union"),
          lit(0.0)) / col("est_union")).as("jaccard_est"))
  }

  /** Count-min JOIN-SIZE estimation (the sketch inner product of
    * Alon–Gilbert–Matias–Szegedy / Cormode–Muthukrishnan): with both
    * join columns sketched into the same d×w cells,
    * |A ⋈ B| = Σ_v f_A(v)·f_B(v) is estimated by
    * min_r Σ_w cA[r][w]·cB[r][w] — never an undercount, because every
    * true (v, v) pair shares its cells in every row and all terms are
    * non-negative. The cardinality estimator a cost-based planner wants
    * BEFORE running the join: each side is sketched in one pass
    * (bounded d×w integer state), the product folds 2·d·w numbers, and
    * the sides never meet in a shuffle. The exact join size rides along
    * as the audit (computed from per-value counts, not a materialized
    * join).
    * Output: one row (w, d, cms_join_estimate, exact_join_size,
    * rel_overcount ≥ 0). */
  def cmsJoinSize(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
      w: Int = 1024, d: Int = 4): DataFrame = {
    val spark = a.sparkSession
    val ca = countMinCounters(a, aCol, w, d)
      .select(col("row"), col("pos"), col("c").as("ca"))
    val cb = countMinCounters(b, bCol, w, d)
      .select(col("row"), col("pos"), col("c").as("cb"))
    val perRow = ca.join(cb, Seq("row", "pos"))
      .groupBy(col("row")).agg(sum(col("ca") * col("cb")).as("ip"))
    val est = spark.range(d).select(col("id").cast("int").as("row"))
      .join(perRow, Seq("row"), "left")
      .agg(min(coalesce(col("ip"), lit(0L))).as("cms_join_estimate"))
    val fa = a.groupBy(col(aCol).as("v")).agg(count(lit(1)).as("na"))
    val fb = b.groupBy(col(bCol).as("v")).agg(count(lit(1)).as("nb"))
    val exact = fa.join(fb, "v")
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("exact_join_size"))
    est.crossJoin(exact).select(
      lit(w).as("w"), lit(d).as("d"),
      col("cms_join_estimate"), col("exact_join_size"),
      round((col("cms_join_estimate") - col("exact_join_size")).cast("double") /
        greatest(col("exact_join_size"), lit(1L)).cast("double"), 6)
        .as("rel_overcount"))
  }

  /** KMV set-operation estimates (Bar-Yossef et al. / Beyer et al.
    * "distinct sampling"): because the bottom-k sketch RETAINS a
    * uniform hash sample (unlike HLL registers), two sketches compose:
    * the bottom-k of A ∪ B estimates the union cardinality with the
    * usual KMV estimator, and the fraction of that bottom-k present in
    * BOTH sides is an unbiased Jaccard estimate — intersection ≈
    * J·|A∪B|. The audience-overlap primitive. One distinct pass per
    * side; the global bottom-k is an ORDER BY h LIMIT k — planned as
    * TakeOrderedAndProject (per-partition heap + driver merge, no
    * global sort); membership flags come from broadcast semi-joins of
    * a k-row set. Exact union/intersection ride along as the audit.
    * Output: one row (k, n_kept, jaccard_est, union_est, inter_est,
    * exact_union, exact_inter). */
  def kmvOverlap(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
      k: Int = 256): DataFrame = {
    require(k >= 2, "kmvOverlap: k must be >= 2")
    val TwoPow52 = 4503599627370496.0
    def hashes(df: DataFrame, c: String): DataFrame = {
      df.select(md5U52(col(c).cast("string")).as("h"))
        .distinct()
    }
    val ha = hashes(a, aCol).localCheckpoint()
    val hb = hashes(b, bCol).localCheckpoint()
    val bottom = ha.union(hb).distinct().orderBy(col("h")).limit(k)
    val flagged = bottom
      .join(ha.select(col("h"), lit(1).as("in_a")), Seq("h"), "left")
      .join(hb.select(col("h"), lit(1).as("in_b")), Seq("h"), "left")
    val agg = flagged.agg(
      count(lit(1)).cast("int").as("n_kept"),
      max(col("h")).as("hk"),
      sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
        .as("n_both"))
    val exact = ha.union(hb).distinct().agg(count(lit(1)).as("exact_union"))
      .crossJoin(ha.join(hb, "h", "left_semi")
        .agg(count(lit(1)).as("exact_inter")))
    val unionEst = when(col("n_kept") < k, col("n_kept").cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(TwoPow52) / col("hk").cast("double"))
    agg.crossJoin(exact).select(
      lit(k).as("k"), col("n_kept"),
      round(col("n_both").cast("double") / col("n_kept"), 6).as("jaccard_est"),
      round(unionEst, 4).as("union_est"),
      round(col("n_both").cast("double") / col("n_kept") * unionEst, 4)
        .as("inter_est"),
      col("exact_union"), col("exact_inter"))
  }

  /** EXACT grouped PERCENTILE_DISC without a global sort, for
    * bounded-domain numeric columns (quantities, lengths, counts —
    * anywhere |distinct values| ≪ |rows|). The classic two-phase
    * shape: a (group, value) frequency table is the only corpus-wide
    * shuffle (map-side combined, one row per distinct value per group
    * whatever the row count), then the quantile selection — smallest v
    * whose cumulative count reaches ⌈q·n⌉ — runs entirely over that
    * bounded relation. The exact companion of [[histogramQuantiles]]
    * (which handles continuous domains approximately, with audit).
    * Output: (group, q, quantile_disc), one row per group × quantile. */
  def exactQuantiles(df: DataFrame, group: String, value: String,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      "exactQuantiles: quantiles must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val freq = df.groupBy(col(group), col(value).as("v"))
      .agg(count(lit(1)).as("cnt"))
    val cum = freq
      .withColumn("cum", sum(col("cnt"))
        .over(Window.partitionBy(col(group)).orderBy(col("v"))))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col(group))))
    val target = greatest(ceil(col("q") * col("n")), lit(1L))
    cum.withColumn("q", explode(array(qs.map(lit): _*)))
      .filter(col("cum") >= target && col("cum") - col("cnt") < target)
      .select(col(group), col("q"), col("v").as("quantile_disc"))
  }

  /** Key Bloom filter over a dimension column — the build half of the
    * RUNTIME-FILTER / semi-join-reduction pattern ([[bloomReduce]]).
    * Positions come from [[cmsPositions]] (md5 Kirsch–Mitzenmacher), so
    * the filter is engine-portable. The collect is bounded: distinct
    * positions ≤ mBits whatever the dimension size. */
  def keyBloomBits(dim: DataFrame, key: String, mBits: Int,
      kHashes: Int): Array[Boolean] = {
    val pos = dim.select(explode(cmsPositions(col(key), mBits, kHashes))
        .as("p")).distinct().collect().map(_.getInt(0))
    val bits = new Array[Boolean](mBits)
    pos.foreach(bits(_) = true)
    bits
  }

  /** Bloom semi-join reduction: filter the FACT side by dimension-key
    * Bloom membership as a PURE PROJECTION before any exchange — the
    * manual form of Spark's runtime row-level filtering, for when the
    * dimension is too big to broadcast whole but its key Bloom (mBits
    * booleans) is not. False positives survive to the real join (which
    * eliminates them — correctness never depends on the filter); false
    * negatives are impossible, so no fact row is lost. At 100 TB the
    * win is shuffle volume: only fact rows whose keys probably join
    * ever reach the exchange. */
  def bloomReduce(fact: DataFrame, key: String, bits: Array[Boolean],
      kHashes: Int): DataFrame =
    fact.filter(forall(
      cmsPositions(col(key), bits.length, kHashes),
      p => element_at(typedlit(bits.toSeq), p + 1)))

  /** EXACT heavy hitters at sketch cost — the Misra–Gries (1982) /
    * SpaceSaving two-pass pattern that replaces a full-vocabulary
    * aggregation when |distinct| ≫ memory (tokens, URLs, user agents
    * at 100 TB):
    *
    * Pass 1 runs k-counter Misra–Gries PER PARTITION (`mapPartitions` —
    * genuinely per-partition imperative state, the sanctioned use) and
    * emits only each partition's surviving candidate keys. The MG
    * guarantee makes the union a SUPERSET of every value with global
    * frequency > N/(k+1): such a value must exceed its share in at
    * least one partition (pigeonhole over the weighted average), and MG
    * never evicts a key whose partition frequency exceeds n_p/(k+1).
    * Candidates are ≤ k × partitions rows — broadcastable whatever the
    * corpus size.
    *
    * Pass 2 is exact and cheap: a broadcast LEFT SEMI join filters the
    * corpus to candidate rows only, so the only corpus-wide aggregation
    * shuffles ≤ k·partitions distinct keys (map-side combined), never
    * the full vocabulary. The final filter `n·(k+1) > N` is exact
    * integer arithmetic, so the OUTPUT is deterministic and
    * hash-provable even though pass-1 candidate sets vary with
    * partitioning — wrong extra candidates are filtered, and the
    * superset guarantee means no true heavy hitter is ever missed.
    *
    * Output: (`value`, n, frac) for every value with n > N/(k+1),
    * ordered by n desc. */
  def heavyHitters(df: DataFrame, value: String, k: Int): DataFrame = {
    require(k >= 1, "heavyHitters: k must be >= 1")
    import org.apache.spark.sql.Encoders
    val vals = df.select(col(value).cast("string").as("v"))
    val candidates = vals.as(Encoders.STRING).mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { v =>
        if (counters.contains(v)) counters(v) += 1L
        else if (counters.size < k) counters(v) = 1L
        else {
          // decrement-all step; runs at most n/(k+1) times total
          counters.toArray.foreach { case (key, c) =>
            if (c == 1L) counters.remove(key) else counters(key) = c - 1L
          }
        }
      }
      counters.keysIterator
    }(Encoders.STRING).toDF("candidate").distinct()
    val counts = vals
      .join(broadcast(candidates), col("v") === col("candidate"), "left_semi")
      .groupBy(col("v")).agg(count(lit(1)).as("n"))
    val total = vals.agg(count(lit(1)).as("total"))
    counts.crossJoin(broadcast(total))
      .filter(col("n") * (k + 1) > col("total"))
      .select(col("v").as(value), col("n"),
        round(col("n").cast("double") / col("total").cast("double"), 6)
          .as("frac"))
      .orderBy(col("n").desc, col(value))
  }
}
