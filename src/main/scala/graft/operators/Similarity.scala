package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorFunctions._

/** Similarity-search operators over an embedding column — the Spark-first
  * re-expression of the reference's broadcast face-matching stage
  * (/root/reference/src/prediction_producer.py:305-325: every probe
  * encoding × every broadcast known encoding, L2 <= tolerance, first
  * match wins else "Unknown").
  *
  * Scale design: [[thresholdMatch]]'s target/"known" set is small by
  * construction (it is the reference's per-query broadcast set), so it
  * is a hint-broadcast nested-loop join — probes stream through
  * executors, no shuffle of the big side. The general-purpose operators
  * ([[topK]], [[nearDupPairs]]) leave broadcast selection to planner
  * size stats, because their "target" side can be arbitrarily large;
  * their scale paths are [[ivfTopK]] and [[lshNearDup]], which replace
  * the cross/theta join with an equi-join on cell/bucket keys. Vector
  * math runs through the codegen'd native expressions
  * (graft/plans/VectorExpressions.scala), with norms precomputed per side
  * before the join so each candidate pair costs exactly one dot product.
  */
object Similarity {

  /** Threshold match against a broadcast target set; first match (lowest
    * target id) wins. EVERY probe comes back: unmatched probes carry a
    * null match_label and n_matches = 0.
    *
    * Single left-outer broadcast NLJ followed by one hash aggregation on
    * the probe id — no second join to recover unmatched probes, so the
    * big side is shuffled exactly once (for the groupBy) at any scale.
    *
    * The predicate compares the squared distance with the squared
    * tolerance, so no sqrt runs per pair.
    *
    * @param probes    (idCol, vecCol) big side — never broadcast
    * @param targets   (idCol, vecCol, labelCol) small side — broadcast
    * @param tolerance L2 match radius; must be >= 0
    */
  def thresholdMatch(
      probes: DataFrame, pId: String, pVec: String,
      targets: DataFrame, tId: String, tVec: String, tLabel: String,
      tolerance: Double): DataFrame = {
    require(tolerance >= 0, s"thresholdMatch: tolerance must be >= 0, got $tolerance")
    val joined = probes.join(
      broadcast(targets),
      fastSquaredL2(col(pVec), col(tVec)) <= tolerance * tolerance,
      "left")
    joined.groupBy(col(pId))
      .agg(min_by(col(tLabel), col(tId)).as("match_label"),
           count(col(tId)).cast("long").as("n_matches"))
  }

  /** Upper bound on the exact quadratic baselines' target side: a
    * probes×targets cross join is CORRECT at any size but quadratic, so
    * the exact forms refuse inputs past this limit instead of silently
    * becoming the job that never finishes at 100 TB. Callers that truly
    * want an unbounded exact scan pass Long.MaxValue explicitly; the
    * default routing answer is [[topKAuto]]/[[nearDupAuto]]. */
  val DefaultExactLimit: Long = 1L << 20

  /** Marker default for `trainSample` parameters: the operator derives
    * a bounded deterministic training sample itself (lowest 256·cells
    * ids — 256 points per centroid is standard quantizer-training
    * practice, and an id-ordered cut is reproducible on any
    * partitioning). Matched by reference (`eq`), so passing a regular
    * `identity` still means "train on everything I gave you". */
  val DefaultTrainSample: DataFrame => DataFrame = df => df

  /** Brute-force cosine top-k per probe against a target set.
    * Similarity is rounded to `roundTo` decimals before ranking so that
    * float-noise near-ties resolve deterministically by target id.
    *
    * The target side is deliberately NOT hint-broadcast: the planner's
    * size stats pick BNLJ-broadcast when targets genuinely fit and fall
    * back to a partitioned cartesian when they don't — forcing the hint
    * OOMs the moment a caller passes a big target relation. This is the
    * exact baseline, input-capped at `exactLimit` targets (one metadata
    * count against the scan); [[ivfTopK]] / [[topKAuto]] are the scale
    * paths. */
  def topK(
      probes: DataFrame, pId: String, pVec: String,
      targets: DataFrame, tId: String, tVec: String,
      k: Int, roundTo: Int = 6, exactLimit: Long = DefaultExactLimit): DataFrame = {
    val n = targets.count()
    require(n <= exactLimit,
      s"topK: $n targets exceed the exact-baseline cap $exactLimit — " +
        "use topKAuto/ivfTopK (or pass exactLimit=Long.MaxValue to force)")
    val p = probes.withColumn("p_nrm", fastNorm(col(pVec)))
    val t = targets.withColumn("t_nrm", fastNorm(col(tVec)))
    val sim = round(
      cosineWithNorms(col(pVec), col(tVec), col("p_nrm"), col("t_nrm")), roundTo).as("sim")
    val joined = p.crossJoin(t).select(col(pId), col(tId), sim)
    val w = Window.partitionBy(col(pId)).orderBy(col("sim").desc, col(tId))
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** All embedding pairs with cosine >= threshold (near-duplicate
    * detection by embedding). Self-join restricted to id(a) < id(b).
    * Exact-but-quadratic by definition — the small-corpus baseline,
    * input-capped at `exactLimit` rows; at scale use [[lshNearDup]] /
    * [[nearDupAuto]]. No broadcast hint: planner stats decide (a forced
    * self-broadcast ships the whole corpus to every executor and OOMs
    * long before the quadratic pair count hurts). */
  def nearDupPairs(
      vecs: DataFrame, id: String, vec: String, threshold: Double,
      roundTo: Int = 6, exactLimit: Long = DefaultExactLimit): DataFrame = {
    val n = vecs.count()
    require(n <= exactLimit,
      s"nearDupPairs: $n rows exceed the exact-baseline cap $exactLimit — " +
        "use nearDupAuto/lshNearDup (or pass exactLimit=Long.MaxValue to force)")
    val withNorm = vecs.withColumn("nrm", fastNorm(col(vec)))
    val a = withNorm.select(col(id).as("a_id"), col(vec).as("a_vec"), col("nrm").as("a_nrm"))
    val b = withNorm.select(col(id).as("b_id"), col(vec).as("b_vec"), col("nrm").as("b_nrm"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("sim", cosineWithNorms(col("a_vec"), col("b_vec"), col("a_nrm"), col("b_nrm")))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("sim"), roundTo).as("sim"))
  }

  /** LSH-bucketed near-dup candidates: pairs that share a random-
    * hyperplane bucket under any of `nTables` independent hash tables,
    * rescored exactly. A recall/cost tradeoff vs [[nearDupPairs]]; at
    * 100 TB this equi-joins on (table, bucket) and never materializes
    * the quadratic pair space. Bucket keys come from the native
    * [[graft.plans.LshBuckets]] expression (one pass, memoized sign
    * matrix).
    *
    * HOT-BUCKET GUARD: hashed vectors skew — a dense angular region
    * (or an undersized `nBits`) concentrates a super-linear share of
    * the pair space in a few buckets, which is exactly what the 10×
    * slope bench measured on the fixed-width q34 before this guard.
    * Buckets holding more than `maxBucket` vectors are therefore
    * REFINED: their members pair only within `refineBits` additional
    * hyperplane bits, splitting a hot bucket ~2^refineBits ways.
    * The refinement key is derived PER TABLE (a shifted-seed
    * [[graft.plans.LshBuckets]] family of nTables keys, table t's hot
    * buckets refined by sub-key t) — per-table keys keep refinement
    * misses independent across tables, preserving the family's
    * OR-amplification: a pair whose shared buckets are all hot still
    * gets nTables independent (1−θ/π)^refineBits trials, where a
    * single shared sub-key would collapse them into one. Hyperplane
    * sub-keys — unlike a content-hash salt — keep near-duplicate pairs
    * together with the usual angular collision probability, so the
    * recall loss is confined to hot buckets and bounded the way the
    * table family itself is. Buckets at or under `maxBucket` are
    * untouched (small corpora and the sf0.01 oracle never see the
    * guard).
    *
    * COMPRESSED-PREFILTER RESCORE (the 100× fix): rescoring used to
    * equi-join BOTH full embedding vectors onto every candidate pair —
    * at 100× corpus scale that shuffle (pairs × 2 × d doubles) went
    * disk-bound (91× wall-clock slope). Candidates now first join
    * int8-quantized codes (d bytes — 8× less shuffle) plus per-row
    * norms and a PROVABLE per-row quantization error bound; a pair
    * whose int8 cosine falls below `threshold − margin` is provably
    * below `threshold` and drops before any full vector moves. With
    * eps_v = √d·scale_v/(2‖v‖) (each dequantized coordinate errs at
    * most scale/2, so ‖v − dequant(v)‖ ≤ √d·scale/2):
    *   |cos_int8 − cos| ≤ eps_a + eps_b + 3·eps_a·eps_b =: margin
    * (expand dot(â+e_a, b̂+e_b) and apply Cauchy–Schwarz to the three
    * error cross-terms). Keeping cos_int8 ≥ threshold − margin − 1e-9
    * (fp slack dwarfing the ~d·2⁻⁵² rounding of the sums themselves)
    * can therefore never drop a true pair: the exact output is
    * IDENTICAL to the uncompressed rescore, only cheaper — full
    * vectors rejoin only the margin band. */
  /** Table count for a target LSH recall at the similarity threshold —
    * the closed-form tuner the q192 audit motivates (the fixed 6×6
    * config recalls only ~37% of 0.4-threshold pairs): for random
    * hyperplanes, two vectors at cosine s collide in one bit with
    * p = 1 − arccos(s)/π, in a b-bit band with p^b, and in at least
    * one of T tables with 1 − (1−p^b)^T. Solving for the smallest T
    * with recall ≥ target AT the threshold gives a recall FLOOR: every
    * pair above the threshold has higher p, so its recall is higher
    * still. Fewer bits ⇒ fewer tables but denser buckets — pick
    * `nBits` from corpus size (the [[nearDupAuto]] 2^b ≈ n/48 rule)
    * and let this choose T. Driver-side arithmetic only — the config
    * is data-independent, so it embeds in oracle SQL as constants. */
  def lshTablesFor(threshold: Double, targetRecall: Double,
      nBits: Int): Int = {
    require(threshold > -1 && threshold < 1,
      "lshTablesFor: threshold in (-1, 1)")
    require(targetRecall > 0 && targetRecall < 1,
      "lshTablesFor: targetRecall in (0, 1)")
    require(nBits >= 1, "lshTablesFor: nBits >= 1")
    val p = 1.0 - math.acos(threshold) / math.Pi
    val pBand = math.pow(p, nBits)
    require(pBand > 0, "lshTablesFor: band probability underflow")
    math.ceil(math.log1p(-targetRecall) / math.log1p(-pBand)).toInt.max(1)
  }

  def lshNearDup(
      vecs: DataFrame, id: String, vec: String,
      threshold: Double, nBits: Int = 8, nTables: Int = 4,
      seed: Int = 1000, maxBucket: Long = 256, refineBits: Int = 8): DataFrame = {
    require(maxBucket > 0 && refineBits > 0, "maxBucket and refineBits must be positive")
    val withKeys = vecs
      .withColumn("nrm", fastNorm(col(vec)))
      .withColumn("bks", lshBuckets(col(vec), nBits, nTables, seed))
      // one refinement key PER TABLE, used only inside hot buckets —
      // table t refines by sub-key t, keeping refinement trials
      // independent across tables (see scaladoc)
      .withColumn("subs", lshBuckets(col(vec), refineBits, nTables, seed + 7919))
    // candidate generation carries ONLY (id, bucket keys) — vectors
    // rejoin later, so the bucket join/dedup shuffles a few longs per
    // pair instead of two full embeddings. localCheckpoint: the keyed
    // relation feeds the occupancy count AND both self-join arms (the
    // dual-arm convention — without it the corpus is re-scanned and
    // re-hashed per arm); ~40 bytes × nTables per vector materialized.
    val bucketed = withKeys.select(col(id), col("subs"),
      posexplode(col("bks")).as(Seq("tbl", "bucket")))
      .select(col(id), col("tbl"), col("bucket"),
        element_at(col("subs"), col("tbl") + 1).as("sub"))
      .localCheckpoint()
    // bucket occupancy: one count aggregate on the same (tbl, bucket)
    // key space the join uses; output is bounded by the occupied-bucket
    // count, never the corpus
    val sizes = bucketed.groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
    val marked = bucketed.join(sizes, Seq("tbl", "bucket"))
      .withColumn("k2", when(col("bsz") > maxBucket, col("sub")).otherwise(lit(0L)))
    val a = marked.select(col(id).as("a_id"), col("tbl"), col("bucket"), col("k2"))
    val b = marked.select(col(id).as("b_id"), col("tbl"), col("bucket"), col("k2"))
    val cand = a.join(b, Seq("tbl", "bucket", "k2"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    // compressed prefilter (see scaladoc): int8 codes + per-row error
    // bound join first — d bytes per side instead of d doubles — and
    // provably-below-threshold pairs drop before any full vector moves
    val compressed = withKeys
      .withColumn("scl", int8Scale(col(vec)))
      .select(col(id), col("nrm"), col("scl"),
        quantizeInt8(col(vec), col("scl")).cast("array<tinyint>").as("q8"),
        (sqrt(size(col(vec)).cast("double")) * col("scl") / (col("nrm") * 2.0))
          .as("eps"))
    val aq = compressed.select(col(id).as("a_id"), col("q8").as("a_q8"),
      col("nrm").as("a_nrm"), col("scl").as("a_scl"), col("eps").as("a_eps"))
    val bq = compressed.select(col(id).as("b_id"), col("q8").as("b_q8"),
      col("nrm").as("b_nrm"), col("scl").as("b_scl"), col("eps").as("b_eps"))
    val margin =
      col("a_eps") + col("b_eps") + col("a_eps") * col("b_eps") * 3.0 + 1e-9
    val band = cand.join(aq, "a_id").join(bq, "b_id")
      .withColumn("cos_q",
        col("a_scl") * col("b_scl") *
          dotI8(col("a_q8"), col("b_q8")).cast("double") /
          (col("a_nrm") * col("b_nrm")))
      .filter(col("cos_q") >= lit(threshold) - margin)
      .select(col("a_id"), col("b_id"))
    // exact rescore of the surviving margin band only. Rejoin by plain
    // equi-join: the planner broadcasts the vector side only when its
    // size stats allow — an explicit broadcast() here would OOM at the
    // corpus sizes this operator exists for
    val av = withKeys.select(col(id).as("a_id"), col(vec).as("a_vec"), col("nrm").as("a_nrm"))
    val bv = withKeys.select(col(id).as("b_id"), col(vec).as("b_vec"), col("nrm").as("b_nrm"))
    band.join(av, "a_id").join(bv, "b_id")
      .withColumn("sim",
        cosineWithNorms(col("a_vec"), col("b_vec"), col("a_nrm"), col("b_nrm")))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("sim"), 6).as("sim"))
  }

  /** IVF (inverted-file) approximate top-k: a coarse quantizer assigns
    * every target to its nearest centroid; each probe searches only its
    * `nProbe` nearest cells. The 100 TB path besides LSH: the target
    * assignment is a one-off narrow pass, the per-cell equi-join
    * replaces the cross join, and recall/cost tunes via nProbe.
    *
    * @param centroids small (cellCol, centroidVec) DataFrame — e.g.
    *                  [[labelCentroids]] output re-assembled, or any
    *                  k-means result. Collected driver-side and shipped
    *                  inside the assignment expressions on both sides.
    */
  def ivfTopK(
      probes: DataFrame, pId: String, pVec: String,
      targets: DataFrame, tId: String, tVec: String,
      centroids: DataFrame, cellCol: String, centroidVec: String,
      k: Int, nProbe: Int, roundTo: Int = 6): DataFrame = {
    // assign each target to its single nearest cell as a PURE
    // PROJECTION: the quantizer is k×d doubles — tiny by contract — so
    // it ships inside the nearest_cell expression (the kMeans
    // assignment shape) and the corpus never expands or shuffles for
    // assignment at all. The previous crossJoin + min_by hash-agg
    // streamed a targets×k row expansion through aggregation, and
    // because the agg buffer carries the vector (array-typed →
    // ObjectHashAggregate), a large k pushed it into sort-based
    // fallback: at 1.2M targets × 1100 auto-sized cells that SORTED
    // the 1.3B-row expansion — a 50+ GB spill, measured by the 100×
    // slope harness before this fix. nearest_cell keeps the exact
    // semantics: same strict left-to-right squared-L2 fold, ties to
    // the lower matrix index = the lower cell id (the matrix is
    // collected in ascending cell order), so results are bit-identical
    // to the min_by form and the SQL oracle.
    val (cellIds, matrix) = quantizerLiterals(
      centroids.select(col(cellCol), col(centroidVec)))
    val assigned = targets.withColumn("t_nrm", fastNorm(col(tVec)))
      .withColumn(cellCol,
        element_at(cellIds, nearestCell(col(tVec), matrix) + 1))
      .select(col(tId), col(tVec), col("t_nrm"), col(cellCol))
    // each probe fans out to its nProbe nearest cells — ALSO a pure
    // projection (nearest_cells emits the nProbe best matrix indices in
    // the window form's (dist, cell-id) order): the previous
    // crossJoin(centroids) + per-probe rank window expanded every probe
    // k ways and sorted the expansion, which a query-sized probe set
    // never notices but a batch-join workload (probes ≈ corpus) paid as
    // an n×k shuffle. Expansion is now bounded at nProbe rows per probe
    // with no shuffle before the cell join.
    val probeCells = probes.withColumn("p_nrm", fastNorm(col(pVec)))
      .select(col(pId), col(pVec), col("p_nrm"),
        explode(transform(
          nearestCells(col(pVec), matrix, nProbe),
          i => element_at(cellIds, i + 1))).as(cellCol))
    // exact cosine inside the probed cells only
    val sim = round(
      cosineWithNorms(col(pVec), col(tVec), col("p_nrm"), col("t_nrm")), roundTo).as("sim")
    // per-cell equi-join; target side broadcast is left to the planner's
    // size stats (forcing it would OOM at the scale this path targets)
    val joined = probeCells.join(assigned, Seq(cellCol))
      .select(col(pId), col(tId), sim)
    val w = Window.partitionBy(col(pId)).orderBy(col("sim").desc, col(tId))
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Collect a 2-column (cell, centroid_vec) quantizer into a typed
    * cell-id literal and the centroid matrix for nearest_cell
    * assignment: cell ids keep their source type (int/long/string all
    * worked under the min_by join form this replaced), and the matrix
    * is ordered by ascending cell id so the expression's first-minimum
    * tie-break remains "lower cell id". */
  private def quantizerLiterals(model: DataFrame): (Column, Array[Array[Double]]) = {
    val rows = model.collect()
    require(rows.nonEmpty, "empty centroid set")
    def mat(vs: Array[Seq[Double]]) = vs.map(_.toArray)
    rows.head.get(0) match {
      case _: java.lang.Integer =>
        val s = rows.map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
        (typedlit(s.map(_._1).toSeq), mat(s.map(_._2)))
      case _: java.lang.Long =>
        val s = rows.map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
        (typedlit(s.map(_._1).toSeq), mat(s.map(_._2)))
      case _: String =>
        val s = rows.map(r => (r.getString(0), r.getSeq[Double](1))).sortBy(_._1)
        (typedlit(s.map(_._1).toSeq), mat(s.map(_._2)))
      case other => throw new IllegalArgumentException(
        s"unsupported cell id type ${other.getClass.getName} — use int, long or string cells")
    }
  }

  /** Size-routed top-k — the entry a pipeline should call by default:
    * exact brute force while the target side is small enough to be
    * cheap, IVF with a kMeans-trained coarse quantizer past
    * `exactLimit`. The switch is one count against the target scan, so
    * the SAME call sites stay correct from a laptop sample to 100 TB —
    * no registered path is ever quadratic-unbounded.
    *
    * `kCells = 0` (the default) sizes the quantizer from the measured
    * corpus — √n cells, clamped to [16, 4096] — the classical IVF
    * balance between per-probe scan cost (n·nProbe/kCells) and
    * routing/training cost; a FIXED cell count leaves per-cell scans
    * growing linearly with the corpus.
    *
    * @param trainSample bounds quantizer training cost (standard ANN
    *                    practice — the model is tiny; a sample trains
    *                    it as well as the corpus). The DEFAULT is the
    *                    bounded deterministic sample [[DefaultTrainSample]]
    *                    marks (lowest 256·cells target ids) — full-corpus
    *                    training is the opt-IN (`identity`), not the
    *                    default, because at 100 TB "train the quantizer"
    *                    must never mean "iterate the corpus". */
  def topKAuto(
      probes: DataFrame, pId: String, pVec: String,
      targets: DataFrame, tId: String, tVec: String,
      k: Int, exactLimit: Long = DefaultExactLimit,
      kCells: Int = 0, kmIters: Int = 2, nProbe: Int = 8,
      trainSample: DataFrame => DataFrame = DefaultTrainSample,
      roundTo: Int = 6): DataFrame = {
    val n = targets.count()
    if (n <= exactLimit)
      topK(probes, pId, pVec, targets, tId, tVec, k, roundTo, exactLimit)
    else {
      val cells =
        if (kCells > 0) kCells
        else math.max(16, math.min(4096, math.ceil(math.sqrt(n.toDouble)).toInt))
      // the marker resolves HERE because the sample size depends on the
      // runtime-sized cell count: 256 training points per cell, cut by
      // id order so the sample is deterministic on any partitioning
      val sample =
        if (trainSample eq DefaultTrainSample)
          (df: DataFrame) => df.sort(col(tId)).limit(256 * cells)
        else trainSample
      val model = kMeans(sample(targets), tId, tVec, cells, kmIters)
        .select(col("cell"), col("centroid_vec"))
      ivfTopK(probes, pId, pVec, targets, tId, tVec,
        model, "cell", "centroid_vec", k, nProbe, roundTo)
    }
  }

  /** BOTH-direction top-k over one pair-space pass — the mutual-kNN
    * shape (bitext mining, cross-source alignment): every x needs its
    * top-k ys AND every y its top-k xs, so running [[topKAuto]] twice
    * computes each pair's cosine twice. Below the cap this fuses the
    * two rankings into ONE plan: the cross join scores each pair once,
    * then two chained `row_number` windows rank it in each direction —
    * same shuffle volume as one direction (the pair rows are (id, id,
    * sim) triples either way), half the dot-product work, and the
    * caller's "mutual top-1" test becomes a filter instead of a
    * fwd⋈bwd join. Past the per-side cap OR the `pairBudget` (nx·ny —
    * the mutual shape has no small side, so the target cap alone
    * under-routes) it degrades to two size-routed [[topKAuto]] passes
    * (IVF equi-join per direction — never quadratic) stitched by a
    * full-outer join. The default budget (2^26 ≈ 6.7e7 pairs) is sized
    * so the exact path's n·m·d FMA work stays seconds-bounded on one
    * node: the earlier 2^31 default let a 10k×10k boundary case run
    * 1e8 pairs exact — measured 13.8× wall at 10× data in the slope
    * harness, the definition of a super-linear trap — where mutual-kNN
    * at that size always goes through the ANN route anyway.
    *
    * RECALL CAVEAT of that default: inputs whose pair space lands in
    * (2^26, 2^31] — roughly two 8k–46k sides — used to run EXACT under
    * the old budget and now route through IVF, which is approximate: a
    * true mutual pair whose two vectors quantize into different coarse
    * cells (and miss each other's nProbe fan-out) is DROPPED, not
    * ranked. Accuracy-sensitive callers in that window must pass an
    * explicit `pairBudget` (e.g. `1L << 31`) to buy the exact pass
    * back; throughput callers keep the default and accept IVF recall
    * (tune with the q208/q209 IVF recall audits in
    * `graft.queries.SimilarityQueries`).
    *
    * Returns (xId, yId, sim, rank_f, rank_b) for every pair in EITHER
    * direction's top-k; a rank is null (routed path) or > k (exact
    * path) when the pair missed that direction's list, so callers
    * filter `rank_f <= k` / `rank_b <= k` identically on both paths.
    * Ranks tie-break by the opposite side's id after `roundTo`
    * rounding, exactly like [[topK]] — the exact path is hash-equal to
    * composing topK twice. */
  def mutualTopK(
      x: DataFrame, xId: String, xVec: String,
      y: DataFrame, yId: String, yVec: String,
      k: Int, exactLimit: Long = DefaultExactLimit,
      pairBudget: Long = 1L << 26,
      roundTo: Int = 6): DataFrame = {
    val nx = x.count(); val ny = y.count()
    // the mutual shape has no small "target" side — BOTH sides are
    // corpora — so the per-side cap alone under-routes: two 400k sides
    // each clear the 2^20 target cap yet span 160G pairs. The exact
    // fused pass therefore also requires the PAIR space to fit a
    // budget; past either bound, both directions go through the
    // IVF-routed equi-join path.
    // overflow-safe pair-space test: nx * ny overflows Long for two
    // multi-billion-row sides, so compare via division instead
    def pairsFit = nx <= pairBudget / math.max(ny, 1L)
    if (nx <= exactLimit && ny <= exactLimit && pairsFit) {
      val xs = x.withColumn("x_nrm", fastNorm(col(xVec)))
      val ys = y.withColumn("y_nrm", fastNorm(col(yVec)))
      val sim = round(
        cosineWithNorms(col(xVec), col(yVec), col("x_nrm"), col("y_nrm")),
        roundTo).as("sim")
      val pairs = xs.crossJoin(ys).select(col(xId), col(yId), sim)
      val wf = Window.partitionBy(col(xId)).orderBy(col("sim").desc, col(yId))
      val wb = Window.partitionBy(col(yId)).orderBy(col("sim").desc, col(xId))
      pairs
        .withColumn("rank_f", row_number().over(wf))
        .withColumn("rank_b", row_number().over(wb))
        .filter(col("rank_f") <= k || col("rank_b") <= k)
    } else {
      // brute-force pair cost is nx·ny in EITHER direction, so a blown
      // pair budget forces IVF both ways (exactLimit 0); a blown
      // per-side cap alone lets topKAuto route each direction on its
      // own target side (the small-targets direction stays exact)
      val dirLimit = if (pairsFit) exactLimit else 0L
      val fwd = topKAuto(x, xId, xVec, y, yId, yVec, k, dirLimit,
          roundTo = roundTo)
        .select(col(xId), col(yId), col("sim"), col("rank").as("rank_f"))
      val bwd = topKAuto(y, yId, yVec, x, xId, xVec, k, dirLimit,
          roundTo = roundTo)
        .select(col(xId), col(yId), col("sim").as("sim_b"),
          col("rank").as("rank_b"))
      fwd.join(bwd, Seq(xId, yId), "full_outer")
        .select(col(xId), col(yId),
          coalesce(col("sim"), col("sim_b")).as("sim"),
          col("rank_f"), col("rank_b"))
    }
  }

  /** Size-routed near-dup pairs: exact quadratic below `exactLimit`
    * rows, LSH candidates + exact rescoring above it. Same contract as
    * [[topKAuto]]: one call site, never quadratic-unbounded.
    *
    * `nBits = 0` (the default) sizes the bucket space from the measured
    * corpus: 2^nBits ≈ n/48, clamped to [4, 24] bits. A FIXED bucket
    * count is itself a scale bug — at 10× the corpus, constant-width
    * buckets hold 10× the vectors and candidate pairs grow 100×
    * (measured: 58× wall-clock in the 10× slope bench before this
    * auto-sizing). Scaling bits with log2(n) keeps expected bucket
    * occupancy — and therefore candidates per vector — constant, which
    * is what makes the LSH path near-linear at any corpus size. */
  def nearDupAuto(
      vecs: DataFrame, id: String, vec: String, threshold: Double,
      exactLimit: Long = DefaultExactLimit,
      nBits: Int = 0, nTables: Int = 4, seed: Int = 1000,
      roundTo: Int = 6): DataFrame = {
    val n = vecs.count()
    if (n <= exactLimit) nearDupPairs(vecs, id, vec, threshold, roundTo, exactLimit)
    else {
      val bits =
        if (nBits > 0) nBits
        else math.max(4, math.min(24,
          math.ceil(math.log(n / 48.0) / math.log(2)).toInt))
      lshNearDup(vecs, id, vec, threshold, bits, nTables, seed)
    }
  }

  /** Matryoshka (coarse-to-fine) top-k: rank candidates on the FIRST
    * `dPrefix` dimensions only — the matryoshka-embedding property that
    * prefixes of a trained vector are themselves usable embeddings —
    * keep `mCand` per probe, then re-rank just those with the exact
    * full-dimension cosine. The funnel cuts per-pair cost by d/dPrefix
    * in the wide stage and touches full vectors only mCand times per
    * probe; at corpus scale the coarse stage itself routes through
    * IVF/LSH ([[topKAuto]]) — this operator is the funnel, capped like
    * the other exact baselines.
    *
    * Both ranks round to `roundTo` decimals first and tie-break by
    * target id, so the funnel is deterministic and oracle-checkable.
    * Output: (pId, tId, sim, rank) — sim is the full-dim cosine. */
  def truncatedTopK(
      probes: DataFrame, pId: String, pVec: String,
      targets: DataFrame, tId: String, tVec: String,
      dPrefix: Int, mCand: Int, k: Int, roundTo: Int = 6,
      exactLimit: Long = DefaultExactLimit): DataFrame = {
    require(mCand >= k, "truncatedTopK: mCand must be >= k")
    val n = targets.count()
    require(n <= exactLimit,
      s"truncatedTopK: $n targets exceed the exact-baseline cap $exactLimit")
    val p = probes
      .withColumn("p_pre", slice(col(pVec), 1, dPrefix))
      .withColumn("pp_nrm", fastNorm(col("p_pre")))
    val t = targets
      .withColumn("t_pre", slice(col(tVec), 1, dPrefix))
      .withColumn("tp_nrm", fastNorm(col("t_pre")))
    val coarseSim = round(
      cosineWithNorms(col("p_pre"), col("t_pre"), col("pp_nrm"), col("tp_nrm")),
      roundTo)
    val wc = Window.partitionBy(col(pId)).orderBy(col("coarse").desc, col(tId))
    val cand = p.crossJoin(t)
      .select(col(pId), col(pVec), col(tId), col(tVec), coarseSim.as("coarse"))
      .withColumn("rn", row_number().over(wc)).filter(col("rn") <= mCand)
    val sim = round(
      cosineWithNorms(col(pVec), col(tVec), fastNorm(col(pVec)), fastNorm(col(tVec))),
      roundTo).as("sim")
    val wf = Window.partitionBy(col(pId)).orderBy(col("sim").desc, col(tId))
    cand.select(col(pId), col(tId), sim)
      .withColumn("rank", row_number().over(wf)).filter(col("rank") <= k)
  }

  /** Binary-quantized two-stage top-k: rank candidates by HAMMING
    * distance over 1-bit sign codes ([[graft.functions.VectorFunctions.signPack]]),
    * then exact-cosine re-rank the `mCand` survivors — the
    * [[truncatedTopK]] funnel with the coarse stage pushed all the way
    * down to bits (/root/reference/src/prediction_producer.py:141-146
    * is the same shrink-then-restore stance applied to frames).
    *
    * Scale design: codes are d/8 bytes (32× under float32), so the
    * coarse scan streams 32× less data and each candidate pair costs
    * ceil(d/32) integer xor+popcounts instead of d FMAs; the probe side
    * is the broadcast side. Hamming over packed words is exact integer
    * arithmetic — no float fold-order concerns — and the fine stage is
    * the already-proved cosine re-rank, so the whole funnel is
    * oracle-checkable. Like the other scan baselines the coarse stage
    * is capped at `exactLimit` targets; past that, route the code
    * column through [[ivfTopK]]'s cell partitioning instead.
    *
    * Output: (pId, tId, ham, sim, rank), rank <= k by (sim DESC, tId). */
  def hammingTopK(
      probes: DataFrame, pId: String, pVec: String,
      targets: DataFrame, tId: String, tVec: String,
      d: Int, mCand: Int, k: Int, roundTo: Int = 6,
      exactLimit: Long = DefaultExactLimit): DataFrame = {
    require(mCand >= k, "hammingTopK: mCand must be >= k")
    val n = targets.count()
    require(n <= exactLimit,
      s"hammingTopK: $n targets exceed the exact-baseline cap $exactLimit")
    // the coarse scan carries ONLY (pId, tId, ham) — never the float
    // vectors — so the candidate shuffle moves ~20-byte rows instead of
    // two 64-float payloads per pair; full vectors re-join for the
    // mCand survivors only (candidate count = |probes|·mCand).
    // The target code relation is CHECKPOINTED: left as lineage,
    // CollapseProject inlines signPack into the per-pair projection and
    // the 64-term pack re-evaluates |probes|× per target (measured 10×
    // on the coarse stage). Bounded: ≤ exactLimit × (8+d/8) bytes —
    // this IS the binary index build, materialized once per call.
    val p = broadcast(probes.select(col(pId), signPack(col(pVec), d).as("p_code")))
    val t = targets.select(col(tId), signPack(col(tVec), d).as("t_code"))
      .localCheckpoint()
    val wc = Window.partitionBy(col(pId)).orderBy(col("ham"), col(tId))
    val cand = p.crossJoin(t)
      .select(col(pId), col(tId),
        hammingDist(col("p_code"), col("t_code"), d).as("ham"))
      .withColumn("rn", row_number().over(wc)).filter(col("rn") <= mCand)
      .select(col(pId), col(tId), col("ham"))
    val sim = round(
      cosineWithNorms(col(pVec), col(tVec), fastNorm(col(pVec)), fastNorm(col(tVec))),
      roundTo).as("sim")
    val wf = Window.partitionBy(col(pId)).orderBy(col("sim").desc, col(tId))
    cand
      .join(broadcast(probes.select(col(pId), col(pVec))), pId)
      .join(targets.select(col(tId), col(tVec)), tId)
      .select(col(pId), col(tId), col("ham"), sim)
      .withColumn("rank", row_number().over(wf)).filter(col("rank") <= k)
  }

  /** Johnson–Lindenstrauss random projection of an embedding column to
    * `dOut` dimensions — the standard pre-ANN compression: at 100 TB,
    * projecting 64-d → 16-d cuts every downstream shuffle, broadcast
    * and per-pair distance loop by 4× while preserving pairwise
    * distances in expectation (E‖p(a)−p(b)‖² = ‖a−b‖², distortion
    * O(1/√dOut)). A pure projection through the native
    * [[graft.plans.RpProject]] expression (±1 md5-derived sign matrix,
    * memoized per executor — no shipped randomness, no shuffle, and
    * SQL-recomputable, so projected vectors are oracle-checkable).
    *
    * Output: (id, proj array<double>, norm_ratio) — norm_ratio =
    * ‖p(v)‖²/‖v‖² rounded to 4, the per-row distortion audit (≈1 when
    * the projection is healthy), making the operator self-auditing the
    * way the sketches are. */
  def randomProject(vecs: DataFrame, id: String, vec: String,
      dOut: Int, seed: Long): DataFrame = {
    vecs.select(col(id),
        rpProject(col(vec), dOut, seed).as("proj"),
        col(vec))
      .select(col(id), col("proj"),
        round(fastDot(col("proj"), col("proj")) / fastDot(col(vec), col(vec)), 4)
          .as("norm_ratio"))
  }

  /** Lloyd's loop over a collected training sample — the shared body
    * of the [[kMeans]] driver fast path and the [[pqCodebooks]]
    * one-collect subspace trainer. Arithmetic is bit-identical to the
    * distributed loop: strict-< argmin over left-assoc squared-L2
    * folds (as NearestCell), round(x·1e9) HALF_UP exact-integer grid
    * sums, sum→double / count / 1e9 means; seeds are the first k rows
    * of the caller's sorted sample. Returns (cell, n_members,
    * centroid_vec) for cells 0..k-1. */
  private def lloydDriver(data: Array[Array[Double]], k: Int,
      iters: Int): Seq[(Int, Long, Seq[Double])] = {
    var cents: Array[Array[Double]] = data.take(k).map(_.clone())
    def nearest(v: Array[Double]): Int = {
      var best = -1; var bestD = Double.PositiveInfinity; var c = 0
      while (c < cents.length) {
        val ct = cents(c)
        if (ct.length == v.length) {
          var s = 0.0; var i = 0
          while (i < v.length) { val dd = v(i) - ct(i); s += dd * dd; i += 1 }
          if (s < bestD) { bestD = s; best = c }
        }
        c += 1
      }
      best
    }
    // Spark's round(double, 0) = BigDecimal HALF_UP, then cast(long)
    // truncates the rounded double — replicated exactly
    def gridLong(x: Double): Long =
      java.math.BigDecimal.valueOf(x * 1e9)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    val asg = new Array[Int](data.length)
    for (_ <- 1 to iters) {
      var r = 0
      while (r < data.length) { asg(r) = nearest(data(r)); r += 1 }
      val cnts = new Array[Long](k)
      val dims = new Array[Array[java.math.BigInteger]](k)
      r = 0
      while (r < data.length) {
        val c = asg(r)
        if (c >= 0) {
          val v = data(r)
          if (dims(c) == null)
            dims(c) = Array.fill(v.length)(java.math.BigInteger.ZERO)
          val acc = dims(c)
          var i = 0
          while (i < v.length) {
            acc(i) = acc(i).add(java.math.BigInteger.valueOf(gridLong(v(i))))
            i += 1
          }
          cnts(c) += 1
        }
        r += 1
      }
      cents = cents.zipWithIndex.map { case (prev, c) =>
        if (cnts(c) == 0) prev
        // Decimal(38,0).cast(double)/count/1e9 left-assoc, mirrored:
        // exact-integer sum -> double, / n, / 1e9
        else dims(c).map(bi => bi.doubleValue() / cnts(c) / 1e9)
      }
    }
    var r2 = 0
    val members = new Array[Long](k)
    while (r2 < data.length) {
      val c = nearest(data(r2)); if (c >= 0) members(c) += 1; r2 += 1
    }
    cents.toSeq.zipWithIndex.map { case (cv, c) => (c, members(c), cv.toSeq) }
  }

  /** Lloyd's k-means over an embedding column — the unsupervised trainer
    * that completes the IVF path ([[ivfTopK]] needs a coarse quantizer;
    * [[centroidsAsQuantizer]] builds one from labels, this one from the
    * vectors themselves, the way a real ANN index is trained).
    *
    * Scale topology (same as the classic distributed Lloyd's): the model
    * state is k×d doubles — tiny — so it lives on the driver and ships
    * inside the [[graft.plans.NearestCell]] expression each iteration;
    * the DATA never moves. Assignment is therefore a PURE PROJECTION —
    * no join, no vid-keyed shuffle of vectors — and one iteration costs
    * exactly one partially-aggregated (cell, pos) mean pass: at 100 TB ×
    * 10 iterations, zero full-data shuffles instead of ten. The input is
    * pinned across iterations and released before returning.
    *
    * Deterministic on any cluster/partitioning AND portable across
    * engines: init = the k lowest-id vectors (ties to the lower cell),
    * and each mean snaps addends to a 1e-9 grid — `round(x·1e9)` summed
    * exactly as integers (DECIMAL(38,0), overflow-proof at any corpus
    * size), divided once in double. Integer sums are order-independent,
    * so reaggregation splits can't flip a later assignment, and — unlike
    * a DECIMAL(38,18) sum of raw doubles — the double→grid rounding is
    * bit-identical in Spark and DuckDB (tie points X.5 are exactly
    * representable, so shortest-string and binary rounding agree),
    * making the whole training run SQL-oracle-checkable. The grid costs
    * ≤5e-10 per coordinate — noise against float32 inputs' 2^-24 ulp.
    * An emptied cell keeps its previous centroid.
    *
    * @return (cell, n_members, centroid_vec) for the final model. */
  def kMeans(vecs: DataFrame, id: String, vec: String, k: Int,
      iters: Int): DataFrame = {
    require(k > 0 && iters >= 0, "k must be positive, iters non-negative")
    val spark = vecs.sparkSession
    import spark.implicits._
    // null vectors are excluded up front, BEFORE the >= k requirement
    // and the initial-centroid pick, so both branches (driver-local
    // fast path and distributed loop) see the same null-free training
    // set — previously a null among the first k rows seeded the two
    // branches differently across the 2^16 boundary
    val trainable = vecs.select(col(id).as("vid"), col(vec).as("v"))
      .filter(col("v").isNotNull)
    // DRIVER-LOCAL fast path for contract-bounded training samples: the
    // canonical callers (pqCodebooks m subspaces, topKAuto trainSample)
    // feed a few hundred rows, where ALL the distributed loop's cost is
    // fixed per-job overhead — each of the iters+2 passes schedules a
    // 32-task shuffle over <1 KB of data (measured: 1.9 s of q73's
    // 2.9 s at sf0.1 was two such 200-row trainings). At or below 2^16
    // rows the sorted sample is collected ONCE and Lloyd's loop runs in
    // driver Scala with arithmetic bit-identical to the distributed
    // path (same strict-< argmin over left-assoc squared-L2 folds as
    // NearestCell, same round(x·1e9) exact-integer grid means), so the
    // trained model — and every oracle hash downstream — is unchanged.
    // 2^16 rows × 64-d ≈ 33 MB collected, driver-safe; anything larger
    // is real distributed work and takes the cluster path.
    Route.bySize(trainable, 1L << 16) { src =>
      val rows = src.orderBy(col("vid")).collect()
      // src is null-filtered, so this counts TRAINABLE vectors — the
      // same population the distributed path's limit(k) seeds from
      require(rows.length >= k,
        s"kMeans: need at least k=$k non-null vectors, got ${rows.length}")
      val data: Array[Array[Double]] =
        rows.map(_.getSeq[Double](1).toArray)
      lloydDriver(data, k, iters).toDF("cell", "n_members", "centroid_vec")
    }(kMeansDistributed(_, k, iters))
  }

  /** The distributed Lloyd's loop of [[kMeans]] over its pinned,
    * null-free (vid, v) training input, which it releases once the
    * model is materialized. */
  private def kMeansDistributed(src: DataFrame, k: Int,
      iters: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val spark = src.sparkSession
    import spark.implicits._
    var centroids: Seq[(Int, Seq[Double])] =
      src.orderBy(col("vid")).limit(k).collect()
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1)) }.toSeq
    // fewer than k inputs would silently train a smaller model than the
    // promised k cells — downstream PQ/IVF callers index cells 0..k-1
    require(centroids.length == k,
      s"kMeans: need at least k=$k non-null vectors, got ${centroids.length}")
    // re-spread the training input IF it is both heavy and
    // under-partitioned: the canonical topKAuto/pqCodebooks sample
    // arrives via sort().limit(), whose global limit collapses to ONE
    // partition, so every assignment pass (n·k·d FMAs, the training
    // hot loop) runs single-threaded — measured 14.7 s of a 20 s q93
    // at 100×. But the repartition shuffle + per-pass multi-task
    // scheduling costs ~0.5 s, which TAXES the small well-warmed
    // trainers (q61/q72/q73 at sf0.1, measured +0.6 s each), so it is
    // gated on the estimated assignment work, whose row count is taken
    // (one scan of the pin) only for an under-partitioned input.
    // Grid-snapped decimal math means partitioning cannot change the
    // trained model.
    val parts = spark.sessionState.conf.numShufflePartitions
    val d0 = centroids.head._2.length
    val inParts = src.queryExecution.toRdd.getNumPartitions
    val data =
      if (inParts * 4 < parts && src.count().toDouble * k * d0 > 5e8) {
        val re = src.repartition(parts)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        re.count() // materialize before dropping the source pin
        Route.release(src)
        re
      } else src
    // cells stay 0..k-1 throughout, so the matrix row index IS the cell
    def assigned: DataFrame = {
      val matrix = centroids.sortBy(_._1).map(_._2.toArray).toArray
      data.select(col("vid"), col("v"), nearestCell(col("v"), matrix).as("cell"))
    }
    val Grid = 1e9
    for (_ <- 1 to iters) {
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(round(col("x") * Grid).cast("long").cast(DecimalType(38, 0)))
          .cast("double") / count(lit(1)) / Grid).as("m"))
        .collect()
      val updated = means.groupBy(_.getInt(0)).map { case (cell, rows) =>
        cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
      }
      centroids = centroids.map { case (cell, prev) =>
        (cell, updated.getOrElse(cell, prev))
      }
    }
    val model = centroids.toDF("cell", "c_vec")
    // left join from the model: a cell emptied by duplicate init vectors
    // (ties assign to the lower cell) still comes back, with n_members 0.
    // localCheckpoint (k rows) materializes the final pass while `data`
    // is still cached — unpersisting first would silently recompute the
    // whole input lineage on the caller's first action.
    val result = model.withColumnRenamed("c_vec", "centroid_vec")
      .join(assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_members")),
        Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n_members"), lit(0L)).as("n_members"),
        col("centroid_vec"))
      .localCheckpoint()
    Route.release(data)
    result
  }

  /** Top-principal-component projection via POWER ITERATION — the third
    * iterative trainer in the family ([[kMeans]], TextAnalysis
    * .qualityClassifier): mean-center, iterate w ← Xᵀ(Xw)/n, and project
    * every row onto the unit principal direction. This is the whitening
    * / decorrelation primitive an embedding pipeline runs before
    * quantization, and (like the other two) the WHOLE TRAINING RUN is
    * hash-proved against a DuckDB CTE unroll.
    *
    * Scale topology: the model state is d doubles on the driver, shipped
    * back as literals; one iteration costs ONE map-side-combined
    * aggregation producing d grid-snapped means (s = x_c·w is projected
    * once per row first, so an iteration is n·d FMAs + n·d grid terms —
    * never a d×d covariance materialization, never a shuffle of the
    * data). Scoring is a pure projection.
    *
    * Portability rules (the kMeans precedent, see its scaladoc):
    * per-row dots are strict left-assoc folds (the native vec_dot /
    * DuckDB generated fold agree bitwise), cross-row sums snap to a 1e-9
    * grid summed as DECIMAL(38,0), and the per-iteration renormalizer is
    * max-abs (order-independent exact MAX — an L2 norm here would sum
    * floats across d in engine-dependent order). The final direction IS
    * unit-L2: its norm folds over d literals on the driver, mirrored by
    * an explicit left-assoc fold in SQL. Convergence after `iters`
    * rounds is the caller's concern — parity holds at every round.
    *
    * Output: (id, pc1) — the signed unit-direction projection of the
    * centered row, rounded to 1e-6. */
  def pcaPowerProject(vecs: DataFrame, id: String, vec: String,
      d: Int, iters: Int, roundTo: Int = 6): DataFrame = {
    require(d > 0 && iters >= 1, "pcaPowerProject: d > 0, iters >= 1")
    import org.apache.spark.sql.types.DecimalType
    val data = vecs.select(col(id).as("vid"), col(vec).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val Grid = 1e9
    def gridMean(c: Column): Column =
      sum(round(c * Grid).cast("long").cast(DecimalType(38, 0)))
        .cast("double") / count(lit(1)) / Grid
    // per-dimension means via posexplode + a d-key hash agg (the kMeans
    // (cell, pos) shape) rather than d separate scalar aggregates: the
    // d-wide agg compiled a fresh ~64-aggregate codegen unit per
    // iteration, which dominated the trainer's wall-clock at small d×n
    def gridMeans(df: DataFrame, value: Column): Array[Double] = {
      val byPos = df.groupBy(col("pos")).agg(gridMean(value).as("m"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      Array.tabulate(d)(byPos(_))
    }
    val mean = gridMeans(
      data.select(posexplode(col("v")).as(Seq("pos", "x"))), col("x")).toSeq
    val centered = data.select(col("vid"),
      zip_with(col("v"), typedlit(mean), (x, m) => x - m).as("xc"))
    var w = Array.fill(d)(1.0)
    for (_ <- 1 to iters) {
      val y = gridMeans(
        centered.select(fastDot(col("xc"), typedlit(w.toSeq)).as("s"),
          posexplode(col("xc")).as(Seq("pos", "x"))),
        col("s") * col("x"))
      val mx = y.map(math.abs).max
      require(mx > 0, "pcaPowerProject: degenerate (all-zero centered) input")
      w = y.map(_ / mx)
    }
    // unit direction: ascending-j left-assoc fold, mirrored in the SQL
    val nrm = math.sqrt(w.foldLeft(0.0)((acc, x) => acc + x * x))
    val u = w.map(_ / nrm).toSeq
    val result = centered
      .select(col("vid").as(id),
        round(fastDot(col("xc"), typedlit(u)), roundTo).as("pc1"))
    // the trained model is baked in as literals, so recomputation after
    // unpersist is a single input scan — no checkpoint of an n-row result
    data.unpersist(false)
    result
  }

  /** Semantic deduplication (the SemDeDup recipe): cluster the corpus
    * with [[kMeans]], then drop every vector that has a more-senior
    * (lower-id) near-duplicate — cosine >= `threshold` — WITHIN ITS OWN
    * CLUSTER. Clustering is what makes semantic dedup tractable: the
    * quadratic pair search runs per cell (expected cell size n/k), never
    * corpus-wide, which is the published algorithm's exact cost model.
    * The price is recall at cell borders — a near-dup pair split across
    * two cells is not examined (tested and documented in VectorSpec);
    * raising k trades recall for cost.
    *
    * Scale shape: assignment is the projection-only [[kMeans]] path
    * (model ships inside the nearest_cell expression), the self-join
    * shuffles each vector once on its cell key, and in-cell pairing is
    * local to the cell's partition. Deterministic end-to-end because
    * kMeans is, so the whole operator — training included — is
    * SQL-oracle-checkable.
    *
    * `k = 0` (the default) sizes the clustering from the measured
    * corpus as a BUDGET: k = n / `targetCellSize`, clamped to
    * [8, 65536] (and to n — kMeans needs k vectors). Budget-driven k
    * keeps the EXPECTED per-cell pair work constant as the corpus
    * grows — the √n rule this replaces froze k at its cap past
    * n ≈ 16.7M docs, after which mean cell size (and the in-cell pair
    * search) grew linearly again, exactly the quadratic creep this
    * operator exists to avoid. The upper clamp only bounds the
    * driver-held model (65536 × d doubles) and the per-row nearest_cell
    * scan; cells past that point are caught by the size guard below.
    * Callers pin k explicitly only when an external oracle needs a
    * reproducible model.
    *
    * HOT-CELL GUARD: real embedding clusters are skewed — one dense
    * cell can concentrate the whole pair search in one task long before
    * the average creeps. Cells with more than `guardCellSize` members
    * therefore pair only WITHIN md5-parity LSH sub-buckets
    * (`guardBits` hyperplane bits × `guardTables` tables, the
    * [[lshNearDup]] machinery), bounding any cell's pair work to its
    * bucket sizes instead of its square. The price is in-cell recall in
    * hot cells, bounded below by the hyperplane collision probability
    * (1 − θ/π)^guardBits per table — near 1 for the high thresholds
    * (≥ 0.9) semantic dedup runs at, and exactly 1 for identical
    * vectors, which share every bucket. Cells at or under the guard are
    * paired exhaustively, so small-scale runs (and the sf0.01 oracle)
    * never see the guard.
    *
    * Output: (id, cell, keep) for EVERY input vector; keep = false
    * marks the dropped junior duplicates. */
  /** [[semDedup]]'s auto cell-count rule (k = n / targetCellSize,
    * floor 8, cap 65536, bounded by n — kMeans requires at least k
    * vectors, so a tiny corpus must not be pushed up to the 8-cell
    * floor). Exposed so oracle guards recompute exactly the k the
    * operator will train rather than re-deriving the rule by hand. */
  def semDedupAutoK(n: Long, targetCellSize: Long = 256): Long =
    math.min(n, math.max(8L, math.min(65536L,
      math.ceil(n.toDouble / targetCellSize).toLong)))

  def semDedup(vecs: DataFrame, id: String, vec: String,
      threshold: Double, k: Int = 0, iters: Int = 2,
      targetCellSize: Long = 256, guardCellSize: Long = 1024,
      guardBits: Int = 6, guardTables: Int = 8, guardSeed: Int = 4000): DataFrame = {
    require(targetCellSize > 0 && guardCellSize > 0,
      "semDedup: cell budgets must be positive")
    // guardTables = 0 would silently exempt hot cells from dedup
    // entirely (empty key explode drops their rows); guardBits = 0
    // would silently disable the guard (all members in bucket 0)
    require(guardBits > 0 && guardTables > 0,
      "semDedup: guardBits and guardTables must be positive")
    val cells =
      if (k > 0) k
      else {
        val n = vecs.count()
        require(n > 0, "semDedup: empty input")
        semDedupAutoK(n, targetCellSize).toInt
      }
    val model = kMeans(vecs, id, vec, cells, iters)
    val matrix = model.orderBy(col("cell")).collect().map(_.getSeq[Double](2).toArray)
    val assigned = vecs.select(col(id), col(vec), nearestCell(col(vec), matrix).as("cell"))
    val dropped = semDedupDropped(assigned, id, vec, threshold,
      guardCellSize, guardBits, guardTables, guardSeed)
    assigned.join(dropped, col(id) === col("b_id"), "left")
      .select(col(id), col("cell"), col("b_id").isNull.as("keep"))
  }

  /** STREAMING twin of [[semDedup]] — incremental semantic dedup in
    * the [[Dedup.dedupIngest]] catalog-table style: a `foreachBatch`
    * function that assigns each micro-batch to the cells of a FIXED
    * quantizer (train once offline with [[kMeans]] — the same
    * train-the-tokenizer-once stance as
    * [[TextAnalysis.trainingRowsIngest]]), drops every vector with an
    * earlier-arrived (or earlier-in-batch, lower-id) in-cell
    * near-duplicate, appends the survivors to `corpusTable`, and
    * appends ALL arrivals to `indexTable`.
    *
    * Indexing all arrivals — dropped ones included — is what makes the
    * streamed keep-set IDENTICAL to the UNGUARDED batch [[semDedup]]
    * recipe over the full corpus (given the same quantizer and
    * id-ordered arrival): in the batch recipe a junior is dropped when
    * ANY lower-id in-cell neighbor is near, whether or not that
    * neighbor itself survived. StreamingSpec pins the equality. Note
    * the batch form's HOT-CELL guard is not applied here — each batch
    * pairs exhaustively within its cells — so against a guarded batch
    * run the streamed form can only drop MORE (it sees every in-cell
    * pair the guard's sub-bucketing would skip); per-batch join work
    * is bounded by batch × in-cell index size, not index².
    *
    * Scale shape: assignment is the nearest_cell projection; the only
    * per-batch joins are cell equi-joins of the batch against the
    * in-cell slice of the index — at 100 TB the index streams through
    * the join exactly like [[Dedup.dedupIngest]]'s digest table.
    * The index table is BUCKETED on `cell` (`indexBuckets` buckets, the
    * [[graft.Catalog.createBucketedTable]] shape), so the growing index
    * side of that equi-join never shuffles — each batch shuffles only
    * itself to the index's bucketing (StreamingSpec pins the plan).
    *
    * Delivery: EXACTLY-ONCE through the [[Sketches.landDelta]]
    * delta-partition contract. `stateTable` records the last applied
    * batch id and a replayed batch at or below it is skipped whole;
    * both tables land each batch in its own batch_id partition with
    * dynamic overwrite, so a crash-window replay (tables written,
    * state not yet) REWRITES its own partitions byte-for-byte instead
    * of appending duplicates. The keep recomputation on such a replay
    * is identical because the seniority join reads only STRICTLY
    * EARLIER index partitions (batch_id < current) — the crashed
    * attempt's own postings never shadow its rerun. Writes are
    * corpus → index → state. */
  def semDedupIngest(model: DataFrame, id: String, vec: String,
      threshold: Double, corpusTable: String, indexTable: String,
      stateTable: String, indexBuckets: Int = 32): (DataFrame, Long) => Unit = {
    val (cellIds, matrix) = quantizerLiterals(model)
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      val spark = batch.sparkSession
      import spark.implicits._
      val lastBatch: Long =
        if (spark.catalog.tableExists(stateTable))
          spark.table(stateTable).head().getLong(0)
        else -1L
      if (batchId > lastBatch) {
        val assigned = batch.select(col(id), col(vec),
            element_at(cellIds, nearestCell(col(vec), matrix) + 1).as("cell"),
            fastNorm(col(vec)).as("nrm"))
          .localCheckpoint() // feeds both joins, the survivors and the index append
        // batch_id < batchId: partition-pruned to earlier batches, so a
        // crash-window replay recomputes against exactly the index the
        // crashed attempt saw (its own half-landed partition is invisible)
        val seen =
          if (spark.catalog.tableExists(indexTable))
            spark.table(indexTable).filter(col("batch_id") < batchId)
          else assigned.limit(0)
        def side(df: DataFrame, p: String) = df.select(col("cell"),
          col(id).as(s"${p}_id"), col(vec).as(s"${p}_vec"), col("nrm").as(s"${p}_nrm"))
        val near = cosineWithNorms(col("a_vec"), col("b_vec"), col("a_nrm"), col("b_nrm")) >= threshold
        // every indexed vector arrived earlier, so it is senior to the
        // whole batch; within the batch, seniority is the id order
        val vsIndex = side(seen, "a").join(side(assigned, "b"), Seq("cell"))
          .filter(near).select(col("b_id"))
        val inBatch = side(assigned, "a").join(side(assigned, "b"), Seq("cell"))
          .filter(col("a_id") < col("b_id") && near).select(col("b_id"))
        val dropped = vsIndex.union(inBatch).distinct()
        Sketches.landDelta(
          assigned.join(dropped, col(id) === col("b_id"), "left_anti")
            .select(col(id), col("cell"), col(vec)),
          batchId, corpusTable)
        Sketches.landDelta(assigned, batchId, indexTable,
          Some((indexBuckets, "cell")))
        Seq(batchId).toDF("last_batch")
          .write.mode("overwrite").saveAsTable(stateTable)
      }
    }
  }

  /** Streaming IVF-index maintenance — the missing ingest twin of the
    * batch-trained ANN path: the coarse quantizer is trained offline
    * (kMeans/[[pqCodebooks]], the standard recipe — an IVF model is k×d
    * doubles and retraining it per batch would move the cell boundaries
    * under the existing postings), and this foreachBatch sink keeps the
    * POSTING LISTS current as new vectors arrive. Each batch is one
    * pure projection — nearest_cell assignment + norm, no join, no
    * shuffle of the vectors — appended to a table BUCKETED on `cell`
    * ([[graft.Catalog.createBucketedTable]] shape, indexBuckets
    * buckets), so every future [[ivfSearchIndexed]] cell equi-join
    * reads the index side shuffle-free and the assignment + norm work
    * is paid once at ingest, not per query.
    *
    * Delivery: EXACTLY-ONCE through the [[Sketches.writeDeltaTo]]
    * delta-partition contract — a replayed batch id at or below the
    * state mark is skipped whole, and the crash-window redelivery
    * (postings written, state not yet) REWRITES its own batch_id
    * partition with dynamic overwrite instead of appending a
    * duplicate, which (unlike the dedup index) WOULD corrupt search
    * results by emitting duplicate (probe, target) rows.
    *
    * Index schema: (id, cell, vec, nrm, batch_id) under the caller's
    * id/vec column names. */
  def ivfIngest(model: DataFrame, id: String, vec: String,
      indexTable: String, stateTable: String,
      indexBuckets: Int = 32): (DataFrame, Long) => Unit = {
    val (cellIds, matrix) = quantizerLiterals(model)
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      Sketches.writeDeltaTo(
        batch.select(col(id),
          element_at(cellIds,
            nearestCell(col(vec), matrix) + 1).as("cell"),
          col(vec), fastNorm(col(vec)).as("nrm")),
        batchId, indexTable, stateTable, Some((indexBuckets, "cell")))
    }
  }

  /** Search the [[ivfIngest]]-maintained postings table: probes fan out
    * to their nProbe nearest cells (pure projection through
    * nearest_cells) and equi-join the index on `cell` — the index side
    * arrives bucketed on the join key, so only the query-sized probe
    * fan-out shuffles; target assignment and norms were prepaid at
    * ingest. Arithmetic is identical to [[ivfTopK]] (same quantizer
    * expressions, same cosineWithNorms, same (sim desc, tId) rank
    * order), so a search over the streamed index is bit-equal to batch
    * ivfTopK over the same corpus and model — StreamingSpec pins the
    * equality. `model` must be the same quantizer the index was
    * ingested with. */
  def ivfSearchIndexed(probes: DataFrame, pId: String, pVec: String,
      indexTable: String, model: DataFrame, tId: String, tVec: String,
      k: Int, nProbe: Int, roundTo: Int = 6): DataFrame = {
    val spark = probes.sparkSession
    val (cellIds, matrix) = quantizerLiterals(model)
    val indexed = spark.table(indexTable)
    val probeCells = probes.withColumn("p_nrm", fastNorm(col(pVec)))
      .select(col(pId), col(pVec), col("p_nrm"),
        explode(transform(
          nearestCells(col(pVec), matrix, nProbe),
          i => element_at(cellIds, i + 1))).as("cell"))
    val sim = round(
      cosineWithNorms(col(pVec), col(tVec), col("p_nrm"), col("nrm")),
      roundTo).as("sim")
    val joined = probeCells.join(indexed, Seq("cell"))
      .select(col(pId), col(tId), sim)
    val w = Window.partitionBy(col(pId)).orderBy(col("sim").desc, col(tId))
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF-PQ streaming index maintenance — [[ivfIngest]]'s
    * memory-bounded sibling and the shape a 100 TB ANN index actually
    * ships: postings hold m-BYTE PQ codes instead of full d×8-byte
    * vectors (a 64-d float corpus compresses 256×), so the index table
    * a query must scan stays cache-sized. Both models are trained
    * offline ([[kMeans]] coarse quantizer + [[pqCodebooks]]) and
    * frozen; each batch is one pure projection — nearest_cell
    * assignment + per-subspace code assignment, no join, no vector
    * shuffle — appended to the cell-bucketed postings table. Code
    * assignment arithmetic is IDENTICAL to [[pqEncode]] (same
    * nearest_cell folds over the same subspace matrices), so streamed
    * codes equal a batch encode of the same rows. Exactly-once
    * delivery through the [[Sketches.writeDeltaTo]] delta-partition
    * contract, exactly as [[ivfIngest]].
    *
    * Index schema: (id, cell, codes array<int>, batch_id). */
  def ivfPqIngest(model: DataFrame, books: DataFrame, id: String,
      vec: String, indexTable: String, stateTable: String,
      indexBuckets: Int = 32): (DataFrame, Long) => Unit = {
    val (cellIds, matrix) = quantizerLiterals(model)
    val (mats, sub) = pqMats(books)
    val m = mats.length
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      Sketches.writeDeltaTo(
        batch.select(col(id),
          element_at(cellIds,
            nearestCell(col(vec), matrix) + 1).as("cell"),
          array((0 until m).map(sp =>
            nearestCell(slice(col(vec), sp * sub + 1, sub), mats(sp).map(_.toArray).toArray)): _*)
            .as("codes")),
        batchId, indexTable, stateTable, Some((indexBuckets, "cell")))
    }
  }

  /** ADC search over the [[ivfPqIngest]]-maintained coded postings:
    * each probe precomputes its m×k distance table against `books`
    * (the [[pqTopK]] shape), fans out to its nProbe nearest coarse
    * cells, and the cell equi-join + codegen'd adc_score ranks only
    * the probed cells' codes — the index side arrives bucketed on the
    * join key, so at any corpus size the scan is nProbe/kCells of the
    * postings and shuffles nothing but the query-sized probe fan-out.
    * With nProbe = kCells the candidate set is the whole corpus and
    * the result is bit-equal to full-scan [[pqTopK]] over the same
    * codes (VectorSpec pins it). */
  def ivfPqSearchIndexed(probes: DataFrame, pId: String, pVec: String,
      indexTable: String, model: DataFrame, books: DataFrame,
      tId: String, k: Int, nProbe: Int, roundTo: Int = 6): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    val (cellIds, matrix) = quantizerLiterals(model)
    val bk = books.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    require(bk.nonEmpty, "ivfPqSearchIndexed: empty codebook")
    val m = bk.map(_._1).max + 1
    val kCells = bk.map(_._2).max + 1
    val subDim = bk.head._3.length
    val pSub = probes.select(col(pId), col(pVec),
      posexplode(array((0 until m).map(sp =>
        slice(col(pVec), sp * subDim + 1, subDim)): _*)).as(Seq("sub", "subv")))
    val table = pSub.join(broadcast(bk.toSeq.toDF("sub", "cell", "c_vec")), "sub")
      .select(col(pId), col("sub"), col("cell"),
        fastSquaredL2(col("subv"), col("c_vec")).as("d"))
      .groupBy(col(pId))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("cell"), col("d")))),
        x => x.getField("d")).as("dtab"))
    val probeCells = probes
      .select(col(pId),
        explode(transform(
          nearestCells(col(pVec), matrix, nProbe),
          i => element_at(cellIds, i + 1))).as("cell"))
      .join(broadcast(table), Seq(pId))
    val postings = spark.table(indexTable)
    val w = Window.partitionBy(col(pId)).orderBy(col("adc"), col(tId))
    probeCells.join(postings, Seq("cell"))
      .select(col(pId), col(tId),
        round(adcScore(col("codes"), col("dtab"), kCells), roundTo).as("adc"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Per-subspace centroid matrices from a [[pqCodebooks]] relation —
    * the shared decode of pqEncode and ivfPqIngest, so both assign
    * codes with identical arithmetic. Returns (matrices, subDim). */
  private def pqMats(books: DataFrame): (IndexedSeq[Seq[Seq[Double]]], Int) = {
    val bk = books.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    require(bk.nonEmpty, "empty codebook")
    val m = bk.map(_._1).max + 1
    val mats = (0 until m).map { sp =>
      val rows = bk.filter(_._1 == sp).sortBy(_._2)
      require(rows.map(_._2).toSeq == rows.indices.toSeq,
        s"codebook subspace $sp cells are not contiguous from 0")
      rows.map(_._3).toSeq
    }
    (mats, bk.head._3.length)
  }

  /** The pruning half of [[semDedup]] over a pre-assigned (id, vec,
    * cell) relation: distinct junior ids (`b_id`) that have a senior
    * in-cell near-duplicate. Exposed so tests can count candidate
    * pairs under the hot-cell guard. */
  private[graft] def semDedupDropped(assigned: DataFrame, id: String,
      vec: String, threshold: Double, guardCellSize: Long,
      guardBits: Int, guardTables: Int, guardSeed: Int): DataFrame = {
    val keyed = semDedupKeyed(assigned, id, vec,
      guardCellSize, guardBits, guardTables, guardSeed)
    val a = keyed.select(col("cell"), col("tbl"), col("bucket"),
      col(id).as("a_id"), col(vec).as("a_vec"), col("nrm").as("a_nrm"))
    val b = keyed.select(col("cell"), col("tbl"), col("bucket"),
      col(id).as("b_id"), col(vec).as("b_vec"), col("nrm").as("b_nrm"))
    a.join(b, Seq("cell", "tbl", "bucket"))
      .filter(col("a_id") < col("b_id") &&
        cosineWithNorms(col("a_vec"), col("b_vec"), col("a_nrm"), col("b_nrm"))
          >= threshold)
      .select(col("b_id")).distinct()
  }

  /** Pairing keys for [[semDedupDropped]]: one (cell, -1, 0) row per
    * vector in cells at or under `guardCellSize` (exhaustive in-cell
    * pairing), `guardTables` (cell, tbl, lsh-bucket) rows per vector in
    * oversized cells. Cell sizes come from a k-row aggregate joined
    * back by broadcast. */
  private[graft] def semDedupKeyed(assigned: DataFrame, id: String, vec: String,
      guardCellSize: Long, guardBits: Int, guardTables: Int,
      guardSeed: Int): DataFrame = {
    // localCheckpoint: the assigned relation feeds the cell-size count
    // and both self-join arms; without it the upstream nearest_cell
    // assignment (k×d work per row) re-runs per arm (dual-arm
    // convention)
    val withNorm = assigned.withColumn("nrm", fastNorm(col(vec)))
      .localCheckpoint()
    val cellSizes = withNorm.groupBy(col("cell")).agg(count(lit(1)).as("csz"))
    val exhaustiveKey = array(struct(lit(-1).as("tbl"), lit(0L).as("bucket")))
    val guardKeys = transform(
      lshBuckets(col(vec), guardBits, guardTables, guardSeed),
      (bk, i) => struct(i.cast("int").as("tbl"), bk.as("bucket")))
    withNorm.join(broadcast(cellSizes), Seq("cell"))
      .withColumn("k2",
        explode(when(col("csz") <= guardCellSize, exhaustiveKey).otherwise(guardKeys)))
      .select(col("cell"), col("k2.tbl").as("tbl"), col("k2.bucket").as("bucket"),
        col(id), col(vec), col("nrm"))
  }

  /** Product quantization: split each d-dim vector into `m` contiguous
    * subvectors, train a k-cell [[kMeans]] codebook per subspace on a
    * sample, and encode every vector as m small codes — the compression
    * half of the classic IVF-PQ recipe (IVF = [[ivfTopK]]'s cell
    * routing; PQ shrinks the in-cell vectors from d doubles to m bytes,
    * which at 100 TB is what makes the index fit memory).
    *
    * Codebooks train on `trainSample` (standard PQ practice — the
    * codebook is a tiny model; sampling bounds the m × iters training
    * cost no matter the corpus size). Sample training is the DEFAULT
    * (lowest 256·k ids, deterministic on any partitioning) — full-corpus
    * training is the explicit opt-in (`identity`), because m codebooks ×
    * iters passes over an unbounded corpus is a scale bug, not a
    * default. Encoding is one broadcast join of all m codebooks + a
    * projection per subspace; deterministic because [[kMeans]] is.
    *
    * @return (id, codes array<int>, recon_err double) — recon_err is
    *         the squared L2 between the vector and its codebook
    *         reconstruction, the metric that tunes m/k. */
  def productQuantize(vecs: DataFrame, id: String, vec: String,
      m: Int, k: Int, iters: Int,
      trainSample: DataFrame => DataFrame = DefaultTrainSample)
      : DataFrame = {
    val sample =
      if (trainSample eq DefaultTrainSample)
        (df: DataFrame) => df.sort(col(id)).limit(256 * k)
      else trainSample
    pqEncode(vecs, id, vec, pqCodebooks(sample(vecs), id, vec, m, k, iters))
  }

  /** Encode vectors against existing [[pqCodebooks]]: nearest codebook
    * cell per subspace, as a PURE PROJECTION — the codebook is
    * collected driver-side (m × k × subDim doubles — tiny) and each
    * subspace's matrix ships inside a [[graft.plans.NearestCell]]
    * expression, with the reconstruction error read back through an
    * element_at on the same literal. No shuffle at all (the previous
    * shape exploded every vector into m rows and re-grouped twice);
    * recon_err sums subspace errors in subspace order — deterministic
    * for any m, matching the oracle's in-order list fold. */
  def pqEncode(vecs: DataFrame, id: String, vec: String, books: DataFrame): DataFrame = {
    // per-subspace centroid matrices, cell-indexed (kMeans guarantees
    // contiguous cells 0..k-1; pqMats verifies so element_at(cell+1)
    // is sound) — shared with ivfPqIngest so streamed codes are
    // bit-equal to a batch encode
    val (mats, sub) = pqMats(books)
    val m = mats.length
    val dim = vecs.select(size(col(vec))).head.getInt(0)
    require(dim == m * sub,
      s"pqEncode: vectors are $dim-d but the codebook covers ${m}x$sub dims")
    def subv(s: Int) = slice(col(vec), s * sub + 1, sub)
    val withCodes = vecs.select(col(id) +: col(vec) +:
      (0 until m).map(s =>
        nearestCell(subv(s), mats(s).map(_.toArray).toArray).as(s"_c$s")): _*)
    val errs = (0 until m).map(s =>
      fastSquaredL2(subv(s), element_at(typedlit(mats(s)), col(s"_c$s") + 1)))
    withCodes.select(col(id),
      array((0 until m).map(s => col(s"_c$s")): _*).as("codes"),
      errs.reduce(_ + _).as("recon_err"))
  }

  /** PQ codebooks as a DataFrame (sub, cell, c_vec) — the training half
    * of [[productQuantize]] exposed so [[pqTopK]] can reuse one model
    * for both encoding and search. */
  def pqCodebooks(vecs: DataFrame, id: String, vec: String,
      m: Int, k: Int, iters: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // ONE pin of the training input: callers pass the (bounded)
    // training sample, and without it each of the m subspace trainings
    // would re-run the sample's upstream lineage — m extra corpus
    // passes when the sample is an order/limit cut. Null vectors are
    // dropped here, as kMeans drops them (a slice is null iff the
    // vector is).
    val train = vecs.select(col(id), col(vec)).filter(col(vec).isNotNull)
    def subDim(dim: Int): Int = {
      require(dim % m == 0, s"m=$m must divide dim=$dim")
      dim / m
    }
    // one-collect driver path: the training sample is contract-bounded
    // (the kMeans driver cutoff, 2^16 rows), so ONE sorted collect
    // feeds all m subspace Lloyd loops — the per-subspace kMeans calls
    // would each pay their own pin + count + sort-collect jobs over the
    // same relation. Slicing the collected vectors driver-side is the
    // same doubles slice(col, s·sub+1, sub) produced, and lloydDriver
    // IS the kMeans driver body — so the trained books, and every
    // oracle hash downstream, are unchanged (ParityBoundarySpec pins
    // it).
    Route.bySize(train, 1L << 16) { pin =>
      val rows = pin.orderBy(col(id)).collect()
      require(rows.length >= k,
        s"pqCodebooks: need at least k=$k non-null vectors, got ${rows.length}")
      val data: Array[Array[Double]] = rows.map(_.getSeq[Double](1).toArray)
      val sub = subDim(data(0).length)
      (0 until m).flatMap { s =>
        val sliced = data.map(v =>
          java.util.Arrays.copyOfRange(v, s * sub, s * sub + sub))
        lloydDriver(sliced, k, iters)
          .map { case (c, _, cv) => (s, c, cv) }
      }.toDF("sub", "cell", "c_vec")
    } { pin =>
      val sub = subDim(pin.select(size(col(vec))).head.getInt(0))
      (0 until m).flatMap { s =>
        val sliced = pin.select(col(id), slice(col(vec), s * sub + 1, sub).as("subv"))
        kMeans(sliced, id, "subv", k, iters).collect()
          .map(r => (s, r.getInt(0), r.getSeq[Double](2)))
      }.toDF("sub", "cell", "c_vec")
    }
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each probe
    * precomputes its distance to every codebook cell and carries it as
    * ONE flattened m×k array (sub-major), broadcast to the corpus;
    * every target is then scored by the codegen'd
    * [[graft.plans.AdcScore]] expression — m array reads + adds per
    * (probe, target) pair, a pure projection. The only shuffle is the
    * per-probe rank over (pId, tId, adc) rows; the old shape
    * additionally exploded every target's codes and aggregated m rows
    * per pair through a (sub, cell) join. Summation is in subspace
    * order (deterministic for any m, where the aggregate form relied on
    * m=2 commutativity). This is the in-cell scan of the IVF-PQ recipe:
    * exhaustive over the candidate set but at m-int cost per target, so
    * at 100 TB it runs inside [[ivfTopK]]'s cell routing rather than
    * standalone.
    *
    * @param coded  [[productQuantize]] output (tId, codes)
    * @param books  [[pqCodebooks]] output (sub, cell, c_vec)
    * @return (pId, tId, adc, rank), rank 1..k by ascending approximate
    *         squared distance, ties to the lower target id. */
  def pqTopK(
      probes: DataFrame, pId: String, pVec: String,
      coded: DataFrame, tId: String,
      books: DataFrame, k: Int, roundTo: Int = 6): DataFrame = {
    val bk = books.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    require(bk.nonEmpty, "pqTopK: empty codebook")
    val m = bk.map(_._1).max + 1
    val kCells = bk.map(_._2).max + 1
    val subDim = bk.head._3.length
    // probe-side distance table, flattened sub-major: dtab[s*k + cell]
    val pSub = probes.select(col(pId),
      posexplode(array((0 until m).map(s =>
        slice(col(pVec), s * subDim + 1, subDim)): _*)).as(Seq("sub", "subv")))
    val spark = probes.sparkSession
    import spark.implicits._
    val table = pSub.join(broadcast(bk.toSeq.toDF("sub", "cell", "c_vec")), "sub")
      .select(col(pId), col("sub"), col("cell"),
        fastSquaredL2(col("subv"), col("c_vec")).as("d"))
      .groupBy(col(pId))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("cell"), col("d")))),
        x => x.getField("d")).as("dtab"))
    // the distance table is P rows of m×k doubles (probes are
    // query-sized by assumption) — broadcast it so corpus codes stream
    // through a BNLJ and score in-place
    val w = Window.partitionBy(col(pId)).orderBy(col("adc"), col(tId))
    coded.crossJoin(broadcast(table))
      .select(col(pId), col(tId),
        round(adcScore(col("codes"), col("dtab"), kCells),
          roundTo).as("adc"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Convenience: build an IVF coarse quantizer from [[labelCentroids]]
    * output (cell = label, centroid re-assembled from exploded dims). */
  def centroidsAsQuantizer(vecs: DataFrame, label: String, vec: String): DataFrame =
    labelCentroids(vecs, label, vec, roundTo = 9)
      .groupBy(col(label).as("cell"))
      .agg(array_sort(collect_list(struct(col("dim"), col("centroid")))).as("dc"))
      .select(col("cell"), expr("transform(dc, x -> x.centroid)").as("centroid_vec"))

  /** Embedding-space drift between a reference and a current slice —
    * the vector-modality member of the monitor family ([[graft.operators.Quality.psiReport]]
    * reads scalar share shifts, [[graft.operators.Quality.ksReport]]
    * CDF gaps; this reads where the EMBEDDING DISTRIBUTION'S CENTER
    * moved — the first-line "did the encoder or the corpus change?"
    * check before an IVF/PQ index is trusted across batches).
    *
    * Cross-engine exactness: values snap to a 1e-6 grid, so each
    * slice's per-dimension SUM vector is an exact integer; cosine
    * between centroids equals cosine between sum vectors (the 1/n
    * scaling cancels), computed as one IEEE chain over exact-integer
    * dot/norms — unrounded, engine-identical. The centroid L2 distance
    * (which does not cancel n) accumulates per-dim round(diff², 14)
    * terms in DECIMAL(38,14) — the [[Graph.pageRank]] order-
    * independence discipline. One explode + one |dims|-group aggregate;
    * state is 5 numbers per dimension at any corpus size.
    *
    * Output: one row (n_ref, n_cur, cosine, l2_centroids); cosine null
    * if either slice is empty or all-zero. */
  def centroidDrift(vecs: DataFrame, vec: String, isRef: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val byDim = vecs
      .withColumn("is_ref", coalesce(isRef, lit(false)))
      .select(col("is_ref"), posexplode(col(vec)).as(Seq("dim", "v")))
      .withColumn("g", floor(col("v") * 1e6 + 0.5).cast("long"))
      .groupBy(col("dim"))
      .agg(sum(when(col("is_ref"), col("g")).otherwise(0L)).as("sr"),
        sum(when(!col("is_ref"), col("g")).otherwise(0L)).as("sc"),
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("cr"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cc"))
    // nullif: ANSI mode throws on double division by zero, and an empty
    // slice has cr/cc = 0 — the null propagates to a null l2 output
    val diff = col("sr").cast("double") /
        nullif(col("cr").cast("double"), lit(0.0)) / lit(1e6) -
      col("sc").cast("double") /
        nullif(col("cc").cast("double"), lit(0.0)) / lit(1e6)
    byDim
      .select(col("sr"), col("sc"), col("cr"), col("cc"),
        round(diff * diff, 14).cast(DecimalType(38, 14)).as("d2"))
      .agg(max(col("cr")).as("n_ref"), max(col("cc")).as("n_cur"),
        sum(dec(col("sr")) * dec(col("sc"))).as("dot"),
        sum(dec(col("sr")) * dec(col("sr"))).as("r2"),
        sum(dec(col("sc")) * dec(col("sc"))).as("c2"),
        sum(col("d2")).as("l2sq"))
      .select(col("n_ref"), col("n_cur"),
        (col("dot").cast("double") /
          nullif(sqrt(col("r2").cast("double")) * sqrt(col("c2").cast("double")),
            lit(0.0))).as("cosine"),
        sqrt(col("l2sq").cast("double")).as("l2_centroids"))
  }

  /** Per-label centroids via posexplode + avg — dimension-exploded form
    * (label, dim, centroid) so it stays SQL-expressible for the oracle. */
  def labelCentroids(vecs: DataFrame, label: String, vec: String,
      roundTo: Int = 6): DataFrame =
    vecs.select(col(label), posexplode(col(vec)).as(Seq("pos", "v")))
      .groupBy(col(label), (col("pos") + 1).as("dim"))
      .agg(round(avg(col("v")), roundTo).as("centroid"), count(lit(1)).as("n"))

  /** Typed UDAF form of the centroid (SURVEY.md §2.12 — the reference has
    * no UDAF-shaped code; this covers the Aggregator[IN,BUF,OUT] surface):
    * elementwise mean of dense vectors, usable as
    * `ds.groupByKey(...).agg(CentroidAggregator.toColumn)`. Partial
    * buffers merge associatively, so map-side combine applies. */
  object CentroidAggregator
      extends org.apache.spark.sql.expressions.Aggregator[Seq[Double], (Array[Double], Long), Seq[Double]] {
    override def zero: (Array[Double], Long) = (Array.empty[Double], 0L)
    override def reduce(b: (Array[Double], Long), v: Seq[Double]): (Array[Double], Long) = {
      val acc = if (b._1.isEmpty) new Array[Double](v.length) else b._1
      var i = 0
      while (i < v.length) { acc(i) += v(i); i += 1 }
      (acc, b._2 + 1)
    }
    override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
      if (a._1.isEmpty) b
      else if (b._1.isEmpty) a
      else {
        var i = 0
        while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
        (a._1, a._2 + b._2)
      }
    }
    override def finish(r: (Array[Double], Long)): Seq[Double] =
      if (r._2 == 0) Seq.empty else r._1.toSeq.map(_ / r._2)
    override def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Double], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** Prototypicality-based data pruning (the SSL-prototypes metric of
    * Sorscher et al. 2022, "Beyond neural scaling laws"): each vector's
    * cosine to its own class centroid. The MOST prototypical (easiest)
    * examples are redundant when data is abundant — `keep` marks the
    * survivors after pruning the top `pruneFrac` most prototypical per
    * label, so the kept set is the hard/diverse remainder.
    *
    * Scale shape: centroids are one dimension-exploded bounded aggregate
    * ([[labelCentroids]] — |labels|·d rows, map-side combined), then
    * reassembled (array_sort on (dim, value) structs — deterministic)
    * and BROADCAST back, so scoring is a projection over one corpus
    * scan; the per-label ranking shuffles only (label, cos, id) triples.
    * No pair space anywhere — this is the O(n·d) cousin of semDedup's
    * within-cell pair search. Centroids are rounded to `roundTo` BEFORE
    * the cosine so any engine re-derives identical scores. */
  def prototypicality(vecs: DataFrame, idCol: String, vec: String,
      label: String, pruneFrac: Double = 0.2, roundTo: Int = 6): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    require(pruneFrac >= 0 && pruneFrac < 1, "prototypicality: pruneFrac in [0,1)")
    val cent = labelCentroids(vecs, label, vec, roundTo)
      .groupBy(col(label))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("centroid")))),
        s => s.getField("centroid")).as("cvec"))
    val w = Window.partitionBy(col(label))
      .orderBy(col("proto_cos").desc, col(idCol))
    vecs.join(broadcast(cent), label)
      .select(col(idCol), col(label),
        round(cosine(col(vec), col("cvec")), roundTo).as("proto_cos"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col(label))))
      .select(col(idCol), col(label), col("proto_cos"),
        (col("rn") > ceil(col("n") * pruneFrac)).as("keep"))
  }
}
