package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for the vector-similarity hot path.
  *
  * Spark's higher-order functions (aggregate/zip_with) don't participate
  * in whole-stage codegen — each element evaluation walks an interpreted
  * expression tree, which dominated the broadcast similarity joins
  * (O(pairs × dim) lambda evals). These expressions generate a tight
  * primitive double loop instead, keeping the join inside
  * WholeStageCodegen. Fold order is the same strict left-to-right as the
  * HOF versions and DuckDB's list_inner_product/list_distance loops, so
  * results stay bit-identical (oracle parity preserved).
  *
  * Null array *elements* are not expected (inputs are dense embedding
  * vectors); null top-level inputs propagate via BinaryExpression's
  * default null handling.
  */
trait VectorBinaryExpression extends BinaryExpression {
  // inputs must already be array<double>; call sites in this repo cast
  // the float vectors once at load (Tables/SimilarityQueries).
  // Ragged inputs (unequal lengths) yield NULL — same as the HOF
  // zip_with/aggregate forms, where the padded null element poisons the
  // fold — rather than a silently-truncated partial result.
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
}

/** Sum of elementwise products of two double arrays. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $s = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $s += $a.getDouble($i) * $b.getDouble($i);
          }
          ${ev.value} = $s;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sum of squared elementwise differences (squared L2 distance). */
case class SquaredL2(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_sq_l2"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val dv = ctx.freshName("d")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $s = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $dv = $a.getDouble($i) - $b.getDouble($i);
            $s += $dv * $dv;
          }
          ${ev.value} = $s;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sum of elementwise products of two int8-code arrays
  * (array<tinyint>), accumulated exactly in a long — the prefilter dot
  * for quantized rescoring: d byte-reads per pair instead of d
  * double-reads, inside whole-stage codegen. Integer arithmetic is
  * exact (|products| ≤ 127², so even billion-dim vectors cannot
  * overflow the long accumulator), which keeps the quantization error
  * analysis in [[graft.operators.Similarity.lshNearDup]] sound: the
  * only approximation is the quantization itself, never this sum. */
case class DotProductI8(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "vec_dot_i8"
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) { s += a.getByte(i) * b.getByte(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          long $s = 0L;
          for (int $i = 0; $i < $n; $i++) {
            $s += $a.getByte($i) * $b.getByte($i);
          }
          ${ev.value} = $s;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** md5-parity ±1 sign shared by [[LshBuckets]] and [[RpProject]]: even
  * parity of the first hex digit of md5(key) → +1.0, else −1.0. One
  * definition so the two sign matrices (and the SQL oracles that
  * recompute them from the hex string) cannot silently diverge. */
private[plans] object Md5Sign {
  def apply(key: String): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first hex digit = high nibble of byte 0; even parity → +1
    if ((((digest(0) >> 4) & 0xF) & 1) == 0) 1.0 else -1.0
  }
}

/** Random-hyperplane LSH bucket keys for cosine similarity, all hash
  * tables in one pass: bucket[t] = nBits sign bits of projections onto
  * pseudo-random ±1 hyperplanes. Hyperplane signs are derived from the
  * first hex digit's parity of md5("seed:t:i:j") — deterministic across
  * executors with no shipped randomness, and recomputable by any SQL
  * engine (so the LSH pair set is oracle-checkable, where an
  * xxhash64-seeded matrix is Spark-only). The matrix is memoized per
  * vector dimension, so each row costs only nTables × nBits × dim
  * multiply-adds.
  *
  * Returns array<long> of length nTables. Row-level eval
  * (CodegenFallback): linear work per row, like [[ShingleHashes]]. */
case class LshBuckets(child: Expression, nBits: Int, nTables: Int, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(nBits <= 63, "nBits must fit in a long")
  override def prettyName: String = "lsh_buckets"
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  // sign matrix [table][bit][dim], built once per executor per dim
  @transient private lazy val signCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Array[Double]]]]()

  private def signs(dim: Int): Array[Array[Array[Double]]] =
    signCache.computeIfAbsent(dim, d => {
      Array.tabulate(nTables, nBits, d) { (t, i, j) => Md5Sign(s"$seed:$t:$i:$j") }
    })

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val s = signs(dim)
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var key = 0L
      var i = 0
      while (i < nBits) {
        var proj = 0.0
        val row = s(t)(i)
        var j = 0
        while (j < dim) { proj += v.getDouble(j) * row(j); j += 1 }
        if (proj >= 0) key |= (1L << i)
        i += 1
      }
      out(t) = key
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Johnson–Lindenstrauss random projection onto `dOut` dimensions:
  * out[i] = Σ_j v[j]·s(i,j) / √dOut with a ±1 sign matrix derived from
  * the first hex digit's parity of md5("seed:i:j") — the real-valued
  * generalization of [[LshBuckets]] (which keeps only the projections'
  * signs). Same determinism story: no shipped randomness, identical on
  * every executor, recomputable by any SQL engine, so projected vectors
  * are oracle-checkable. The √dOut scale makes the projection
  * distance-preserving in expectation (E‖p(a)−p(b)‖² = ‖a−b‖²) — the
  * standard pre-ANN compression that cuts every downstream shuffle,
  * broadcast and distance loop by dim/dOut. Matrix memoized per input
  * dimension; row cost dOut × dim multiply-adds, strict ascending-j
  * fold (bit-identical to an ordered SQL list fold). */
case class RpProject(child: Expression, dOut: Int, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(dOut > 0, s"$prettyName: dOut must be positive")
  override def prettyName: String = "rp_project"
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)

  // sign matrix [out-dim][in-dim], built once per executor per input dim
  @transient private lazy val signCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()

  private def signs(dim: Int): Array[Array[Double]] =
    signCache.computeIfAbsent(dim, d => {
      Array.tabulate(dOut, d) { (i, j) => Md5Sign(s"$seed:$i:$j") }
    })

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val s = signs(dim)
    val scale = math.sqrt(dOut.toDouble)
    val out = new Array[Double](dOut)
    var i = 0
    while (i < dOut) {
      var p = 0.0
      val row = s(i)
      var j = 0
      while (j < dim) { p += v.getDouble(j) * row(j); j += 1 }
      out(i) = p / scale
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Argmin cell assignment against a driver-held centroid matrix — the
  * expression that makes k-means assignment a PURE PROJECTION: the
  * centroid model (k×d doubles, tiny by construction) ships inside the
  * serialized expression, so no vector ever crosses a shuffle during
  * training; only (cell, pos, x) partial aggregates do. Ties break to
  * the LOWER cell (strict < keeps the first minimum), matching the
  * min_by(cell, struct(dist, cell)) form this replaces. Distance is the
  * same strict left-to-right squared-L2 fold as [[SquaredL2]], so
  * assignments are bit-identical to the join form. Row-level eval
  * (CodegenFallback): k×d multiply-adds per row, like [[LshBuckets]].
  *
  * Returns null for a null/ragged input (no centroid of matching
  * length) — callers feed dense fixed-dim embeddings. */
case class NearestCell(child: Expression, centroids: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(centroids.nonEmpty, s"$prettyName: empty centroid matrix")
  override def prettyName: String = "nearest_cell"
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    var best = -1
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < centroids.length) {
      val ct = centroids(c)
      if (ct.length == n) {
        var s = 0.0
        var i = 0
        while (i < n) { val d = v.getDouble(i) - ct(i); s += d * d; i += 1 }
        if (s < bestD) { bestD = s; best = c }
      }
      c += 1
    }
    if (best < 0) null else best
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Top-`nProbe` nearest cells against a driver-held centroid matrix —
  * [[NearestCell]]'s multi-probe sibling, built for the PROBE side of
  * IVF search: each probe needs its nProbe nearest cells, and the
  * crossJoin(centroids) + window form this replaces expanded every
  * probe into k rows and ranked them through a per-probe sort — fine
  * for query-sized probe sets, an n×k shuffle wall for batch-join
  * workloads where probes ≈ corpus. This computes the same answer as a
  * pure projection: k strict left-to-right squared-L2 folds (identical
  * arithmetic to [[SquaredL2]]/[[NearestCell]]) and an O(k·nProbe)
  * partial selection, emitting matrix indices ordered by (distance,
  * index) — exactly the window's (dist, cell-id) order with its
  * ties-to-lower-cell row_number cut, so results are bit-identical.
  * Centroids whose length differs from the input are skipped (the
  * [[NearestCell]] convention); fewer than nProbe valid centroids
  * yield a shorter array, and no valid centroid yields null. */
case class NearestCells(child: Expression, centroids: Array[Array[Double]], nProbe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(centroids.nonEmpty, s"$prettyName: empty centroid matrix")
  require(nProbe > 0, s"$prettyName: nProbe must be positive")
  override def prettyName: String = "nearest_cells"
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val k = centroids.length
    val dists = new Array[Double](k)
    val valid = new Array[Boolean](k)
    var c = 0
    while (c < k) {
      val ct = centroids(c)
      if (ct.length == n) {
        var s = 0.0
        var i = 0
        while (i < n) { val d = v.getDouble(i) - ct(i); s += d * d; i += 1 }
        dists(c) = s; valid(c) = true
      }
      c += 1
    }
    // partial selection: repeatedly take the unpicked (dist, index)
    // minimum — strict < keeps the first (= lowest-index) minimum,
    // matching the window form's ties-to-lower-cell order
    val out = new Array[Int](nProbe)
    var taken = 0
    while (taken < nProbe) {
      var best = -1
      var bestD = Double.PositiveInfinity
      var j = 0
      while (j < k) {
        if (valid(j) && dists(j) < bestD) { bestD = dists(j); best = j }
        j += 1
      }
      if (best < 0) {
        if (taken == 0) return null
        return new GenericArrayData(java.util.Arrays.copyOf(out, taken))
      }
      valid(best) = false
      out(taken) = best
      taken += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Asymmetric-distance (ADC) score of a PQ code array against one
  * probe's flattened distance table: sum over subspaces s of
  * dtab[s·k + codes[s]], where dtab holds the probe's squared distance
  * to every (subspace, cell) codebook entry in (sub, cell) order. This
  * turns PQ scoring into a single projection per (probe, target) pair —
  * m array reads and adds, inside whole-stage codegen — replacing a
  * codes-explode + (sub, cell) join + per-pair aggregation (which
  * shuffled m rows per pair). Returns null on a malformed code (index
  * outside the table), mirroring the join form where such a code simply
  * finds no distance row. */
case class AdcScore(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  require(k > 0, s"$prettyName: k must be positive")
  override def prettyName: String = "adc_score"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(codes: Any, dtab: Any): Any = {
    val c = codes.asInstanceOf[ArrayData]
    val t = dtab.asInstanceOf[ArrayData]
    val m = c.numElements()
    val n = t.numElements()
    var s = 0.0
    var i = 0
    while (i < m) {
      val idx = i * k + c.getInt(i)
      if (idx < 0 || idx >= n) return null
      s += t.getDouble(idx)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t) => {
      val m = ctx.freshName("m")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val idx = ctx.freshName("idx")
      val s = ctx.freshName("s")
      s"""
        int $m = $c.numElements();
        int $n = $t.numElements();
        double $s = 0.0;
        for (int $i = 0; $i < $m && !${ev.isNull}; $i++) {
          int $idx = $i * $k + $c.getInt($i);
          if ($idx < 0 || $idx >= $n) {
            ${ev.isNull} = true;
          } else {
            $s += $t.getDouble($idx);
          }
        }
        ${ev.value} = $s;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Z-normalized correlation of a sliding window against a driver-held
  * z-normalized query pattern — the per-row hot loop of
  * [[graft.operators.EventOps.motifTopK]] fused into ONE pass. The
  * declarative form ran three interpreted higher-order folds per row
  * (mean, variance, correlation over zip_with), each with per-element
  * expression-tree overhead; this computes the identical strict
  * left-to-right double arithmetic — sum, Σ(x−m)², then
  * Σ((x−m)/√v)·q — in a primitive loop, so results are bit-identical
  * to the HOF form and the SQL oracle. Returns
  * struct<v:double, corr:double> with corr UNROUNDED (callers keep the
  * built-in round() so rounding semantics stay Spark's); windows whose
  * length differs from the pattern yield null, zero-variance windows
  * yield corr 0 (callers filter v > 0 first, matching the oracle). */
case class MotifCorr(child: Expression, zq: Array[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(zq.nonEmpty, s"$prettyName: empty pattern")
  override def prettyName: String = "motif_corr"
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("corr",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val w = input.asInstanceOf[ArrayData]
    val n = w.numElements()
    if (n != zq.length) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += w.getDouble(i); i += 1 }
    val m = s / n
    var s2 = 0.0
    i = 0
    while (i < n) { val d = w.getDouble(i) - m; s2 += d * d; i += 1 }
    val v = s2 / n
    var corr = 0.0
    if (v > 0) {
      val sd = math.sqrt(v)
      var s3 = 0.0
      i = 0
      while (i < n) { s3 += (w.getDouble(i) - m) / sd * zq(i); i += 1 }
      corr = s3 / n
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](v, corr))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
