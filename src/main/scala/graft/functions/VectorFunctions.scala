package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column => wrap, expression => unwrap}
import org.apache.spark.sql.functions._

import graft.plans.{AdcScore, DotProduct, DotProductI8, LshBuckets, MotifCorr,
  NearestCell, NearestCells, RpProject, SquaredL2}

/** Vector math over `array<float|double>` columns as pure Catalyst
  * higher-order-function expressions — codegen'd, no UDF serde, and
  * therefore usable inside joins/filters that Catalyst can still
  * optimize around (SURVEY.md §2.6 J1, §2.12).
  *
  * The reference's match predicate is `norm(a-b) <= tolerance` over
  * 128-d face encodings (/root/reference/src/prediction_producer.py:317);
  * here the dimension comes from the data (testdata embeddings are 64-d).
  *
  * All folds are strict left-to-right (`aggregate` semantics), matching
  * DuckDB's list_distance / list_inner_product loops, so both engines
  * produce bit-identical doubles given identical (double-cast) inputs.
  */
object VectorFunctions {

  /** Cast a float vector to double exactly (float→double is lossless). */
  def asDoubleVec(c: Column): Column = c.cast("array<double>")

  /** Sum of elementwise products, left-to-right fold. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Squared L2 distance (no sqrt — cheaper for threshold predicates). */
  def squaredL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  /** Euclidean distance. */
  def l2(a: Column, b: Column): Column = sqrt(squaredL2(a, b))

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity = dot / (||a|| * ||b||). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  // ---- codegen'd fast path (graft.plans.VectorExpressions) -----------
  // Same fold order and arithmetic as the HOF versions above, but as
  // native expressions inside whole-stage codegen — use these in join
  // hot paths. Built as Columns directly, so they need no function
  // registry entry. A threshold on a distance compares the SQUARED
  // distance with the squared tolerance (no sqrt per pair).

  def fastDot(a: Column, b: Column): Column = wrap(DotProduct(unwrap(a), unwrap(b)))

  def fastSquaredL2(a: Column, b: Column): Column = wrap(SquaredL2(unwrap(a), unwrap(b)))

  def fastNorm(a: Column): Column = sqrt(fastDot(a, a))

  /** Cosine from a precomputed-norm pair: dot/(na*nb) — identical
    * arithmetic to [[cosine]] when na/nb are [[fastNorm]] columns. */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    fastDot(a, b) / (na * nb)

  /** Exact long dot product of two int8-code arrays ([[DotProductI8]]). */
  def dotI8(a: Column, b: Column): Column = wrap(DotProductI8(unwrap(a), unwrap(b)))

  // ---- model-carrying projections ------------------------------------
  // The model (seed, widths, centroid matrix, pattern) is a plain value
  // that ships inside the expression, so each is a pure projection.

  def lshBuckets(v: Column, nBits: Int, nTables: Int, seed: Long): Column =
    wrap(LshBuckets(unwrap(v), nBits, nTables, seed))

  def rpProject(v: Column, dOut: Int, seed: Long): Column =
    wrap(RpProject(unwrap(v), dOut, seed))

  /** Index of the nearest centroid row, ties to the lower index. */
  def nearestCell(v: Column, centroids: Array[Array[Double]]): Column =
    wrap(NearestCell(unwrap(v), centroids))

  /** Indices of the `nProbe` nearest centroid rows, nearest first. */
  def nearestCells(v: Column, centroids: Array[Array[Double]], nProbe: Int): Column =
    wrap(NearestCells(unwrap(v), centroids, nProbe))

  /** PQ asymmetric distance of `codes` against a flattened m×k table. */
  def adcScore(codes: Column, dtab: Column, k: Int): Column =
    wrap(AdcScore(unwrap(codes), unwrap(dtab), k))

  /** struct<v, corr> of a window against a z-normalized pattern. */
  def motifCorr(window: Column, zPattern: Array[Double]): Column =
    wrap(MotifCorr(unwrap(window), zPattern))

  // ---- int8 quantization ---------------------------------------------
  // Max-abs symmetric quantization: q_i = round(x_i / (||v||_inf / 127)).
  // Every step is a single IEEE-754 op per element and both Spark and
  // DuckDB round doubles half-away-from-zero, so the DuckDB oracle is
  // bit-exact. At 100 TB this is the storage/IO lever for the similarity
  // family: 8x smaller vectors through every shuffle and broadcast.

  /** Per-vector quantization scale: max |x_i| / 127. */
  def int8Scale(v: Column): Column =
    array_max(transform(v, x => abs(x))) / 127.0

  /** Quantize to int8 range (surfaced as int for engine portability);
    * an all-zero vector (scale 0) quantizes to zeros. */
  def quantizeInt8(v: Column, scale: Column): Column =
    transform(v, x =>
      when(scale === 0.0, lit(0.0)).otherwise(round(x / scale)).cast("int"))

  /** Largest elementwise reconstruction error |x_i - q_i*scale| — by
    * construction <= scale/2. */
  def dequantMaxErr(v: Column, q: Column, scale: Column): Column =
    array_max(zip_with(v, q, (x, qi) => abs(x - qi * scale)))

  // ---- 1-bit (sign) binary quantization ------------------------------
  // The most aggressive compression tier below int8: one SIGN BIT per
  // dimension, packed into 32-bit words carried as BIGINTs (32 bits per
  // word keeps every value non-negative, so Spark and DuckDB agree
  // without two's-complement edge cases). 64-d float32 vectors shrink
  // 32x — 256 bytes to 8 — and Hamming distance over the packed words
  // (integer xor + popcount, exact in any engine and any fold order)
  // monotonically tracks angular distance for zero-centered data, which
  // is what makes it the standard first stage of a binary-rerank ANN.

  /** Pack sign bits (x > 0) of a `d`-dim vector into ceil(d/32)
    * BIGINT words; bit j of word w is dimension 32w + j. A pure
    * projection of literal-shift sums (distinct powers of two, so
    * sum == bitwise-or) — whole-stage codegen, no UDF. */
  def signPack(v: Column, d: Int): Column = {
    require(d > 0, "signPack: d must be positive")
    val words = (0 until (d + 31) / 32).map { w =>
      val bits = (w * 32) until math.min(d, w * 32 + 32)
      bits.map { j =>
        when(element_at(v, j + 1) > 0, lit(1L << (j - w * 32))).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    array(words: _*)
  }

  /** Hamming distance between two [[signPack]] codes of the same width:
    * sum of per-word popcount(xor). Explicit per-word terms (not a
    * fold) so the expression stays flat inside codegen. */
  def hammingDist(a: Column, b: Column, d: Int): Column =
    (0 until (d + 31) / 32).map { w =>
      call_function("bit_count",
        element_at(a, w + 1).bitwiseXOR(element_at(b, w + 1))).cast("long")
    }.reduce(_ + _)
}
