package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** The 52-bit md5 uniform as ONE codegen'd expression.
  *
  * Every deterministic urn in the engine (bootstrap re-draws,
  * permutation labels, DOULION coins, sub-block parity) is defined as
  * the first 13 hex digits of md5 parsed base-16 — a value any SQL
  * engine can recompute, which is why the oracles can mirror it. The
  * declarative chain `conv(substring(md5(s), 1, 13), 16, 10)` pays for
  * that portability per row: md5 → 32-char hex UTF8String allocation →
  * substring copy → conv's string parse → string-to-long cast. On a
  * ×reps exploded stream (99 urn draws per input row) that chain is
  * the projection's whole cost.
  *
  * This expression computes the IDENTICAL long straight from the
  * digest bytes: the first 13 hex digits of the md5 hex string are by
  * construction the first 52 bits of the digest, i.e. bytes 0..5 and
  * the high nibble of byte 6. No intermediate strings, stays inside
  * whole-stage codegen. Equality with the declarative chain is pinned
  * property-style in HashExpressionsSpec.
  */
case class Md5U52(child: Expression, hexDigits: Int = 13,
    startDigit: Int = 1) extends UnaryExpression {
  require(hexDigits >= 1 && hexDigits <= 15,
    s"$prettyName: hexDigits in 1..15 (long-exact)")
  require(startDigit >= 1 && startDigit + hexDigits - 1 <= 32,
    s"$prettyName: digit window must lie in the 32 hex digits of md5")
  override def prettyName: String = "md5_u52"
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    Md5U52.hash(input.asInstanceOf[UTF8String], hexDigits, startDigit)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.Md5U52.hash($c, $hexDigits, $startDigit)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bottom-k statistics of the union of two SORTED DISTINCT long
  * arrays — the KMV pair-merge kernel as one linear expression.
  *
  * Equals `(size(mh), element_at(mh, -1))` for
  * `mh = slice(array_sort(array_union(ha, hb)), 1, k)`: n_kept =
  * min(k, |ha ∪ hb|) and hk = the n_kept-th smallest union element.
  * The declarative chain re-sorts every pair's union through the
  * interpreted higher-order array_sort comparator — at 100× the
  * squared source-pair grid made that the whole query (q302 251 s
  * scaled); a two-pointer merge over the pre-sorted sketches is O(k)
  * per pair with no lambda dispatch. Inputs MUST be sorted ascending
  * and internally distinct (the `sort_array(collect_list(h))` over
  * the per-group distinct bottom-k guarantees both).
  *
  * Returns struct<n_kept: int, hk: long>. Row-level interpreted eval
  * (CodegenFallback) — one call per row doing linear work, the
  * ShingleHashes stance. */
case class KmvMergeStats(left: Expression, right: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(k >= 1, s"$prettyName: k >= 1")
  override def prettyName: String = "kmv_merge_stats"
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_kept",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("hk", LongType,
        nullable = false)))

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var kept = 0
    var last = 0L
    while (kept < k && (i < na || j < nb)) {
      val va = if (i < na) a.getLong(i) else Long.MaxValue
      val vb = if (j < nb) b.getLong(j) else Long.MaxValue
      val nxt = if (va < vb) { i += 1; va }
        else if (vb < va) { j += 1; vb }
        else { i += 1; j += 1; va }
      // cheap contract guard: the merge only sees ascending values when
      // both inputs are sorted-distinct; a violation means a caller fed
      // an unsorted/duplicated sketch and the (n_kept, hk) would be
      // silently wrong
      if (kept > 0 && nxt <= last)
        throw new IllegalArgumentException(
          s"$prettyName: inputs must be sorted ascending and distinct")
      last = nxt
      kept += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(kept, last)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Md5U52 {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Hex digits [startDigit, startDigit+hexDigits) of md5(s), 1-based,
    * parsed base-16 — equals `conv(substring(md5(s), startDigit,
    * hexDigits), 16, 10)` cast to long (each hex digit is one digest
    * nibble, most-significant first). */
  def hash(s: UTF8String, hexDigits: Int, startDigit: Int): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = startDigit - 1
    val end = startDigit - 1 + hexDigits
    while (i < end) {
      val b = d(i >> 1) & 0xff
      v = (v << 4) | (if ((i & 1) == 0) b >>> 4 else b & 0xf)
      i += 1
    }
    v
  }
}
