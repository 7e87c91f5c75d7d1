package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass shingle hashing for the dedup operators.
  *
  * The declarative form — transform(sequence(...), i ->
  * concat_ws(element_at(split(text), i) ...)) — is quadratic: Catalyst
  * collapses projections and re-inlines split() into every element_at of
  * the lambda, so an m-word document splits m times (O(m²) work), and
  * the whole subtree is further duplicated into filter conditions and
  * both sides of self-joins. This expression does the obvious linear
  * thing once per row: split on spaces, roll an n-word window, xxhash64
  * each shingle (seed 42 — identical to the built-in xxhash64 on the
  * equivalent concat_ws string), and dedupe.
  *
  * Returns array<long> of DISTINCT shingle hashes in first-occurrence
  * order. Row-level interpreted eval (CodegenFallback) — one call per
  * row doing linear work, so codegen doesn't matter here the way it
  * does for per-pair vector math.
  */
case class ShingleHashes(child: Expression, n: Int, seed: Long = 42L)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "shingle_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].split(space, -1)
    val m = words.length
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (m >= n) {
      var i = 0
      while (i <= m - n) {
        val parts = new Array[UTF8String](n)
        System.arraycopy(words, i, parts, 0, n)
        val shingle = UTF8String.concatWs(space, parts: _*)
        out.add(XxHash64Function.hash(shingle, StringType, seed))
        i += 1
      }
    }
    // docs shorter than n words yield NO shingles — matching the SQL
    // oracle's range(1, m-1) (empty for m <= 2), not the declarative
    // shinglesFromWords convenience form, which emits one degenerate
    // all-words shingle for such docs
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-pass n-word shingle strings — the string-valued sibling of
  * [[ShingleHashes]] for operators whose downstream hashing must be
  * engine-portable (md5 of the shingle TEXT, which any SQL engine can
  * recompute, vs xxhash64 of it, which only Spark can). Same linear
  * single-pass rationale; same "docs shorter than n words yield no
  * shingles" contract as the SQL oracle's range(1, m-1).
  *
  * `distinct = true` (the dedup/decontamination contract) keeps the
  * first occurrence of each shingle; `distinct = false` keeps every
  * occurrence in order — the counting form that pair-frequency
  * statistics (BPE merge candidates) need. */
case class ShingleStrings(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "shingle_strings"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].split(space, -1)
    val m = words.length
    // LinkedHashSet preserves first-occurrence order; the non-distinct
    // form just skips the set's dedup by using a list
    val out: java.util.Collection[UTF8String] =
      if (distinct) new java.util.LinkedHashSet[UTF8String]()
      else new java.util.ArrayList[UTF8String](math.max(0, m - n + 1))
    if (m >= n) {
      var i = 0
      while (i <= m - n) {
        val parts = new Array[UTF8String](n)
        System.arraycopy(words, i, parts, 0, n)
        out.add(UTF8String.concatWs(space, parts: _*))
        i += 1
      }
    }
    val arr = new Array[AnyRef](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Positional n-token window digests for exact-substring dedup
  * ([[graft.operators.Dedup.substringSpans]]): element i is the md5 hex
  * of tokens [i, i+n) space-rejoined — bit-identical to
  * `md5(concat_ws(" ", slice(split(text, " "), i+1, n)))` and to any
  * SQL engine's recomputation, so the DuckDB oracle parity holds. NOT
  * distinct (position matters: every occurrence is a separate window)
  * and empty for docs shorter than n tokens.
  *
  * Exists because the declarative transform/sequence form re-inlines
  * split() into every lambda element (the [[ShingleHashes]] quadratic
  * pathology) and is interpreted per element; this splits once and
  * rolls the window — the q100/q101 hot path drops from ~1.7 s to the
  * cost of m md5 calls per pass at sf0.1. */
case class WindowMd5s(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "window_md5s"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  private val space = UTF8String.fromString(" ")
  private val hexDigits = "0123456789abcdef".toCharArray

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].split(space, -1)
    val m = words.length
    if (m < n) return new GenericArrayData(new Array[AnyRef](0))
    val arr = new Array[AnyRef](m - n + 1)
    var i = 0
    while (i <= m - n) {
      val parts = new Array[UTF8String](n)
      System.arraycopy(words, i, parts, 0, n)
      val d = Md5Halves.digest(UTF8String.concatWs(space, parts: _*))
      val hex = new Array[Char](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = hexDigits((d(b) >> 4) & 0xF)
        hex(2 * b + 1) = hexDigits(d(b) & 0xF)
        b += 1
      }
      arr(i) = UTF8String.fromString(new String(hex))
      i += 1
    }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared md5 plumbing for the portable signature expressions: one
  * thread-local MessageDigest (a fresh getInstance per value is the
  * dominant cost at millions of tokens), parsed straight from digest
  * bytes into the integer halves the SQL oracle reads out of the hex
  * string — hex chars 1..8 / 9..16 are digest bytes 0-3 / 4-7
  * big-endian (32-bit halves), hex chars 1..13 / 14..26 are the two
  * 52-bit halves split at byte 6's nibbles. */
private[plans] object Md5Halves {
  private val local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def digest(u: UTF8String): Array[Byte] = local.get().digest(u.getBytes)
  def h32(d: Array[Byte], off: Int): Long =
    ((d(off) & 0xFFL) << 24) | ((d(off + 1) & 0xFFL) << 16) |
      ((d(off + 2) & 0xFFL) << 8) | (d(off + 3) & 0xFFL)
  /** hex chars 1..13: bytes 0-5 + high nibble of byte 6. */
  def h52a(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 6) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    (v << 4) | ((d(6) >> 4) & 0xFL)
  }
  /** hex chars 14..26: low nibble of byte 6 + bytes 7-12. */
  def h52b(d: Array[Byte]): Long = {
    var v = d(6) & 0xFL
    var i = 7
    while (i < 13) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    v
  }
}

/** One-pass count-min counter build: a typed-imperative aggregate
  * whose BUFFER is the sketch — d·w long counters updated in place,
  * one md5 per input value (parsed straight from digest bytes by
  * [[Md5Halves]], no hex-string/conv round-trip), merged by elementwise
  * add. Replaces the declarative build (posexplode of d cells per value
  * → hash aggregate over d·n rows): the d× row expansion disappears
  * and the partial-agg state is exactly the d·w array the sketch is
  * defined as, so the shuffle carries one bounded buffer per partition
  * whatever the input size. Counter updates are integer sums —
  * associative and order-independent — so the result is bit-identical
  * to the declarative build and to the SQL oracle's recomputation:
  * cell (i, (h1 + i·h2) mod w) with h1/h2 the 32-bit md5 halves, the
  * same arithmetic [[graft.operators.Sketches.cmsPositions]] spells in
  * Column form. Output: array<long> of length d·w, row-major. */
case class CmsSketchAgg(child: Expression, w: Int, d: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {
  override def prettyName: String = "cms_sketch"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](d * w)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val dig = Md5Halves.digest(v.asInstanceOf[UTF8String])
      val h1 = Md5Halves.h32(dig, 0)
      val h2 = Md5Halves.h32(dig, 4)
      var i = 0
      while (i < d) {
        buf(i * w + ((h1 + i * h2) % w).toInt) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Whole 64-bit md5-SimHash signature in one pass per document —
  * replaces an explode + 64-conditional-sum aggregate: tokenize on
  * single spaces (empties kept, matching split(text, ' ') and DuckDB
  * string_split), vote ±1 per token per bit (bits 0-31 from md5 hex
  * half 2, 32-63 from half 1), sign the votes. Signatures become a pure
  * projection — no shuffle at all until the band join — and the
  * 64-buffer codegen'd aggregate (whose one-time janino/JIT cost
  * dominated the old shape) disappears. Bit-identical to the SQL
  * oracle's vote recomputation. */
case class SimhashMd5(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "simhash_md5"
  override def dataType: DataType = LongType

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].split(space, -1)
    val votes = new Array[Int](64)
    var w = 0
    while (w < words.length) {
      val d = Md5Halves.digest(words(w))
      val h1 = Md5Halves.h32(d, 0)
      val h2 = Md5Halves.h32(d, 4)
      var i = 0
      while (i < 32) {
        votes(i) += (if (((h2 >> i) & 1L) == 1L) 1 else -1)
        votes(i + 32) += (if (((h1 >> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
      w += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) { if (votes(i) >= 0) sig |= (1L << i); i += 1 }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Whole MinHash signature in one pass per document — distinct n-word
  * shingles ([[ShingleStrings]] semantics), one md5 per shingle split
  * into 52-bit halves (h1, h2), Kirsch–Mitzenmacher permutation p =
  * h1 + p·h2, minimum per permutation. Returns array<long> of length
  * numPerm, or NULL for docs shorter than n words (they have no
  * signature — callers filter, matching the explode form where such
  * docs produce no rows). Signature is a projection; only (doc, band,
  * bucket) rows ever shuffle. */
case class MinhashMd5(child: Expression, n: Int, numPerm: Int)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "minhash_md5"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].split(space, -1)
    val m = words.length
    if (m < n) return null
    val seen = new java.util.HashSet[UTF8String]()
    val mins = Array.fill(numPerm)(Long.MaxValue)
    var i = 0
    while (i <= m - n) {
      val parts = new Array[UTF8String](n)
      System.arraycopy(words, i, parts, 0, n)
      val shingle = UTF8String.concatWs(space, parts: _*)
      if (seen.add(shingle)) {
        val d = Md5Halves.digest(shingle)
        val h1 = Md5Halves.h52a(d)
        val h2 = Md5Halves.h52b(d)
        var p = 0
        while (p < numPerm) {
          val v = h1 + p * h2
          if (v < mins(p)) mins(p) = v
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared distinct-shingle iteration for the Bloom expressions: split on
  * single spaces, roll the n-word window, visit each DISTINCT shingle in
  * first-occurrence order (the [[ShingleStrings]] contract — docs
  * shorter than n words visit nothing). One definition so the
  * shingle-boundary semantics can't diverge between the build and probe
  * halves of the filter. */
private[plans] object ShingleIter {
  private val space = UTF8String.fromString(" ")

  def foreachDistinct(input: UTF8String, n: Int)(f: UTF8String => Unit): Unit = {
    val words = input.split(space, -1)
    val m = words.length
    if (m < n) return
    val seen = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i <= m - n) {
      val parts = new Array[UTF8String](n)
      System.arraycopy(words, i, parts, 0, n)
      val shingle = UTF8String.concatWs(space, parts: _*)
      if (seen.add(shingle)) f(shingle)
      i += 1
    }
  }
}

/** Bloom-filter bit positions of a document's distinct n-word shingles —
  * the BUILD side of the portable Bloom decontaminator
  * ([[graft.operators.Sketches.bloomDecontaminate]]). One md5 per
  * distinct shingle ([[ShingleStrings]] semantics), split into the two
  * 32-bit hex halves (chars 1-8 / 9-16 — the same parse any SQL engine
  * does on the hex string), expanded Kirsch–Mitzenmacher style into
  * `kHashes` positions pos_j = (h1 + j·h2) mod mBits. Returns the
  * DISTINCT positions in first-set order; the benchmark's union of
  * positions IS the filter. */
case class BloomPositions(child: Expression, n: Int, mBits: Int, kHashes: Int)
    extends UnaryExpression with CodegenFallback {
  require(n > 0 && mBits > 0 && kHashes > 0,
    s"$prettyName: n, mBits, kHashes must be positive")
  override def prettyName: String = "bloom_positions"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    ShingleIter.foreachDistinct(input.asInstanceOf[UTF8String], n) { shingle =>
      val d = Md5Halves.digest(shingle)
      val h1 = Md5Halves.h32(d, 0)
      val h2 = Md5Halves.h32(d, 4)
      var j = 0
      while (j < kHashes) { out.add((h1 + j * h2) % mBits); j += 1 }
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bloom-filter membership scan of a document's distinct n-word
  * shingles against a pre-built bit array — the PROBE side of
  * [[graft.operators.Sketches.bloomDecontaminate]]. Same md5-halves
  * position derivation as [[BloomPositions]]; a shingle "hits" iff all
  * `kHashes` of its bits are set. One pass per document, one md5 per
  * distinct shingle, zero shuffle — the whole corpus-side
  * decontamination scan is a projection.
  *
  * The filter rides as a FOLDABLE array<boolean> Literal child (the
  * adc_score/nearest_cell model-shipping pattern), not a constructor
  * array: case-class equality on a raw Array is reference equality,
  * which would stop semantically identical probes from canonicalizing,
  * and the array would Java-serialize into every task's expression
  * tree instead of living in the literal. The child is evaluated once
  * per executor, lazily, and never per row.
  *
  * Returns struct<n_sh:int, n_hits:int> (distinct shingles, Bloom
  * hits). */
case class BloomShingleHits(left: Expression, right: Expression,
    n: Int, kHashes: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  require(n > 0 && kHashes > 0, s"$prettyName: n, kHashes must be positive")
  override def prettyName: String = "bloom_hits"
  override def dataType: DataType = StructType(Seq(
    StructField("n_sh", IntegerType, nullable = false),
    StructField("n_hits", IntegerType, nullable = false)))

  @transient private lazy val bits: Array[Boolean] = {
    require(right.foldable, s"$prettyName: the bit array must be foldable")
    val arr = right.eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toBooleanArray()
    require(arr.nonEmpty, s"$prettyName: bits must be non-empty")
    arr
  }
  @transient private lazy val mBits = bits.length

  override def nullSafeEval(input: Any, bitsValue: Any): Any = {
    var nSh = 0
    var nHits = 0
    ShingleIter.foreachDistinct(input.asInstanceOf[UTF8String], n) { shingle =>
      nSh += 1
      val d = Md5Halves.digest(shingle)
      val h1 = Md5Halves.h32(d, 0)
      val h2 = Md5Halves.h32(d, 4)
      var j = 0
      var all = true
      while (all && j < kHashes) {
        all = bits(((h1 + j * h2) % mBits).toInt)
        j += 1
      }
      if (all) nHits += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nSh, nHits))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fixed-size word-window chunking with stride — the training-data op
  * that turns long documents into model-context-sized training rows.
  * Chunks start every `stride` words and span `size` words; the final
  * chunk may be shorter but every word is covered; docs with <= size
  * words yield exactly one chunk (the whole doc; empty text yields one
  * chunk of the empty token). One pass per row — the declarative
  * transform/slice form re-splits the text per chunk (the CollapseProject
  * trap, see [[ShingleHashes]]), turning an n-word doc into O(n²/stride)
  * work, which a 10k-word document cannot afford. Returns array<string>
  * of chunk texts in order. */
case class ChunkWords(child: Expression, size: Int, stride: Int)
    extends UnaryExpression with CodegenFallback {
  require(size > 0 && stride > 0 && stride <= size,
    s"$prettyName: need 0 < stride <= size")
  override def prettyName: String = "chunk_words"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].split(space, -1)
    val m = words.length
    val nChunks = if (m <= size) 1 else (m - size + stride - 1) / stride + 1
    val out = new Array[AnyRef](nChunks)
    var i = 0
    while (i < nChunks) {
      val start = i * stride
      val len = math.min(size, m - start)
      val parts = new Array[UTF8String](len)
      System.arraycopy(words, start, parts, 0, len)
      out(i) = UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-pass multi-pattern blocklist scan — the Aho–Corasick-shaped
  * trie scan that replaces per-pattern regex alternation for PII/
  * bad-word scrubbing. One walk over the text; at each word boundary
  * the pattern TRIE is probed for the longest boundary-delimited match
  * (leftmost-longest, non-overlapping — RE2 semantics, and what a
  * length-desc-ordered alternation gives a leftmost-first engine); a
  * probe aborts on the first byte with no trie edge, so scan cost is
  * O(text) and INDEPENDENT of the pattern count — a 10× larger
  * blocklist costs the same pass, where the alternation form re-tries
  * every alternative at every position.
  *
  * Boundary semantics are ASCII \b (word char = [0-9A-Za-z_], the
  * Java-regex and RE2 default): a match must have a word/non-word
  * transition on both flanks. Bytes ≥ 0x80 count as non-word — exact
  * regex parity on ASCII text and patterns (the blocklist contract).
  * Multi-word phrase patterns ("credit card") work and outrank their
  * word prefixes by the longest-match rule.
  *
  * Returns struct<n_hits:int, redacted:string> from the same pass —
  * count and scrubbed text without a second scan. */
case class BlocklistScan(child: Expression, patterns: Seq[String],
    repl: String) extends UnaryExpression with CodegenFallback {
  require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
    s"$prettyName: patterns must be non-empty")
  override def prettyName: String = "blocklist_scan"
  override def dataType: DataType = StructType(Seq(
    StructField("n_hits", IntegerType, nullable = false),
    StructField("redacted", StringType, nullable = false)))

  // flat byte trie: children(node)(byte) = next node or -1; terminal
  // marks a complete pattern. Built once per expression instance
  // (driver + one rebuild per executor on deserialize), size = total
  // pattern bytes — never per row.
  @transient private lazy val (trieChildren, trieTerminal) = {
    val ch = scala.collection.mutable.ArrayBuffer(Array.fill(256)(-1))
    val term = scala.collection.mutable.ArrayBuffer(false)
    patterns.foreach { p =>
      var node = 0
      p.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
        val k = b & 0xFF
        if (ch(node)(k) < 0) {
          ch(node)(k) = ch.size
          ch += Array.fill(256)(-1)
          term += false
        }
        node = ch(node)(k)
      }
      term(node) = true
    }
    (ch.toArray, term.toArray)
  }
  @transient private lazy val replBytes =
    repl.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def isWord(b: Byte): Boolean =
    (b >= '0' && b <= '9') || (b >= 'A' && b <= 'Z') ||
      (b >= 'a' && b <= 'z') || b == '_'

  override def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[UTF8String].getBytes
    val n = t.length
    val out = new java.io.ByteArrayOutputStream(n)
    var hits = 0
    var i = 0
    while (i < n) {
      var best = -1
      // \b before the match: word/non-word transition into byte i
      if ((i > 0 && isWord(t(i - 1))) != isWord(t(i))) {
        var node = 0
        var j = i
        while (node >= 0 && j < n) {
          node = trieChildren(node)(t(j) & 0xFF)
          j += 1
          if (node >= 0 && trieTerminal(node) &&
              isWord(t(j - 1)) != (j < n && isWord(t(j)))) best = j
        }
      }
      if (best > i) { hits += 1; out.write(replBytes, 0, replBytes.length); i = best }
      else { out.write(t(i)); i += 1 }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](hits, UTF8String.fromBytes(out.toByteArray)))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-pass FastSS deletion-1 neighborhood with positions — the
  * native form of [[graft.operators.EntityResolution.deletionNeighborhoodPos]]:
  * element 0 is (the string itself, 0); element i (1-based char index)
  * is (the string with character i removed, i). Character semantics
  * match `substr`/`length` (code points), so the output is value-
  * identical to the declarative transform/sequence/substr form
  * (EntityGraphSpec pins it).
  *
  * Exists because the declarative form evaluates an interpreted
  * when/concat/substr expression tree per character per row (the
  * [[ShingleHashes]] pathology — higher-order functions never enter
  * whole-stage codegen); this walks the string once. */
case class DeletionVariants(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "deletion_variants"
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("v", StringType, nullable = true),
      StructField("p", IntegerType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numChars()
    val out = new Array[Any](n + 1)
    out(0) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](s, 0))
    var i = 1
    while (i <= n) {
      // drop char i (1-based): prefix [0, i-1) ++ suffix [i, n)
      val v = UTF8String.concat(s.substring(0, i - 1), s.substring(i, n))
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](v, i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
