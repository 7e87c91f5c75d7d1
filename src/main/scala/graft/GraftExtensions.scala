package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType

import graft.plans._

/** Library entry point for SQL users: registers the native expressions
  * so `spark.sql("SELECT vec_dot(a, b) ...")` works in any session
  * created with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`, or in an existing session
  * after [[GraftExtensions.install]].
  *
  * DataFrame code needs none of this: the operators and the camera
  * pipeline build the same expressions as Columns through the typed
  * builders in graft.functions, without the function registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SimplifySqrtThreshold)
    for ((name, usage, build) <- GraftExtensions.functions)
      e.injectFunction((FunctionIdentifier(name), GraftExtensions.info(name, usage), build))
  }
}

object GraftExtensions {

  /** The SQL names of the native expressions: (name, usage, builder).
    * Shape arguments (widths, seeds, matrices, patterns) must be
    * foldable and are evaluated once, when the call is resolved; the
    * Bloom bit array stays an unevaluated literal child (see
    * [[BloomShingleHits]]). */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", "vec_dot(a, b) - dot product of two double arrays",
      e => DotProduct(e(0), e(1))),
    ("vec_sq_l2", "vec_sq_l2(a, b) - squared L2 distance of two double arrays",
      e => SquaredL2(e(0), e(1))),
    ("vec_dot_i8", "vec_dot_i8(a, b) - exact long dot product of two int8-code arrays",
      e => DotProductI8(e(0), e(1))),
    ("lsh_buckets", "lsh_buckets(vec, nBits, nTables, seed) - random-hyperplane LSH bucket key per table",
      e => LshBuckets(e(0), int(e(1)), int(e(2)), long(e(3)))),
    ("rp_project", "rp_project(vec, dOut, seed) - Johnson-Lindenstrauss md5-sign projection",
      e => RpProject(e(0), int(e(1)), long(e(2)))),
    ("nearest_cell", "nearest_cell(vec, centroids) - argmin centroid index, ties to the lower cell",
      e => NearestCell(e(0), matrix(e(1)))),
    ("nearest_cells", "nearest_cells(vec, centroids, nProbe) - the nProbe nearest centroid indices, nearest first",
      e => NearestCells(e(0), matrix(e(1)), int(e(2)))),
    ("adc_score", "adc_score(codes, dtab, k) - PQ asymmetric distance vs a flattened m*k table",
      e => AdcScore(e(0), e(1), int(e(2)))),
    ("motif_corr", "motif_corr(window, pattern) - struct(v, corr) of a window vs a z-normalized pattern",
      e => MotifCorr(e(0), e(1).eval().asInstanceOf[ArrayData].toDoubleArray)),
    ("md5_u52", "md5_u52(s[, digits[, start]]) - `digits` (13) hex digits of md5(s) from `start` (1) as a long",
      e => Md5U52(e(0), if (e.length > 1) int(e(1)) else 13, if (e.length > 2) int(e(2)) else 1)),
    ("shingle_hashes", "shingle_hashes(text, n) - distinct xxhash64 hashes of word n-gram shingles",
      e => ShingleHashes(e(0), int(e(1)))),
    ("shingle_strings", "shingle_strings(text, n[, distinct]) - word n-gram shingle strings",
      e => ShingleStrings(e(0), int(e(1)),
        if (e.length > 2) e(2).eval().asInstanceOf[Boolean] else true)),
    ("window_md5s", "window_md5s(text, n) - positional md5 hex of each n-token window",
      e => WindowMd5s(e(0), int(e(1)))),
    ("chunk_words", "chunk_words(text, size, stride) - fixed word-window chunks with stride",
      e => ChunkWords(e(0), int(e(1)), int(e(2)))),
    ("simhash_md5", "simhash_md5(text) - 64-bit md5-vote SimHash signature",
      e => SimhashMd5(e(0))),
    ("minhash_md5", "minhash_md5(text, n, numPerm) - MinHash signature over md5-half permutations",
      e => MinhashMd5(e(0), int(e(1)), int(e(2)))),
    ("bloom_positions", "bloom_positions(text, n, mBits, kHashes) - Bloom bit positions of a doc's shingles",
      e => BloomPositions(e(0), int(e(1)), int(e(2)), int(e(3)))),
    ("bloom_hits", "bloom_hits(text, n, kHashes, bits) - shingle count + Bloom-hit count vs a bit array",
      e => BloomShingleHits(e(0), e(3), int(e(1)), int(e(2)))),
    ("cms_sketch", "cms_sketch(value, w, d) - count-min sketch aggregate as a d*w long array",
      e => CmsSketchAgg(e(0), int(e(1)), int(e(2)))),
    ("blocklist_scan", "blocklist_scan(text, patterns, repl) - struct(n_hits, redacted) of a trie blocklist scan",
      e => BlocklistScan(e(0),
        e(1).eval().asInstanceOf[ArrayData].toObjectArray(StringType).map(_.toString).toSeq,
        e(2).eval().toString)),
    ("deletion_variants", "deletion_variants(s) - the string and each one-character deletion, with its position",
      e => DeletionVariants(e(0))),
    ("kmv_merge_stats", "kmv_merge_stats(a, b, k) - struct(n_kept, hk) of the bottom-k union of two sorted arrays",
      e => KmvMergeStats(e(0), e(1), int(e(2)))),
    ("jaro_winkler", "jaro_winkler(a, b) - byte-level Jaro-Winkler similarity (DuckDB-parity semantics)",
      e => JaroWinkler(e(0), e(1), winkler = true)),
    ("jaro_sim", "jaro_sim(a, b) - byte-level Jaro similarity without the Winkler prefix boost",
      e => JaroWinkler(e(0), e(1), winkler = false)),
    ("nfc_normalize", "nfc_normalize(s) - Unicode NFC canonical composition (JDK Normalizer)",
      e => NfcNormalize(e(0))),
    ("stub_faces_md5", "stub_faces_md5(frame, dim) - md5-derived stub face detections",
      e => StubFacesMd5(e(0), int(e(1)))),
    ("stub_faces_xx", "stub_faces_xx(frame, dim) - xxhash64-derived stub face detections (the default model)",
      e => StubFacesXx(e(0), int(e(1)))))

  /** Registers each name of [[functions]] that `spark` does not already
    * resolve, so SQL text in that session can call them. Replaces
    * nothing: a second call, or a session built with the extension,
    * leaves the registry as it is. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((name, usage, build) <- functions if !registry.functionExists(FunctionIdentifier(name)))
      registry.registerFunction(FunctionIdentifier(name), info(name, usage), build)
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
  private def long(e: Expression): Long = e.eval().asInstanceOf[Number].longValue()

  private def matrix(e: Expression): Array[Array[Double]] = {
    val rows = e.eval().asInstanceOf[ArrayData]
    Array.tabulate(rows.numElements())(i => rows.getArray(i).toDoubleArray)
  }
}
