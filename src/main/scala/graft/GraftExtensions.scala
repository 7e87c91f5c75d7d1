package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.{AdcScore, BloomPositions, BloomShingleHits, ChunkWords,
  DotProduct, JaroWinkler, LshBuckets, MinhashMd5, NearestCell, NfcNormalize,
  RpProject, ShingleHashes, ShingleStrings, SimhashMd5, SimplifySqrtThreshold,
  SquaredL2, StubFacesMd5, StubFacesXx, WindowMd5s}

/** Library entry point for SQL users: registers the native expressions
  * so `spark.sql("SELECT vec_dot(a, b) ...")` works in any session
  * created with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`.
  *
  * (DataFrame callers don't need this — the operators in
  * graft.operators register the functions on first use, and the camera
  * pipeline builds its expressions as Columns without the registry.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SimplifySqrtThreshold)
    e.injectFunction((
      FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two double arrays"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("vec_sq_l2"),
      info("vec_sq_l2", "vec_sq_l2(a, b) - squared L2 distance of two double arrays"),
      (exprs: Seq[Expression]) => SquaredL2(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes", "shingle_hashes(text, n) - distinct xxhash64 hashes of word n-gram shingles"),
      (exprs: Seq[Expression]) => ShingleHashes(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue())))
    e.injectFunction((
      FunctionIdentifier("lsh_buckets"),
      info("lsh_buckets", "lsh_buckets(vec, nBits, nTables, seed) - random-hyperplane LSH bucket key per table"),
      (exprs: Seq[Expression]) => LshBuckets(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue(),
        exprs(3).eval().asInstanceOf[Number].longValue())))
    e.injectFunction((
      FunctionIdentifier("shingle_strings"),
      info("shingle_strings", "shingle_strings(text, n[, distinct]) - word n-gram shingle strings"),
      (exprs: Seq[Expression]) => ShingleStrings(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue(),
        if (exprs.length > 2) exprs(2).eval().asInstanceOf[Boolean] else true)))
    e.injectFunction((
      FunctionIdentifier("chunk_words"),
      info("chunk_words", "chunk_words(text, size, stride) - fixed word-window chunks with stride"),
      (exprs: Seq[Expression]) => ChunkWords(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue())))
    e.injectFunction((
      FunctionIdentifier("bloom_positions"),
      info("bloom_positions", "bloom_positions(text, n, mBits, kHashes) - Bloom bit positions of a doc's shingles"),
      (exprs: Seq[Expression]) => BloomPositions(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue(),
        exprs(3).eval().asInstanceOf[Number].intValue())))
    e.injectFunction((
      FunctionIdentifier("bloom_hits"),
      info("bloom_hits", "bloom_hits(text, n, kHashes, bits) - shingle count + Bloom-hit count vs a bit array"),
      (exprs: Seq[Expression]) => BloomShingleHits(exprs(0), exprs(3),
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue())))
    e.injectFunction((
      FunctionIdentifier("rp_project"),
      info("rp_project", "rp_project(vec, dOut, seed) - Johnson-Lindenstrauss md5-sign projection"),
      (exprs: Seq[Expression]) => RpProject(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].longValue())))
    e.injectFunction((
      FunctionIdentifier("simhash_md5"),
      info("simhash_md5", "simhash_md5(text) - 64-bit md5-vote SimHash signature"),
      (exprs: Seq[Expression]) => SimhashMd5(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("minhash_md5"),
      info("minhash_md5", "minhash_md5(text, n, numPerm) - MinHash signature over md5-half permutations"),
      (exprs: Seq[Expression]) => MinhashMd5(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue())))
    e.injectFunction((
      FunctionIdentifier("window_md5s"),
      info("window_md5s", "window_md5s(text, n) - positional md5 hex of each n-token window"),
      (exprs: Seq[Expression]) => WindowMd5s(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue())))
    e.injectFunction((
      FunctionIdentifier("nearest_cell"),
      info("nearest_cell", "nearest_cell(vec, centroids) - argmin centroid index, ties to the lower cell"),
      (exprs: Seq[Expression]) => {
        val arr = exprs(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        NearestCell(exprs(0),
          Array.tabulate(arr.numElements())(i => arr.getArray(i).toDoubleArray))
      }))
    e.injectFunction((
      FunctionIdentifier("adc_score"),
      info("adc_score", "adc_score(codes, dtab, k) - PQ asymmetric distance vs a flattened m*k table"),
      (exprs: Seq[Expression]) => AdcScore(exprs(0), exprs(1),
        exprs(2).eval().asInstanceOf[Number].intValue())))
    e.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler", "jaro_winkler(a, b) - byte-level Jaro-Winkler similarity (DuckDB-parity semantics)"),
      (exprs: Seq[Expression]) => JaroWinkler(exprs(0), exprs(1), winkler = true)))
    e.injectFunction((
      FunctionIdentifier("jaro_sim"),
      info("jaro_sim", "jaro_sim(a, b) - byte-level Jaro similarity without the Winkler prefix boost"),
      (exprs: Seq[Expression]) => JaroWinkler(exprs(0), exprs(1), winkler = false)))
    e.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "nfc_normalize(s) - Unicode NFC canonical composition (JDK Normalizer)"),
      (exprs: Seq[Expression]) => NfcNormalize(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("stub_faces_md5"),
      info("stub_faces_md5", "stub_faces_md5(frame, dim) - md5-derived stub face detections"),
      (exprs: Seq[Expression]) => StubFacesMd5(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue())))
    e.injectFunction((
      FunctionIdentifier("stub_faces_xx"),
      info("stub_faces_xx", "stub_faces_xx(frame, dim) - xxhash64-derived stub face detections (the default model)"),
      (exprs: Seq[Expression]) => StubFacesXx(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue())))
  }
}
