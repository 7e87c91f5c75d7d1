package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column => wrap, expression => unwrap}
import org.apache.spark.sql.functions._

import graft.plans.{BlocklistScan, BloomPositions, BloomShingleHits, ChunkWords,
  CmsSketchAgg, DeletionVariants, JaroWinkler, KmvMergeStats, Md5U52, MinhashMd5,
  NfcNormalize, ShingleHashes, ShingleStrings, SimhashMd5, WindowMd5s}

/** Text primitives for the dedup / quality / language-ID operators, all
  * as codegen'd Catalyst expressions (no UDFs): a 100 TB document sweep
  * is projection-only work and must stay inside whole-stage codegen.
  *
  * Generalizes the reference's frame-dedup sampling (SURVEY.md §2.5 F3,
  * /root/reference/src/frame_producer.py:110-112) from "unique frames"
  * to content-defined text identity.
  */
object TextFunctions {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish regex tokens: lowercase runs, digit runs, or single
    * non-space symbols. */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))

  /** Word n-gram shingles (distinct) from a pre-tokenized words column.
    * IMPORTANT: pass a *materialized* words column (projected in its own
    * step), not `tokens(text)` inline — Catalyst inlines the split into
    * every element_at of the lambda, making shingling O(words²) per doc. */
  def shinglesFromWords(w: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(size(w) - n, lit(0))),
      i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j + 1)): _*)))

  /** Word n-gram shingles (distinct), space-joined. Convenience form;
    * hot paths should project [[tokens]] first and use
    * [[shinglesFromWords]] (see warning there). */
  def shingles(text: Column, n: Int): Column = shinglesFromWords(tokens(text), n)

  /** Polynomial rolling hash of the whole string, mod 1e9+7 — a
    * deterministic document fingerprint computable by any engine
    * (left fold over character codes). */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (h, c) => (h * 31 + c) % 1000000007L)

  /** Label from a filename: text up to the first '.' or '_', title-cased
    * (the reference's query-face naming rule,
    * /root/reference/web/views.py:121-131). */
  def labelFromFilename(filename: Column): Column =
    initcap(regexp_extract(filename, "^([^._]+)", 1))

  /** Count of tokens present in a stopword set. */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(stopwords.map(x => x: Any): _*)))

  // ---- native expressions (graft.plans) -------------------------------
  // Typed builders: each wraps its Catalyst expression as a Column, with
  // the shape parameters as plain values, so a query needs no function
  // registry entry. SQL users reach the same expressions by name through
  // graft.GraftExtensions.

  /** [[Md5U52]]: `digits` hex digits of md5(c) from `start` (1-based),
    * as a long. */
  def md5U52(c: Column, digits: Int = 13, start: Int = 1): Column =
    wrap(Md5U52(unwrap(c), digits, start))

  def shingleHashes(text: Column, n: Int): Column = wrap(ShingleHashes(unwrap(text), n))

  def shingleStrings(text: Column, n: Int, distinct: Boolean = true): Column =
    wrap(ShingleStrings(unwrap(text), n, distinct))

  def windowMd5s(text: Column, n: Int): Column = wrap(WindowMd5s(unwrap(text), n))

  def chunkWords(text: Column, size: Int, stride: Int): Column =
    wrap(ChunkWords(unwrap(text), size, stride))

  def simhashMd5(text: Column): Column = wrap(SimhashMd5(unwrap(text)))

  def minhashMd5(text: Column, n: Int, numPerm: Int): Column =
    wrap(MinhashMd5(unwrap(text), n, numPerm))

  def bloomPositions(text: Column, n: Int, mBits: Int, kHashes: Int): Column =
    wrap(BloomPositions(unwrap(text), n, mBits, kHashes))

  /** [[BloomShingleHits]]; the bit array rides as a literal child (see
    * its scaladoc). */
  def bloomHits(text: Column, n: Int, kHashes: Int, bits: Seq[Boolean]): Column =
    wrap(BloomShingleHits(unwrap(text), unwrap(typedlit(bits)), n, kHashes))

  /** [[CmsSketchAgg]], an aggregate: use inside `agg`. */
  def cmsSketch(value: Column, w: Int, d: Int): Column =
    wrap(CmsSketchAgg(unwrap(value), w, d).toAggregateExpression())

  /** Single-pass multi-pattern blocklist scrub ([[BlocklistScan]]):
    * ONE trie-guided walk of the text yields both the non-overlapping
    * leftmost-longest match count and the redacted text — scan cost
    * independent of the blocklist size, where the
    * [[graft.operators.TextAnalysis.blocklistPattern]] alternation
    * re-tries every pattern at every position (the 100 TB PII-scrub
    * shape is thousands of patterns). Returns
    * struct<n_hits:int, redacted:string>; equals regex `\b(...)\b`
    * with alternatives ordered longest-first. */
  def blocklistScan(text: Column, patterns: Seq[String],
      replacement: String = "[REDACTED]"): Column =
    wrap(BlocklistScan(unwrap(text), patterns, replacement))

  def deletionVariants(s: Column): Column = wrap(DeletionVariants(unwrap(s)))

  def kmvMergeStats(a: Column, b: Column, k: Int): Column =
    wrap(KmvMergeStats(unwrap(a), unwrap(b), k))

  def jaroWinkler(a: Column, b: Column): Column =
    wrap(JaroWinkler(unwrap(a), unwrap(b)))

  def nfcNormalize(s: Column): Column = wrap(NfcNormalize(unwrap(s)))
}
