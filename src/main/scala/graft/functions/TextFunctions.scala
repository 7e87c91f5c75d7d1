package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

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
}
