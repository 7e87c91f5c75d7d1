package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{chunkWords, md5U52, shingleHashes, shingleStrings, tokens}

/** Corpus-level text-analysis operators for a training-data pipeline,
  * complementing the per-document projections in
  * [[graft.functions.TextFunctions]]: TF-IDF term ranking (corpus
  * statistics joined back per document), deterministic content-hash
  * dataset splitting, and pattern scan/redaction (PII and blocklist
  * filtering). The reference has no text analytics; these generalize
  * its content-keyed processing (SURVEY.md §2.5 F3) the way the BASELINE
  * north star requires.
  */
object TextAnalysis {

  /** Top-k terms per document by TF-IDF — the inverted-index shape:
    * one shuffle builds per-(doc, term) counts with map-side combine,
    * a second (tiny, term-keyed) aggregation derives document
    * frequency, and the equi-join back on `term` lets AQE broadcast
    * the DF side when the vocabulary is small. The score is the
    * log-free rational `cnt * N / df`: two IEEE-754 ops on exactly-
    * representable integers, so it is bit-identical across engines
    * (ln()-based IDF can differ in the last ulp between libm
    * implementations and break hash parity).
    *
    * Output: (id, rank, term, cnt, df, score), rank 1..k per doc,
    * ties broken by term. */
  def tfIdfTopTerms(docs: DataFrame, id: String, text: String, k: Int): DataFrame = {
    val tf = docs
      .select(col(id).as("doc"), explode(tokens(col(text))).as("term"))
      .groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("score").desc, col("term"))
    tf.join(df, "term").crossJoin(n)
      .withColumn("score", col("cnt").cast("double") * col("n") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc").as(id), col("rank"), col("term"), col("cnt"),
        col("df"), col("score"))
  }

  /** Deterministic content-hash train/val/test split — the standard
    * leak-proof way to partition a training corpus: the split follows
    * the CONTENT (md5 bucket 0..99), so duplicate documents land in the
    * same split on any cluster, any partitioning, any run, and adding
    * data never reshuffles existing assignments (a rand()-based split
    * guarantees none of these). Pure projection, no shuffle.
    *
    * @param trainPct bucket < trainPct           → "train"
    * @param valPct   bucket < trainPct + valPct  → "val", rest "test" */
  def hashSplit(text: Column,
      trainPct: Int = 80, valPct: Int = 10): Column = {
    require(trainPct + valPct <= 100, "train+val must leave room for test")
    val bucket = conv(substring(md5(text), 1, 4), 16, 10).cast("int") % 100
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** The md5 bucket behind [[hashSplit]], exposed for tests/oracles. */
  def hashBucket(text: Column): Column =
    conv(substring(md5(text), 1, 4), 16, 10).cast("int") % 100

  /** Conservative PII patterns (kept RE2-and-Java-compatible so the
    * same strings drive Spark, a DuckDB oracle, or a downstream Go/Rust
    * scrubber): email, North-American phone, US SSN. */
  val piiPatterns: Map[String, String] = Map(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "ssn"   -> "[0-9]{3}-[0-9]{2}-[0-9]{4}")

  /** Count non-overlapping matches of `pattern` (whole-match, group 0). */
  def patternCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Replace every match of `pattern` with `replacement` — the redaction
    * half of PII/blocklist filtering. Projection-only. */
  def redact(text: Column, pattern: String, replacement: String = "[REDACTED]"): Column =
    regexp_replace(text, pattern, replacement)

  /** Total PII hits per document across [[piiPatterns]]. */
  def piiHits(text: Column): Column =
    piiPatterns.values.map(patternCount(text, _)).reduce(_ + _)

  /** Redact every [[piiPatterns]] match. */
  def piiRedact(text: Column): Column =
    piiPatterns.values.foldLeft(text)((c, p) => redact(c, p))

  /** Word-boundary blocklist pattern for [[patternCount]]/[[redact]] —
    * bad-word filtering, the other standard scrub in LLM data work. */
  def blocklistPattern(words: Seq[String]): String =
    words.map(java.util.regex.Pattern.quote).mkString("\\b(", "|", ")\\b")

  /** Benchmark decontamination: per corpus document, how many of its
    * distinct n-gram shingles appear anywhere in the benchmark set.
    * Output: (id, n_sh, n_hits, overlap_frac) for EVERY corpus doc
    * (0-hit docs included), so the caller chooses the eviction
    * threshold.
    *
    * Scale design: both sides hash shingles to 64-bit via the native
    * single-pass [[graft.plans.ShingleHashes]] expression, so the
    * equi-join shuffles 8-byte keys, never n-gram strings; the
    * benchmark side collapses to its distinct shingle set first
    * (typically thousands of eval docs vs billions of corpus docs) and
    * is left for AQE to broadcast by size stats — no forced broadcast. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      id: String, text: String, n: Int): DataFrame = {
    require(n > 0, "shingle width n must be positive")
    val hashed = corpus.select(col(id).as("doc"),
      shingleHashes(col(text), n).as("shs"))
    val sizes = hashed.select(col("doc"), size(col("shs")).as("n_sh"))
    val cs = hashed.select(col("doc"), explode(col("shs")).as("sh"))
    val bs = benchmark
      .select(explode(shingleHashes(col(text), n)).as("sh"))
      .distinct()
    val hits = cs.join(bs, "sh").groupBy(col("doc"))
      .agg(count(lit(1)).as("n_hits"))
    sizes.join(hits, Seq("doc"), "left")
      .select(col("doc").as(id), col("n_sh"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(col("n_sh") > 0,
          coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_sh"))
          .otherwise(lit(0.0)).as("overlap_frac"))
  }

  /** Deterministic corpus mixing with fractional epochs: each document
    * is materialized `floor(rate)` times plus one more iff its content
    * hash bucket falls below the fractional remainder — so a 2.5-epoch
    * source repeats every doc twice and half of them (chosen by
    * content, not rand()) a third time. Rates are percent ints
    * (250 = 2.5 epochs, 20 = keep 20%). Reproducible on any cluster /
    * partitioning; adding data never resamples existing docs.
    *
    * Output: one row per materialized copy, (input columns…, bucket,
    * n_copies, copy). Projection + explode only — no shuffle. */
  def mixEpochs(docs: DataFrame, text: String,
      ratesPct: Map[String, Int], defaultPct: Int, source: String = "source"): DataFrame = {
    require(defaultPct >= 0 && ratesPct.values.forall(_ >= 0), "rates must be non-negative")
    val rate = ratesPct.foldLeft(lit(defaultPct)) { case (acc, (src, r)) =>
      when(col(source) === src, lit(r)).otherwise(acc)
    }
    docs
      .withColumn("bucket", hashBucket(col(text)))
      .withColumn("n_copies",
        (rate / 100).cast("int") + when(col("bucket") < rate % 100, 1).otherwise(0))
      .filter(col("n_copies") >= 1) // sequence(1, 0) would generate a DESCENDING ramp
      .withColumn("copy", explode(sequence(lit(1), col("n_copies"))))
  }

  /** Gopher-style repetition signals per document: duplicate-token
    * fraction and the fraction of tokens covered by the single most
    * frequent bigram. High values flag boilerplate / degenerate text.
    *
    * Bigrams are built by posexplode + lead() over (doc, pos) rather
    * than an element_at lambda over the token array: CollapseProject
    * re-inlines the split() into every lambda element_at, turning the
    * array form O(words²) per doc. The window shuffle partitions by
    * doc id — embarrassingly parallel across documents.
    *
    * Output: (id, n_tokens, n_uniq, dup_token_frac, top_bigram,
    * top_bigram_cnt, top_bigram_frac); top-bigram ties break to the
    * lexicographically smallest bigram. */
  def repetitionStats(docs: DataFrame, id: String, text: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = tokens(col(text))
    val stats = docs.select(col(id).as("doc"), size(w).as("n_tokens"),
      size(array_distinct(w)).as("n_uniq"))
    val toks = docs.select(col(id).as("doc"), posexplode(w).as(Seq("pos", "word")))
    val bg = toks
      .withColumn("nxt", lead(col("word"), 1)
        .over(Window.partitionBy(col("doc")).orderBy(col("pos"))))
      .where(col("nxt").isNotNull)
      .select(col("doc"), concat_ws(" ", col("word"), col("nxt")).as("bigram"))
    // top-1 per doc as a hash agg, not a row_number window: min_by over
    // (-cnt, bigram) partial-aggregates map-side and skips a sort
    // shuffle; -cnt major = highest count, bigram minor = lexicographic
    // tie-break (same ordering the window form would use).
    val top = bg.groupBy(col("doc"), col("bigram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc"))
      .agg(min_by(struct(col("bigram"), col("cnt")), struct(-col("cnt"), col("bigram"))).as("t"))
      .select(col("doc"), col("t.bigram").as("top_bigram"), col("t.cnt").as("top_bigram_cnt"))
    stats.join(top, Seq("doc"), "left")
      .select(col("doc").as(id), col("n_tokens"), col("n_uniq"),
        (lit(1.0) - col("n_uniq").cast("double") / col("n_tokens")).as("dup_token_frac"),
        col("top_bigram"), col("top_bigram_cnt"),
        (col("top_bigram_cnt") * 2.0 / col("n_tokens")).as("top_bigram_frac"))
  }

  /** Unigram language-model quality score: per document, the average
    * negative log-probability of its tokens under the corpus unigram
    * distribution — the classic lightweight perplexity proxy used to
    * filter incoherent/rare-token text before training (high score =
    * surprising under the corpus LM).
    *
    * Scale shape is the inverted index (same as [[tfIdfTopTerms]]): one
    * shuffle builds the term-frequency table with map-side combine; the
    * rejoin on `term` lets AQE broadcast the vocabulary when it fits.
    * The corpus is tokenized twice (tf build + rejoin) by design:
    * materializing the exploded token relation would write MORE bytes
    * than the input text, so recompute wins; the vocabulary-sized tf
    * table IS checkpointed, so the grand-total arm doesn't trigger a
    * third pass.
    * The per-doc mean accumulates DECIMAL(38,18) casts of each -ln(p) —
    * order-independent, so partial aggregation splits can't change the
    * result. The mean is rounded to 6 decimals: JVM Math.log and libm
    * ln() disagree by up to 1 ulp (~1e-15 here), so the raw double is
    * not engine-portable, while the 1e-6 grid puts the residual ~1e-15
    * noise astronomically far from any rounding boundary.
    *
    * Output: (id, n_tokens, avg_neg_logp). */
  def unigramLmScore(docs: DataFrame, id: String, text: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tok = docs.select(col(id).as("doc"), explode(tokens(col(text))).as("term"))
    val tf = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt")).localCheckpoint()
    val total = tf.agg(sum(col("cnt")).as("total"))
    val negLogP = -log(col("cnt").cast("double") / col("total").cast("double"))
    tok.join(tf, "term").crossJoin(broadcast(total))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(negLogP.cast(DecimalType(38, 18))).cast("double") / count(lit(1)), 6)
          .as("avg_neg_logp"))
      .select(col("doc").as(id), col("n_tokens"), col("avg_neg_logp"))
  }

  /** Conditional bigram-LM quality score (the KenLM-shaped upgrade of
    * [[unigramLmScore]]): avg −ln p(wᵢ | wᵢ₋₁) per document under the
    * corpus's own add-one-smoothed bigram model, p(b|a) =
    * (c₂(ab)+1)/(c₁(a)+V). Context counts c₁ are over bigram FIRST
    * positions (so numerator and denominator come from the same pair
    * relation) and V is the corpus distinct-token count. Fluency
    * signal: word-salad/boilerplate scores high even when its unigram
    * distribution looks natural.
    *
    * Scale design: pair generation is a PROJECTION (lockstep zip of the
    * token array against its own shift — no self-join, no window);
    * c₂/c₁ are map-side-combined hash aggregations on 2-word/1-word
    * keys; V is one scalar broadcast. The per-doc sum accumulates
    * DECIMAL(38,18) so reaggregation order can't move the hash (the
    * [[unigramLmScore]] precedent).
    *
    * Docs with fewer than 2 tokens have no bigrams and drop out —
    * callers gate those separately (they're a length-filter concern).
    *
    * Output: (id, n_bigrams, avg_neg_logp rounded 1e-6). */
  def bigramLmScore(docs: DataFrame, id: String, text: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = docs.select(col(id).as("doc"), tokens(col(text)).as("ts"))
    val pairs = toks.select(col("doc"),
        explode(zip_with(
          slice(col("ts"), lit(1), size(col("ts")) - 1),
          slice(col("ts"), lit(2), size(col("ts")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .localCheckpoint()
    val c2 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt2"))
    val c1 = pairs.groupBy(col("w1")).agg(count(lit(1)).as("cnt1"))
    val v = toks.select(explode(col("ts")).as("term"))
      .agg(countDistinct(col("term")).as("v"))
    val negLogP = -log((col("cnt2").cast("double") + lit(1.0)) /
      (col("cnt1") + col("v")).cast("double"))
    pairs.join(c2, Seq("w1", "w2")).join(c1, Seq("w1")).crossJoin(broadcast(v))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(negLogP.cast(DecimalType(38, 18))).cast("double") / count(lit(1)), 6)
          .as("avg_neg_logp"))
      .select(col("doc").as(id), col("n_bigrams"), col("avg_neg_logp"))
  }

  /** Interpolated Kneser–Ney bigram score (Kneser & Ney 1995; the
    * standard smoothing the add-one [[bigramLmScore]] approximates):
    * p(w|v) = (max(c(vw)−D, 0) + D·N₁₊(v·)·p_cont(w)) / c(v·) with
    * p_cont(w) = N₁₊(·w)/N₁₊(··) and fixed discount D. Continuation
    * probability is what separates "frequent only inside one collocation"
    * from genuinely productive tokens — the fluency scorer's classic
    * fix for boilerplate.
    *
    * Scale shape: four inverted-index aggregates over the pair relation
    * (pair counts, context totals, forward/backward continuation
    * fan-outs — all map-side combined, keyed by 1–2 tokens), rejoined
    * by equi-join; the N₁₊(··) scalar broadcasts. Scoring the corpus
    * against its own LM means every pair has c(v·) > 0 — no unseen-
    * context branch. Exactness: every probability is a fixed arithmetic
    * chain over integer counts (identical doubles on any engine),
    * per-doc sums accumulate as DECIMAL(38,18).
    *
    * Output: (id, n_bigrams, avg_neg_logp_kn). */
  def knBigramScore(docs: DataFrame, id: String, text: String,
      discount: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(discount > 0 && discount < 1, "knBigramScore: discount in (0,1)")
    val toks = docs.select(col(id).as("doc"), tokens(col(text)).as("ts"))
    val pairs = toks.select(col("doc"),
        explode(zip_with(
          slice(col("ts"), lit(1), size(col("ts")) - 1),
          slice(col("ts"), lit(2), size(col("ts")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .localCheckpoint()
    val c2 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt2"))
      .localCheckpoint() // feeds c1/n1f/n1b/tot AND the scoring join
    val c1 = c2.groupBy(col("w1")).agg(sum(col("cnt2")).as("cnt1"),
      count(lit(1)).as("n1f")) // contexts: total mass + distinct followers
    val n1b = c2.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val tot = c2.agg(count(lit(1)).as("n1all"))
    val d = lit(discount)
    val pkn = (greatest(col("cnt2").cast("double") - d, lit(0.0)) +
      d * col("n1f").cast("double") *
        (col("n1b").cast("double") / col("n1all").cast("double"))) /
      col("cnt1").cast("double")
    pairs.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .join(n1b, Seq("w2")).crossJoin(broadcast(tot))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum((-log(pkn)).cast(DecimalType(38, 18))).cast("double") /
          count(lit(1)), 6).as("avg_neg_logp_kn"))
      .select(col("doc").as(id), col("n_bigrams"), col("avg_neg_logp_kn"))
  }

  /** Duplicated n-gram coverage per document: what fraction of a doc's
    * distinct n-gram shingles occur in at least one OTHER document —
    * the corpus-level "how much of this text is boilerplate/copied"
    * signal (the span-granular generalization of pairwise dedup: no
    * pair enumeration, so it scales past the point where even LSH pair
    * generation is too big).
    *
    * Scale design: shingles are 64-bit hashes ([[graft.plans.ShingleHashes]],
    * distinct within a doc), so the duplicated-shingle set comes from a
    * count >= 2 hash aggregation over 8-byte keys (map-side partials)
    * and rejoins by equi-join — never a doc×doc join. The hashed
    * relation feeds three arms (sizes, the groupBy, the rejoin), so it
    * is localCheckpoint'd once, same lifecycle as
    * [[graft.operators.Dedup.jaccardPairs]].
    *
    * Output: (id, n_sh, n_dup, dup_frac) for EVERY doc. */
  def dupShingleCoverage(docs: DataFrame, id: String, text: String, n: Int): DataFrame = {
    require(n > 0, "shingle width n must be positive")
    val hashed = docs.select(col(id).as("doc"),
      shingleHashes(col(text), n).as("shs"))
      .localCheckpoint()
    val sh = hashed.select(col("doc"), explode(col("shs")).as("sh"))
    // per-doc-distinct shingles => count(*) counts distinct docs
    val dup = sh.groupBy(col("sh")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2).select(col("sh"))
    val sizes = hashed.select(col("doc"), size(col("shs")).as("n_sh"))
    val hits = sh.join(dup, "sh").groupBy(col("doc")).agg(count(lit(1)).as("n_dup"))
    sizes.join(hits, Seq("doc"), "left")
      .select(col("doc").as(id), col("n_sh"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(col("n_sh") > 0,
          coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_sh"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Global token-budget shard packing — [[packShards]] without the
    * per-stratum shard spaces: one continuous global token offset, but
    * still NO global sort. This is a two-level distributed prefix sum:
    * within-stratum running sums come from per-stratum windows
    * (parallel across strata), and each stratum's base offset comes
    * from a strata-count-sized aggregate windowed on the driver-scale
    * relation and broadcast back. global_offset = base(stratum) +
    * local_offset is exactly what a single ORDER BY (stratum, id)
    * window would produce — without serializing the corpus through one
    * task.
    *
    * Output: (id, by, n_tokens, start_offset, shard). */
  def packShardsGlobal(docs: DataFrame, id: String, text: String,
      by: String, budgetTokens: Long): DataFrame = {
    // localCheckpoint: (id, by, n_tokens) feeds both the window arm and
    // the base-offset aggregate — materializing ~24 bytes/doc beats
    // tokenizing the corpus twice (same pattern as dupShingleCoverage)
    val t = docs.select(col(id), col(by), size(tokens(col(text))).cast("long").as("n_tokens"))
      .localCheckpoint()
    packOffsetsFromCounts(t, id, by, budgetTokens)
  }

  /** The packing half of [[packShardsGlobal]] over a PRECOMPUTED
    * (id, by, n_tokens) relation — exposed so callers that already
    * tokenized (e.g. [[packTrainingRows]], whose id encoding knows every
    * document's token count) don't split the corpus a second time. The
    * input should be materialized when it feeds other arms too (both
    * window arms here re-scan it). Same two-level distributed prefix
    * sum, same output contract as [[packShardsGlobal]]. */
  def packOffsetsFromCounts(t: DataFrame, id: String,
      by: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col(by)).orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = t.withColumn("local_offset", coalesce(sum(col("n_tokens")).over(win), lit(0L)))
    // one row per stratum: a single-partition window over it is fine
    val wBase = Window.orderBy(col(by)).rowsBetween(Window.unboundedPreceding, -1)
    val bases = t.groupBy(col(by)).agg(sum(col("n_tokens")).as("tot"))
      .withColumn("base", coalesce(sum(col("tot")).over(wBase), lit(0L)))
      .select(col(by), col("base"))
    local.join(broadcast(bases), Seq(by))
      .withColumn("start_offset", col("base") + col("local_offset"))
      .withColumn("shard", floor(col("start_offset") / budgetTokens))
      .select(col(id), col(by), col("n_tokens"), col("start_offset"), col("shard"))
  }

  /** Materialize packed shards: the step after [[packShards]] /
    * [[packShardsGlobal]] assign offsets — concatenate each shard's
    * documents in offset order into one training sequence. One hash
    * shuffle on the shard key; the in-shard ordering is an array_sort of
    * the collected (offset, text) structs, so no extra sort exchange
    * and no assumption about arrival order. Shard sizes are bounded by
    * the packer's token budget (budget + one document), so a single
    * shard always fits an executor.
    *
    * `keyCols` must be the packer's shard identity: (by, "shard") for
    * [[packShards]] (per-stratum shard spaces reuse shard numbers), just
    * ("shard") for [[packShardsGlobal]] (global offsets — a shard at a
    * stratum boundary legitimately spans two strata, and grouping it by
    * stratum too would split it into fragments with duplicate ids).
    *
    * Output: (keyCols…, n_docs, n_tokens, shard_text) — one row per shard. */
  def buildShards(packed: DataFrame, docs: DataFrame, id: String, text: String,
      keyCols: Seq[String], sep: String = " "): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must name the packer's shard identity")
    val joined = packed.join(docs.select(col(id), col(text)), Seq(id))
    joined.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("start_offset"), col(text)))),
            x => x.getField(text)),
          sep).as("shard_text"))
  }

  /** Stratified per-source cap: keep at most `cap` documents per stratum
    * (e.g. source), chosen deterministically by content-hash order — the
    * "no single web dump dominates the mix" curation step.
    *
    * Scale design: a naive ROW_NUMBER per stratum sorts each stratum
    * through ONE task — with a handful of sources at 100 TB that is a
    * single-machine sort. Instead this is a two-level distributed rank:
    * rank within (stratum, content-bucket) — 100x finer partitions, no
    * skew — plus a broadcast cumulative-count offset per bucket (the
    * histogram is strata×100 rows). global_rank = offset + rank_in_bucket
    * is exactly the rank the naive window would produce for the
    * (bucket, id) ordering.
    *
    * Output: (id, by, bucket, rnk) for the kept rows, rnk 1..cap. */
  def stratifiedCap(docs: DataFrame, id: String, text: String,
      by: String, cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    import org.apache.spark.sql.expressions.Window
    // localCheckpoint: (id, by, bucket) feeds both the rank arm and the
    // histogram arm — 20 bytes/doc materialized vs md5-hashing the
    // corpus twice
    val d = docs.select(col(id), col(by), hashBucket(col(text)).as("bucket"))
      .localCheckpoint()
    val wInner = Window.partitionBy(col(by), col("bucket")).orderBy(col(id))
    val ranked = d.withColumn("rnb", row_number().over(wInner))
    val wOff = Window.partitionBy(col(by)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy(col(by), col("bucket")).agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .select(col(by), col("bucket"), col("off"))
    ranked.join(broadcast(offsets), Seq(by, "bucket"))
      .withColumn("rnk", col("off") + col("rnb"))
      .filter(col("rnk") <= cap)
      .select(col(id), col(by), col("bucket"), col("rnk"))
  }

  /** Token-aware shard packing: assign documents to fixed-token-budget
    * shards by the running token count, greedy in (partition, id)
    * order. A document belongs to the shard its first token lands in
    * (offset packing), so shard sizes are budget ± one document.
    *
    * The running sum is windowed per `by` partition (e.g. source), not
    * globally — a global ORDER BY would serialize the whole corpus
    * through one task; per-partition packing parallelizes across
    * sources and keeps shard assignment deterministic.
    *
    * Output: (id, by, n_tokens, start_offset, shard). */
  def packShards(docs: DataFrame, id: String, text: String,
      by: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col(by)).orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(id), col(by), size(tokens(col(text))).cast("long").as("n_tokens"))
      .withColumn("start_offset", coalesce(sum(col("n_tokens")).over(win), lit(0L)))
      .withColumn("shard", floor(col("start_offset") / budgetTokens))
  }

  /** Context-window chunking: split every document into `chunkSize`-word
    * windows starting every `stride` words (overlap = chunkSize −
    * stride), the op that turns raw documents into model-context-sized
    * training rows. Chunk texts come from the single-pass native
    * [[graft.plans.ChunkWords]] expression (the declarative
    * transform/slice form re-splits the text per chunk — O(words²/stride)
    * per doc after CollapseProject); the explode is the only row
    * expansion and there is no shuffle at all. Every word is covered;
    * the final window may be shorter; docs at most chunkSize words long
    * yield exactly one chunk.
    *
    * Output: (id, chunk_idx, chunk, n_chunk_words). */
  def chunkDocs(docs: DataFrame, id: String, text: String,
      chunkSize: Int, stride: Int): DataFrame = {
    docs.select(col(id),
      posexplode(chunkWords(col(text), chunkSize, stride))
        .as(Seq("chunk_idx", "chunk")))
      .withColumn("n_chunk_words", size(tokens(col("chunk"))))
  }

  /** Boilerplate removal, the CCNet/trafilatura recipe at segment
    * granularity: a segment (non-overlapping `segWords`-word window —
    * the fixture has no newlines; on real corpora pass lines or
    * paragraphs through the same digest logic) whose EXACT text
    * repeats across more than `maxShare` of one source's documents is
    * template chrome (header, footer, nav, license banner), not
    * content — repeated-across-documents is precisely what
    * distinguishes boilerplate from the repeated-within-document
    * signal [[repetitionStats]] measures. Flagged segments are
    * stripped from every document of that source and the text
    * reconstructs from the kept segments in position order.
    *
    * Scale shape: one [[chunkDocs]] projection, one (source, digest)
    * count-distinct aggregation (16-byte digests shuffle, never the
    * segment text), one broadcast-sized boilerplate set joined back
    * (bounded: a TEMPLATE set per source, by definition ≪ corpus),
    * one per-doc ordered re-concat. Output: (id, source, n_segments,
    * n_kept, clean_text) — every input doc, empty string if all of it
    * was boilerplate. */
  def boilerplateStrip(docs: DataFrame, id: String, source: String,
      text: String, segWords: Int, maxShare: Double): DataFrame = {
    require(segWords > 0 && maxShare > 0 && maxShare <= 1,
      "boilerplateStrip: segWords > 0, maxShare in (0,1]")
    val segs = chunkDocs(docs, id, text, segWords, segWords)
      .join(docs.select(col(id), col(source)), Seq(id))
      .withColumn("h", md5(col("chunk")))
    val perSource = docs.groupBy(col(source))
      .agg(count_distinct(col(id)).as("n_docs"))
    val boiler = segs.groupBy(col(source), col("h"))
      .agg(count_distinct(col(id)).as("df"))
      .join(broadcast(perSource), Seq(source))
      .filter(col("df").cast("double") > lit(maxShare) * col("n_docs").cast("double"))
      .select(col(source), col("h"), lit(true).as("is_boiler"))
    val kept = segs.join(broadcast(boiler), Seq(source, "h"), "left")
      .filter(col("is_boiler").isNull)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
            s => s.getField("chunk"))).as("clean_text"))
    val counts = segs.groupBy(col(id)).agg(count(lit(1)).as("n_segments"))
    docs.select(col(id), col(source))
      .join(counts, Seq(id), "left")
      .join(kept, Seq(id), "left")
      .select(col(id), col(source),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Corpus-level adjacent-pair frequencies — the statistic a BPE/
    * WordPiece tokenizer trainer computes for its first merge decision
    * (which adjacent pair is most frequent), generalized to word level
    * over the corpus. Pairs come from the non-distinct form of the
    * single-pass native [[graft.plans.ShingleStrings]] expression (2-word
    * shingles, every occurrence counted), so pair generation is a pure
    * projection; the only shuffle is the pair-count hash aggregation
    * (map-side combine over a vocab²-bounded key space), and the top-k
    * cut is an orderBy+limit — TakeOrderedAndProject, a per-partition
    * heap + driver merge of k rows, never a global sort. Ties at the cut
    * break lexicographically, so the result is deterministic.
    *
    * Output: (pair, cnt, rank), rank 1..k by (cnt desc, pair). */
  def mergePairStats(docs: DataFrame, text: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(shingleStrings(col(text), 2, distinct = false)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(k)
    // the rank window runs over the k survivors only (already on the
    // driver-adjacent single partition the limit produced)
    counts.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("pair"))))
  }

  /** Out-of-vocabulary rate per document against the corpus's own top-V
    * vocabulary — the tokenizer-coverage QA check run before committing
    * to a vocab size: how much of each document would fall out of a
    * V-term vocabulary. Two passes, both inverted-index shaped: the
    * vocabulary is a term-frequency aggregation cut to V by
    * (cnt desc, term) — TakeOrderedAndProject, deterministic ties — and
    * the rejoin back onto the token stream is a left equi-join on term
    * that AQE broadcasts (the vocabulary is V rows by construction).
    *
    * Output: (id, n_tokens, n_oov, oov_frac) for every document. */
  def oovStats(docs: DataFrame, id: String, text: String, vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val tok = docs.select(col(id).as("doc"), explode(tokens(col(text))).as("term"))
    val vocab = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(vocabSize)
      .select(col("term"), lit(1).as("in_vocab"))
    tok.join(vocab, Seq("term"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1).otherwise(0)).as("n_oov"))
      .select(col("doc").as(id), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_frac"))
  }

  /** Vocabulary-id encoding — the tokenize-to-`input_ids` step between
    * curation and the trainer: build the top-V vocabulary (id = rank by
    * count desc / term asc, so ids are frequency-ordered and
    * deterministic), then encode every document as its id sequence with
    * 0 as the out-of-vocabulary id. Same two-pass inverted-index shape
    * as [[oovStats]]: TakeOrdered vocab cut, AQE-broadcast rejoin; the
    * id sequence reassembles order-safely via sort-by-position structs,
    * so no assumption about row order survives the shuffle.
    *
    * Output: (id, n_tokens, n_oov, ids array<int>). */
  def tokensToIds(docs: DataFrame, id: String, text: String, vocabSize: Int): DataFrame =
    tokensToIdsWithVocab(docs, id, text, vocabTopV(docs, text, vocabSize))

  /** The frequency-ranked top-V vocabulary (term, tid), tid 1..V by
    * (count desc, term) — exposed so a STREAMING encoder can train the
    * tokenizer once on the historical corpus (standard practice) and
    * encode every micro-batch against the exact vocabulary the batch
    * endpoint derives. TakeOrderedAndProject cut; the rank window runs
    * over the V survivors only. */
  def vocabTopV(docs: DataFrame, text: String, vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    import org.apache.spark.sql.expressions.Window
    docs.select(explode(tokens(col(text))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(vocabSize)
      .withColumn("tid", row_number().over(Window.orderBy(col("cnt").desc, col("term"))))
      .select(col("term"), col("tid"))
  }

  /** The encode half of [[tokensToIds]] against an EXISTING (term, tid)
    * vocabulary: AQE-broadcast left join on term, OOV id 0, order-safe
    * sequence reassembly. */
  def tokensToIdsWithVocab(docs: DataFrame, id: String, text: String,
      vocab: DataFrame): DataFrame = {
    val tok = docs.select(col(id).as("doc"),
      posexplode(tokens(col(text))).as(Seq("pos", "term")))
    tok.join(vocab, Seq("term"), "left")
      .withColumn("tid", coalesce(col("tid"), lit(0)))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tid") === 0, 1).otherwise(0)).as("n_oov"),
        transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
          x => x.getField("tid")).as("ids"))
      .select(col("doc").as(id), col("n_tokens"), col("n_oov"), col("ids"))
  }

  /** The dataloader endpoint: documents → fixed-width rows of
    * vocabulary ids, documents packed back-to-back in shard-offset
    * order — what actually feeds a trainer. Composes [[tokensToIds]]
    * (id encoding) with [[packShardsGlobal]] (token-budget shard
    * assignment, two-level prefix sum, no global sort) and then windows
    * each shard's concatenated id stream into `seqLen`-id rows (the
    * final row of a shard may be shorter — real pipelines pad it).
    *
    * Scale shape: the only new shuffle is the shard-key groupBy, and a
    * shard's id stream is bounded by the packer's token budget (budget
    * + one document), so the per-shard concat/window always fits an
    * executor — the same bound [[buildShards]] relies on.
    *
    * Output: (shard, row_idx, n_ids, ids array<int>). */
  def packTrainingRows(docs: DataFrame, id: String, text: String,
      by: String, vocabSize: Int, budgetTokens: Long, seqLen: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    // ONE tokenization end to end: the id encoding already counts every
    // document's tokens, so the packer consumes those counts instead of
    // re-splitting the corpus; the encoded relation feeds both the
    // counts arm and the shard join, hence the one materialization
    val ids = tokensToIds(docs, id, text, vocabSize)
      .select(col(id), col("n_tokens"), col("ids"))
      .localCheckpoint()
    val counts = ids.select(col(id), col("n_tokens"))
      .join(docs.select(col(id), col(by)), Seq(id))
      .select(col(id), col(by), col("n_tokens"))
    val packed = packOffsetsFromCounts(counts, id, by, budgetTokens)
      .select(col(id), col("start_offset"), col("shard"))
    val perShard = packed.join(ids.select(col(id), col("ids")), Seq(id))
      .groupBy(col("shard"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("start_offset"), col("ids")))),
        x => x.getField("ids"))).as("all_ids"))
    sliceRows(perShard, seqLen)
  }

  /** Window a (shard, all_ids) relation into `seqLen`-id training rows —
    * the slicing half of [[packTrainingRows]], shared with the
    * streaming ingest so batch and incremental emission cannot
    * diverge. The final row of a shard may be shorter. */
  private def sliceRows(perShard: DataFrame, seqLen: Int): DataFrame = {
    val nRows = ceil(size(col("all_ids")).cast("double") / seqLen).cast("int")
    // guard the nRows = 0 case: sequence(0, -1) DESCENDS and would emit
    // two bogus empty rows. Unreachable while split(text,' ') yields >=1
    // token per doc, but nothing in this function enforces that.
    val slices = when(size(col("all_ids")) > 0,
        transform(sequence(lit(0), nRows - 1),
          i => slice(col("all_ids"), i * seqLen + 1, lit(seqLen))))
      .otherwise(typedlit(Seq.empty[Seq[Int]]))
    perShard
      .select(col("shard"), posexplode(slices).as(Seq("row_idx", "r")))
      .select(col("shard"), col("row_idx"), size(col("r")).as("n_ids"),
        col("r").as("ids"))
  }

  /** STREAMING twin of [[packTrainingRows]] — the incremental
    * dataloader endpoint, in the [[Dedup.dedupIngest]] catalog-table
    * style: a `foreachBatch` function that encodes each micro-batch
    * against a FIXED vocabulary (train the tokenizer once, offline —
    * [[vocabTopV]]), continues the global token offset from a one-row
    * state table, appends every CLOSED shard's fixed-width rows to
    * `rowsTable`, and carries the one open shard's id stream forward as
    * pending state. [[trainingRowsFlush]] emits the final open shard at
    * end of stream.
    *
    * Contract: documents arrive in pack order — ascending (`by`, id)
    * across the whole stream (the same in-order contract the reorder
    * buffer family O1 exists to establish). Under it the emitted rows
    * are IDENTICAL to the batch [[packTrainingRows]] over the full
    * corpus: a shard closes only when a later-shard document arrives,
    * offsets are cumulative, and the slicing is shared code.
    *
    * State is bounded by construction: the pending id stream is at most
    * one shard (budget + one document), whatever the stream length —
    * the [[buildShards]] bound. Per-batch cost: one single-partition
    * prefix-sum window over the BATCH (batch-sized, not corpus-sized)
    * plus the vocab broadcast join.
    *
    * Replay safety: the state row records the last applied batch id,
    * and a replayed batch (same id) is SKIPPED — without this, a
    * foreachBatch replay after the state write would re-run against
    * already-advanced offsets and corrupt every later shard boundary.
    * Rows are written before state, so the one remaining crash window
    * (between the two writes) re-appends that batch's rows on replay —
    * at-least-once rows, never lost rows and never corrupted offsets,
    * the [[Dedup.dedupIngest]] delivery stance. */
  def trainingRowsIngest(vocab: DataFrame, id: String, text: String,
      by: String, budgetTokens: Long, seqLen: Int,
      rowsTable: String, stateTable: String): (DataFrame, Long) => Unit = {
    require(budgetTokens > 0 && seqLen > 0, "budget and seqLen must be positive")
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      val spark = batch.sparkSession
      import org.apache.spark.sql.expressions.Window
      import spark.implicits._
      val (base, pendShard, pending, lastBatch): (Long, Long, Seq[Int], Long) =
        if (spark.catalog.tableExists(stateTable)) {
          val r = spark.table(stateTable).head()
          (r.getLong(0), r.getLong(1), r.getSeq[Int](2), r.getLong(3))
        } else (0L, 0L, Seq.empty[Int], -1L)
      // replayed batch (crash after the state write, before the stream
      // committed its offset log): state and rows are already applied —
      // re-running would double-advance the offsets
      if (batchId > lastBatch) {
        val w = Window.orderBy(col(by), col(id))
          .rowsBetween(Window.unboundedPreceding, -1)
        // localCheckpoint: feeds the emit arm, the state arm and the
        // token-sum — the per-batch diamond, materialized once
        val offs = tokensToIdsWithVocab(batch, id, text, vocab)
          .join(batch.select(col(id), col(by)), Seq(id))
          .withColumn("start_offset",
            lit(base) + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .withColumn("shard", floor(col("start_offset") / budgetTokens))
          .select(col("shard"), col("start_offset"), col("ids"), col("n_tokens"))
          .localCheckpoint()
        // the pending open shard rides as a pseudo-doc at offset -1, so
        // it sorts first inside its shard's concat
        val pendRel = Seq((pendShard, -1L, pending))
          .toDF("shard", "start_offset", "ids")
        val perShard = pendRel
          .unionByName(offs.select(col("shard"), col("start_offset"), col("ids")))
          .groupBy(col("shard"))
          .agg(flatten(transform(
            array_sort(collect_list(struct(col("start_offset"), col("ids")))),
            x => x.getField("ids"))).as("all_ids"))
          .localCheckpoint()
        val maxShard = perShard.agg(max(col("shard"))).head().getLong(0)
        sliceRows(perShard.filter(col("shard") < maxShard && size(col("all_ids")) > 0), seqLen)
          .write.mode("append").saveAsTable(rowsTable)
        val open = perShard.filter(col("shard") === maxShard)
          .select(col("all_ids")).head().getSeq[Int](0)
        val newBase = base +
          offs.agg(coalesce(sum(col("n_tokens")), lit(0L))).head().getLong(0)
        Seq((newBase, maxShard, open, batchId))
          .toDF("next_offset", "shard", "pending", "last_batch")
          .write.mode("overwrite").saveAsTable(stateTable)
      }
    }
  }

  /** Emit the open shard held in `stateTable` — a TERMINAL call, once,
    * at end of stream (the emitted final row may be short, exactly like
    * the batch endpoint's). Not safe as a mid-stream cut: the state
    * still points at the flushed shard, so a resumed stream would
    * re-slice that shard from row_idx 0 and duplicate its rows. */
  def trainingRowsFlush(spark: org.apache.spark.sql.SparkSession,
      rowsTable: String, stateTable: String, seqLen: Int): Unit =
    if (spark.catalog.tableExists(stateTable)) {
      import spark.implicits._
      val r = spark.table(stateTable).head()
      val (nextOff, shard, pending, lastBatch) =
        (r.getLong(0), r.getLong(1), r.getSeq[Int](2), r.getLong(3))
      if (pending.nonEmpty) {
        sliceRows(Seq((shard, pending)).toDF("shard", "all_ids"), seqLen)
          .write.mode("append").saveAsTable(rowsTable)
        Seq((nextOff, shard, Seq.empty[Int], lastBatch))
          .toDF("next_offset", "shard", "pending", "last_batch")
          .write.mode("overwrite").saveAsTable(stateTable)
      }
    }

  /** Temperature-based mixture reweighting at α = 0.5: per-source
    * sampling weight w_s = √n_s / Σ_t √n_t and the per-source document
    * quota for a `budget`-sized mixed corpus — the standard
    * low-resource-upweighting scheme for pretraining mixtures. α is
    * fixed at 0.5 deliberately: √ is correctly rounded by every IEEE
    * engine, where pow(x, α) is libm-dependent and breaks cross-engine
    * hash parity. The normalizer folds the per-source terms in sorted
    * order (explicit left fold over a sorted collect_list), so the sum
    * is deterministic under any partial-aggregation split — a plain
    * SUM of doubles is not.
    *
    * Output: (source, n_docs, weight, quota). */
  def mixtureWeights(docs: DataFrame, source: String, budget: Long): DataFrame = {
    val counts = docs.groupBy(col(source)).agg(count(lit(1)).as("n_docs"))
    val z = counts
      .agg(aggregate(array_sort(collect_list(sqrt(col("n_docs")))),
        lit(0.0), (a, x) => a + x).as("z"))
    counts.crossJoin(broadcast(z))
      .select(col(source), col("n_docs"),
        round(sqrt(col("n_docs")) / col("z"), 6).as("weight"),
        round(lit(budget) * (sqrt(col("n_docs")) / col("z"))).cast("long").as("quota"))
  }

  // --------------------------------------------------------------------
  // BPE tokenizer training (Sennrich et al. 2016, word-granular)

  /** One BPE merge applied to a single-space token string: greedy
    * leftmost non-overlapping replacement of adjacent pair (a, b) by
    * `merged`. Three literal replaces — double the separators, replace
    * the fully-delimited pattern, halve back — because a bare
    * replace(" a b ") consumes the shared separator of back-to-back
    * occurrences (the second " a b " in "x a b a b x" would no longer
    * match) and could hit inside longer tokens. With doubled
    * separators every occurrence owns a private " a  b " window, and
    * left-to-right literal replace IS the BPE greedy scan. replace()
    * has those semantics in every SQL engine, which is what keeps the
    * whole trainer oracle-checkable. */
  private def applyMerge(t: Column, a: String, b: String, merged: String): Column =
    trim(replace(
      replace(concat(lit(" "), replace(t, lit(" "), lit("  ")), lit(" ")),
        lit(s" $a  $b "), lit(s" $merged ")),
      lit("  "), lit(" ")))

  /** In-memory twin of the distributed BPE loop — IDENTICAL arithmetic:
    * non-distinct adjacent pairs of space-split tokens (shingle n=2),
    * exact integer counts, argmax ties to the binary-smallest pair
    * string (UTF8String order == Spark's string sort), greedy leftmost
    * non-overlapping rewrite (== the doubled-separator replace chain on
    * single-space token strings). Returns the merge list and the
    * rewritten (doc, t) rows for a LocalRelation; the callers' final
    * projections (md5, token counts) stay in Spark, so their expression
    * semantics are shared with the distributed path by construction. */
  private def bpeLoopDriver(rows: Array[org.apache.spark.sql.Row],
      merges: Int, joiner: String): (Seq[(Int, String, String, Long)], Array[String]) = {
    import org.apache.spark.unsafe.types.UTF8String
    val texts: Array[String] = rows.map(r => if (r.isNullAt(1)) null else r.getString(1))
    val toks: Array[Array[String]] =
      texts.map(t => if (t == null) null else t.split(" ", -1))
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    for (i <- 1 to merges if !exhausted) {
      val counts = new java.util.HashMap[String, Array[Long]]()
      var di = 0
      while (di < toks.length) {
        val tk = toks(di)
        if (tk != null && tk.length >= 2) {
          var j = 0
          while (j < tk.length - 1) {
            val k = tk(j) + " " + tk(j + 1)
            val slot = counts.get(k)
            if (slot == null) counts.put(k, Array(1L)) else slot(0) += 1L
            j += 1
          }
        }
        di += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bestPair: String = null
        var bestU: UTF8String = null
        var bestCnt = Long.MinValue
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c = e.getValue()(0)
          if (c > bestCnt) {
            bestCnt = c; bestPair = e.getKey
            bestU = UTF8String.fromString(bestPair)
          } else if (c == bestCnt) {
            val u = UTF8String.fromString(e.getKey)
            if (u.compareTo(bestU) < 0) { bestPair = e.getKey; bestU = u }
          }
        }
        val sp = bestPair.indexOf(' ')
        val a = bestPair.substring(0, sp)
        val b = bestPair.substring(sp + 1)
        val m = a + joiner + b
        learned += ((i, a, b, bestCnt))
        di = 0
        while (di < toks.length) {
          val tk = toks(di)
          if (tk != null && tk.length >= 2) {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < tk.length) {
              if (j < tk.length - 1 && tk(j) == a && tk(j + 1) == b) {
                out += m; j += 2
              } else { out += tk(j); j += 1 }
            }
            toks(di) = out.toArray
          }
          di += 1
        }
        di = 0
      }
    }
    val outTexts = new Array[String](toks.length)
    var di = 0
    while (di < toks.length) {
      outTexts(di) = if (toks(di) == null) null else toks(di).mkString(" ")
      di += 1
    }
    (learned.toSeq, outTexts)
  }

  /** The shared BPE training loop: `merges` rounds of (count adjacent
    * pairs → take the most frequent → rewrite the corpus). Returns the
    * learned merge list and the rewritten corpus (doc, t), which the
    * caller must release (`Route.release`).
    *
    * Scale topology (the [[graft.operators.Similarity.kMeans]] stance):
    * the model is the merge list — tiny — so it lives on the driver and
    * ships back inside literal replace() arguments; the corpus never
    * moves. One round costs one map-side-combined pair count (native
    * non-distinct 2-shingles, a projection) + TakeOrdered(1) — no
    * global sort, a ONE-ROW collect — and one projection to apply the
    * merge. At 100 TB × N merges: N linear passes, zero data shuffles.
    * Each rewritten corpus is persisted and the previous unpersisted,
    * so round i never replays rounds 1..i-1's rewrites.
    *
    * Deterministic and engine-portable: ties on pair count break
    * lexicographically; counts are exact; replace/trim are literal. */
  private def bpeLoop(docs: DataFrame, id: String, text: String,
      merges: Int, joiner: String): (Seq[(Int, String, String, Long)], DataFrame) = {
    require(merges >= 0, "merges must be non-negative")
    val spark = docs.sparkSession
    // at or below 16 MiB of text the loop runs in driver memory
    // (collect once, loop over arrays); above it the distributed
    // per-round plan runs unchanged. 8 rounds of (count job + rewrite
    // job + cache turnover) on a megabyte-scale corpus is pure fixed
    // overhead; 16 MiB keeps the guard where that overhead still
    // dominates the single-threaded loop — the 10×-inflated corpus
    // (50 MB) deliberately routes to the distributed path. Pinned
    // driver==distributed by the ParityBoundarySpec BPE test. Sized in
    // octet_length, not length: the guard is heap-headroom BYTES, and a
    // multi-byte corpus would route up to ~4x the intended size into
    // the single-threaded driver loop if sized in characters.
    Route.bySize(docs.select(col(id).as("doc"), col(text).as("t")),
        1L << 24, Some(octet_length(col("t")))) { pin =>
      import org.apache.spark.sql.types.{StructField, StructType, StringType}
      import scala.jdk.CollectionConverters._
      val rows = pin.collect()
      val (learned, outTexts) = bpeLoopDriver(rows, merges, joiner)
      val schema = StructType(Seq(
        StructField("doc", docs.schema(id).dataType, nullable = true),
        StructField("t", StringType, nullable = true)))
      val outRows: Seq[org.apache.spark.sql.Row] =
        rows.iterator.zip(outTexts.iterator)
          .map { case (r, t) => org.apache.spark.sql.Row(r.get(0), t) }.toSeq
      (learned, spark.createDataFrame(outRows.asJava, schema))
    } { pin =>
      var cur = pin
      // the previous round's relation stays cached until THIS round's
      // pair count has materialized `cur` from it — deferring the
      // unpersist this way folds the rewrite work into the count job
      // (the old shape ran an extra count() action per round just to
      // materialize the cache: merges extra job turnarounds)
      var prev: DataFrame = null
      def dropPrev(): Unit = if (prev != null) { Route.release(prev); prev = null }
      val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var exhausted = false
      for (i <- 1 to merges if !exhausted) {
        val top = cur.select(explode(shingleStrings(col("t"), 2, distinct = false)).as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(1)
          .collect()
        dropPrev()
        if (top.isEmpty) exhausted = true // every doc is a single token
        else {
          val pair = top(0).getString(0)
          val sp = pair.indexOf(' ')
          val a = pair.substring(0, sp)
          val b = pair.substring(sp + 1)
          learned += ((i, a, b, top(0).getLong(1)))
          val next = cur.select(col("doc"),
              applyMerge(col("t"), a, b, a + joiner + b).as("t"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          prev = cur
          cur = next
        }
      }
      // the final rewrite may not be materialized yet: callers act on
      // `cur` (bpeEncode) or discard it (bpeMerges) — either way its
      // lineage only reaches back to `prev`'s cache, which must outlive
      // the first action, so hand ownership of BOTH to the caller
      (learned.toSeq, if (prev != null) { val p = prev; prev = null
        cur.count(); Route.release(p); cur } else cur)
    }
  }

  /** Train a word-granular BPE merge table over the corpus: the
    * `merges` most frequent adjacent token pairs, learned iteratively
    * (each round counts pairs over the corpus AS REWRITTEN by the
    * previous rounds — the defining difference from the one-shot
    * [[mergePairStats]] ranking, and why "t h"-style cascades emerge).
    * Merged tokens are spelled a`joiner`b so later merges can combine
    * them further.
    *
    * Output: (it, lhs, rhs, cnt), it = 1..merges. */
  def bpeMerges(docs: DataFrame, id: String, text: String, merges: Int,
      joiner: String = "@@"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (learned, cur) = bpeLoop(docs, id, text, merges, joiner)
    Route.release(cur)
    learned.toDF("it", "lhs", "rhs", "cnt")
  }

  // --------------------------------------------------------------------
  // Trained quality classifier (distributed logistic regression)

  /** Batch-gradient logistic-regression trainer for quality scoring —
    * the fastText-style learned filter that replaces heuristic
    * thresholds with a model fit on the corpus itself. `features` are
    * named column expressions (x1..xd, evaluated once and cached);
    * `label` is a 0.0/1.0 column; training runs `iters` full-batch
    * gradient steps at rate `lr` from w = 0.
    *
    * Scale topology (the [[graft.operators.Similarity.kMeans]] stance):
    * the model is d+1 doubles on the driver, shipped back into the
    * score projection as literals; one iteration costs ONE map-side-
    * combined aggregation producing d+1 numbers — the corpus is never
    * shuffled, and scoring is a pure projection.
    *
    * Deterministic and engine-portable, so the whole TRAINING RUN is
    * SQL-oracle-checkable (the kMeans precedent):
    *  - the link is the rational fast sigmoid 0.5 + z/(2·(1+|z|)) —
    *    IEEE add/mul/div/abs only; exp()-based logistic differs in the
    *    last ulp across libm implementations and breaks hash parity;
    *  - z folds in fixed feature order (w0 + w1·x1 + ... left-assoc);
    *  - each gradient component snaps addends to a 1e-9 grid — round(
    *    (p-y)·xj·1e9) summed exactly as DECIMAL(38,0), divided once —
    *    so partial-aggregation splits can't reorder a float sum;
    *  - `lr` should be an exactly-representable double (0.125 etc.) so
    *    the SQL literal parses to the same bits.
    *
    * Output per doc: (doc, y, score, pred) — score = round(p, 6) under
    * the final weights, pred = score >= 0.5. */
  def qualityClassifier(docs: DataFrame, id: String,
      features: Seq[(String, Column)], label: Column,
      iters: Int, lr: Double): DataFrame = {
    require(iters >= 0 && features.nonEmpty, "need features, iters >= 0")
    import org.apache.spark.sql.types.DecimalType
    val cols = features.map { case (n, c) => c.cast("double").as(n) }
    val feats = docs.select(
        (col(id).as("doc") +: cols :+ label.cast("double").as("y")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val names = features.map(_._1)
    var w = Array.fill(names.length + 1)(0.0) // w(0) = bias
    def z: Column = names.zipWithIndex.foldLeft(lit(w(0))) {
      case (acc, (n, j)) => acc + lit(w(j + 1)) * col(n)
    }
    def p: Column = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
    val Grid = 1e9
    def gridMean(v: Column): Column =
      sum(round(v * Grid).cast("long").cast(DecimalType(38, 0)))
        .cast("double") / count(lit(1)) / Grid
    for (_ <- 1 to iters) {
      val err = p - col("y")
      val g = feats.agg(gridMean(err).as("g0"),
          names.map(n => gridMean(err * col(n))): _*)
        .head()
      w = w.indices.map(j => w(j) - lr * g.getDouble(j)).toArray
    }
    val result = feats.select(col("doc"), col("y").cast("int").as("y"),
        round(p, 6).as("score"),
        (p >= lit(0.5)).cast("int").as("pred"))
      .localCheckpoint() // materialize while feats is still cached
    feats.unpersist(false)
    result
  }

  /** Encode the corpus with a freshly trained `merges`-round BPE model
    * (training and application in one call — the fixture-sized form;
    * a deployment would train once via [[bpeMerges]] and replay the
    * merge list). Output per document: the post-merge token count and
    * the md5 of the encoded text — the digest proves the REWRITE
    * matched, not just the counts. */
  def bpeEncode(docs: DataFrame, id: String, text: String, merges: Int,
      joiner: String = "@@"): DataFrame = {
    val (_, cur) = bpeLoop(docs, id, text, merges, joiner)
    val result = cur.select(col("doc"),
        size(split(col("t"), " ")).cast("long").as("n_tokens"),
        md5(col("t")).as("bpe_md5"))
      .localCheckpoint() // materialize while cur is still cached
    Route.release(cur)
    result
  }

  /** Shannon-entropy quality signals per document: character entropy,
    * token entropy, and type-token ratio — the compression-proxy tier
    * of quality filtering (low char entropy = repeated boilerplate,
    * low TTR = keyword stuffing). Two explode→count pipelines keyed on
    * (id, symbol) with map-side combine, re-aggregated per id; the
    * symbol-count shuffle carries one row per DISTINCT symbol per doc
    * (≤ ~100 for chars), not one per character.
    *
    * Hash parity: each −p·log₂p term is rounded to 12 decimals and
    * accumulated as DECIMAL(28,12) — the sum is exact and
    * order-independent, so engines that sum groups in different orders
    * still agree; the final round absorbs any last-ulp log₂ difference
    * between libm implementations (the [[tfIdfTopTerms]] concern, made
    * safe instead of avoided).
    *
    * Output: (id, n_chars, n_tokens, char_entropy, token_entropy, ttr). */
  def entropyStats(docs: DataFrame, id: String, text: String,
      roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import org.apache.spark.sql.expressions.Window
    def entropyOf(sym: Column): DataFrame = {
      // n (total symbols) is re-derived as Σcnt AFTER the count agg —
      // projecting size(sym) next to explode(sym) re-evaluates the
      // split for every exploded row (O(len²) per doc on the char
      // split; the sf0.001 bench caught it at 5 s for 500 docs)
      val cnts = docs
        .select(col(id), explode(sym).as("s"))
        .groupBy(col(id), col("s"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col(id))))
      val p = col("cnt").cast("double") / col("n").cast("double")
      cnts.groupBy(col(id), col("n"))
        .agg(
          sum(round(-p * log2(p), 12).cast(DecimalType(28, 12)))
            .cast("double").as("h"),
          count(lit(1)).as("n_distinct"))
    }
    // "(?!$)": split between characters but not at end-of-string —
    // Spark's split uses Java's limit=-1, where pattern "" leaves a
    // trailing empty element that DuckDB's string_split('',…) does not
    val ch = entropyOf(split(col(text), "(?!$)"))
    val tk = entropyOf(tokens(col(text)))
    ch.select(col(id), col("n").as("n_chars"),
        round(col("h"), roundTo).as("char_entropy"))
      .join(tk.select(col(id), col("n").as("n_tokens"),
        round(col("h"), roundTo).as("token_entropy"),
        round(col("n_distinct").cast("double") / col("n"), roundTo).as("ttr")),
        id)
      .select(col(id), col("n_chars"), col("n_tokens"),
        col("char_entropy"), col("token_entropy"), col("ttr"))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis
    * exponential clocks), deterministic: every row draws
    * u = (52-bit md5 prefix + 1)/2⁵² ∈ (0,1] from its OWN id — no RNG,
    * so any engine, any partitioning, and any re-run selects the same
    * rows — and competes with key = −ln(u)/w; the k smallest keys per
    * stratum win, which is exactly P(selection) ∝ w without
    * replacement. The quality-weighted subsampling primitive
    * ([[stratifiedCap]] is the uniform special case; this one lets a
    * quality score set the odds).
    *
    * One projection computes keys; the only shuffle is the per-stratum
    * top-k window. Keys round to 12 decimals before ranking (id
    * tie-break), putting the ≤1-ulp ln() difference between libms
    * astronomically far from a rank flip (the unigram-LM argument).
    *
    * Output: (by, rank, id, w, key), rank 1..k per stratum. */
  def weightedSample(docs: DataFrame, id: String, weight: Column,
      by: String, k: Int, salt: String = "samp"): DataFrame =
    sampleBottomK(sampleKeyed(docs, id, weight, by, salt), id, by, k)

  /** The clock-keyed relation behind [[weightedSample]]:
    * (by, id, w, key) with key = −ln(u)/w from the row's own md5 urn. */
  private def sampleKeyed(docs: DataFrame, id: String, weight: Column,
      by: String, salt: String): DataFrame = {
    val u = (md5U52(concat(lit(s"$salt:"), col(id)))
      .cast("double") + lit(1.0)) / lit(4503599627370496.0)
    docs.select(col(by), col(id), weight.cast("double").as("w"),
      round(-log(u) / weight.cast("double"), 12).as("key"))
  }

  /** Per-stratum bottom-k of a keyed relation, ranked. Min-wise, so it
    * MERGES: the k smallest keys of a union are among the per-part
    * bottom-k's — the property the streaming twin rides. */
  private def sampleBottomK(keyed: DataFrame, id: String, by: String,
      k: Int): DataFrame = {
    require(k > 0, "weightedSample: k must be positive")
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col(by)).orderBy(col("key"), col(id))
    keyed.withColumn("rank", row_number().over(win)).filter(col("rank") <= k)
      .select(col(by), col("rank"), col(id), col("w"), col("key"))
  }

  /** Streaming weighted-sample maintenance: each batch's per-stratum
    * bottom-k clock rows (≤ k per stratum) land as idempotent delta
    * partitions; [[weightedSampleMerged]] re-ranks the union. Clocks
    * are content-derived (no RNG), so the streamed winner set equals
    * the one-shot batch [[weightedSample]] over everything ingested —
    * reservoir sampling with an exact, engine-portable reservoir. */
  def weightedSampleIngest(id: String, weight: Column, by: String,
      k: Int, prefix: String, salt: String = "samp"): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      graft.operators.Sketches.writeDelta(
        sampleBottomK(sampleKeyed(batch, id, weight, by, salt), id, by, k)
          .drop("rank"), batchId, prefix)
    }

  /** The merged per-stratum winners over everything
    * [[weightedSampleIngest]] landed — drop-in for [[weightedSample]].
    * Deltas are deduped first (the kmvMergedEstimate discipline): an id
    * re-ingested across batches lands identical (by, id, w, key) rows —
    * the clock is content-derived — and without distinct() one id could
    * occupy several of the k reservoir slots, breaking the streamed ==
    * one-shot-batch contract. */
  def weightedSampleMerged(spark: org.apache.spark.sql.SparkSession,
      prefix: String, id: String, by: String, k: Int): DataFrame =
    sampleBottomK(spark.table(s"${prefix}_deltas")
      .select(col(by), col(id), col("w"), col("key")).distinct(), id, by, k)

  /** Heaps-law vocabulary growth curve: cumulative distinct-token count
    * as a function of cumulative corpus size, at `nBuckets` id-range
    * checkpoints. The classical corpus diagnostic for "is more data
    * still adding vocabulary" (V(n) ≈ K·nᵝ).
    *
    * New vocabulary is attributed by FIRST OCCURRENCE — one
    * token-keyed min(bucket) aggregation (the corpus-wide shuffle,
    * 8-byte rows with map-side combine) — and token totals per bucket
    * are map-side-combined per-doc counts; the cumulative window runs
    * over ≤ nBuckets rows, never the corpus. Buckets cut the id RANGE
    * (floor(id·nBuckets/(max+1))), not ntile — a global ntile would
    * sort the corpus through one partition.
    *
    * Output: (bucket, n_docs, bucket_tokens, cum_tokens, new_vocab,
    * cum_vocab), ordered by bucket. */
  def vocabGrowth(docs: DataFrame, id: String, text: String,
      nBuckets: Int = 20): DataFrame = {
    require(nBuckets > 0, "vocabGrowth: nBuckets must be positive")
    import org.apache.spark.sql.expressions.Window
    val maxId = docs.agg(max(col(id))).head().getLong(0)
    val bucket = floor(col(id) * nBuckets / (maxId + 1)).cast("int").as("bucket")
    val toks = docs.select(bucket, explode(tokens(col(text))).as("t"))
    val firstSeen = toks.groupBy(col("t")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_vocab"))
    val perBucket = docs
      .select(bucket, col(id), size(tokens(col(text))).cast("long").as("nt"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("bucket_tokens"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(firstSeen, Seq("bucket"), "left")
      .withColumn("new_vocab", coalesce(col("new_vocab"), lit(0L)))
      .withColumn("cum_tokens", sum(col("bucket_tokens")).over(w))
      .withColumn("cum_vocab", sum(col("new_vocab")).over(w))
      .select(col("bucket"), col("n_docs"), col("bucket_tokens"),
        col("cum_tokens"), col("new_vocab"), col("cum_vocab"))
      .orderBy(col("bucket"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how target-like it is under two hashed-unigram bag
    * models. Tokens hash into `m` buckets (md5 52-bit prefix mod m —
    * the repo's engine-portable hash family); the target documents
    * (`targetPred`) and the full raw corpus each induce an add-one-
    * smoothed bucket LM; a document's weight is
    * Σ_tokens ln p_target(b(tok)) − ln p_raw(b(tok)). Downstream,
    * sampling ∝ exp(weight) (see weightedSample / q114) yields the
    * DSIR-selected subset.
    *
    * Scale shape: the bucket LMs are ONE bounded aggregate (m rows —
    * the only corpus-wide shuffle, 8-byte keys with map-side combine);
    * the per-bucket log-ratio table broadcasts, so scoring is explode →
    * broadcast-join → per-doc sum (partial-aggregated). No pair space,
    * no driver collect; state is O(m) whatever the corpus size.
    * Cross-engine exactness: log-ratios are doubles derived from
    * integer counts (identical in any engine), per-doc sums accumulate
    * as DECIMAL(38,18) (order-independent), surfaced rounded. */
  def dsirWeights(docs: DataFrame, id: String, text: String,
      targetPred: Column, m: Int = 64, roundTo: Int = 6): DataFrame = {
    val counts = dsirCounts(docs, text, targetPred, m).localCheckpoint()
    dsirScore(docs, id, text, counts, m, roundTo)
  }

  /** The hashed-bucket token pair (doc stream projection): b = 52-bit
    * md5 prefix of the token, mod m. */
  private def dsirBucket(m: Int): Column =
    md5U52(col("term")) % m

  /** The bucket-count relation alone — (b, ct, cr), ≤ m rows. MERGES by
    * sum (integer counts commute across any batch split), so the LM
    * state is incrementally maintainable exactly like the count-min
    * counters. */
  def dsirCounts(docs: DataFrame, text: String, targetPred: Column,
      m: Int): DataFrame = {
    require(m > 0, "dsirCounts: m must be positive")
    docs.select(targetPred.as("is_t"), explode(tokens(col(text))).as("term"))
      .withColumn("b", dsirBucket(m))
      .groupBy(col("b")).agg(
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
  }

  /** Score `docs` against a (b, ct, cr) bucket-count relation: the
    * add-one-smoothed log-ratio table broadcasts (≤ m rows), so
    * scoring is explode → broadcast-join → per-doc decimal sum. */
  def dsirScore(docs: DataFrame, id: String, text: String,
      counts: DataFrame, m: Int, roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val totals = counts.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val lam = counts.crossJoin(broadcast(totals)).select(col("b"),
      (log((col("ct").cast("double") + 1) / (col("tt").cast("double") + m)) -
       log((col("cr").cast("double") + 1) / (col("tr").cast("double") + m))).as("lam"))
    docs.select(col(id).as("doc"), explode(tokens(col(text))).as("term"))
      .withColumn("b", dsirBucket(m))
      .join(broadcast(lam), "b")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("lam").cast(DecimalType(38, 18))).cast("double"), roundTo)
          .as("dsir_logw"))
      .select(col("doc").as(id), col("n_tokens"), col("dsir_logw"))
  }

  /** Streaming DSIR maintenance: per-batch bucket-count deltas (≤ m
    * rows) landed as idempotent delta partitions — the count-min
    * pattern applied to the selection tier. [[dsirMergedCounts]] sums
    * them back to the exact batch LM state, so scores computed against
    * the streamed counts equal the one-shot [[dsirWeights]] answer. */
  def dsirIngest(text: String, targetPred: Column, prefix: String,
      m: Int = 64): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      graft.operators.Sketches.writeDelta(
        dsirCounts(batch, text, targetPred, m), batchId, prefix)
    }

  /** The merged bucket counts over everything [[dsirIngest]] landed. */
  def dsirMergedCounts(spark: org.apache.spark.sql.SparkSession,
      prefix: String): DataFrame =
    spark.table(s"${prefix}_deltas")
      .groupBy(col("b"))
      .agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr"))

  /** Vocabulary coverage curve — the tokenizer-budget diagnostic: for
    * each candidate vocabulary size K, what share of all token
    * OCCURRENCES the K most frequent types cover (the curve that
    * decides how large a subword/word vocab must be before OOV rate is
    * acceptable; its complement at the chosen K is the UNK share).
    * Ranking is (count desc, term asc) — fully deterministic — and
    * coverage is an exact-integer ratio (unrounded IEEE divide).
    *
    * Scale shape: ONE corpus explode collapses onto the (term) spine
    * (map-side combined, bounded by |vocab|); the rank window and the
    * K-spine join run on that bounded relation only.
    *
    * Output: one row per K — (vocab_size, n_types, covered, total,
    * coverage). K larger than the type count covers everything. */
  def vocabCoverage(docs: DataFrame, text: String,
      sizes: Seq[Int]): DataFrame =
    vocabCoverageFromCounts(
      docs.select(explode(tokens(col(text))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("c")),
      sizes)

  /** Lexical diversity per corpus slice — the repetitiveness read
    * quality filters want beside length stats: type-token ratio
    * (distinct types / token occurrences) and the hapax share (types
    * seen exactly once / types) per `by` group. Low TTR + low hapax =
    * template/boilerplate-heavy source. One explode onto the (slice,
    * term) grid, then a per-slice reduction of that bounded grid;
    * ratios are exact-integer IEEE divides, unrounded. Output:
    * (slice, n_tokens, n_types, ttr, hapax_share). */
  def lexicalDiversity(docs: DataFrame, by: String, text: String): DataFrame =
    docs
      .select(col(by).as("slice"), explode(tokens(col(text))).as("term"))
      .groupBy(col("slice"), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("slice"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("slice"), col("n_tokens"), col("n_types"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        (col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_share"))

  /** Streaming term-count index maintenance — ONE ingest loop powering
    * the whole text-diagnostics tier: each micro-batch lands its
    * (term, count) partial as an idempotent delta partition (the
    * [[graft.operators.Sketches]] delta pattern — a replayed batch
    * overwrites its own partition), and [[termCountsMerged]] sums the
    * deltas back to the exact batch term-count relation, so
    * [[vocabCoverage]]/[[lexicalDiversity]]-style reports computed
    * over the streamed counts equal their one-shot batch answers
    * (StreamingSpec pins vocab coverage streamed == batch). Per batch
    * only the batch's own bounded vocabulary shuffles. */
  def termCountsIngest(text: String, prefix: String)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      graft.operators.Sketches.writeDelta(
        batch.select(explode(tokens(col(text))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("c")),
        batchId, prefix)
    }

  /** The merged term counts over everything [[termCountsIngest]]
    * landed — the exact (term, c) relation the batch explode would
    * produce over the union of all ingested batches. */
  def termCountsMerged(spark: org.apache.spark.sql.SparkSession,
      prefix: String): DataFrame =
    spark.table(s"${prefix}_deltas")
      .groupBy(col("term")).agg(sum(col("c")).as("c"))

  /** [[vocabCoverage]] over a pre-aggregated (term, c) relation —
    * shared by the batch form and [[termCountsMerged]] so the streamed
    * index reads the identical curve. */
  def vocabCoverageFromCounts(counts: DataFrame,
      sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1),
      "vocabCoverageFromCounts: sizes must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("term"))
    val ranked = counts.withColumn("rk", row_number().over(w))
      .localCheckpoint()
    val totals = ranked.agg(sum(col("c")).as("total"),
      count(lit(1)).as("n_types"))
    val spine = counts.sparkSession.createDataFrame(
      sizes.distinct.sorted.map(Tuple1(_))).toDF("vocab_size")
    spine.join(ranked, col("rk") <= col("vocab_size"))
      .groupBy(col("vocab_size"))
      .agg(sum(col("c")).as("covered"))
      .crossJoin(broadcast(totals))
      .select(col("vocab_size"), col("n_types"), col("covered"),
        col("total"),
        (col("covered").cast("double") / col("total").cast("double"))
          .as("coverage"))
  }

  /** Trending terms per period — burst detection over a partitioned
    * corpus (which vocabulary is over-represented in THIS batch vs the
    * rest): per-(term, period) counts lift-score against the term's
    * rate everywhere else, lift = ((c_tp+0.5)/(t_p+1)) /
    * ((c_rest+0.5)/(T_rest+1)) with add-half smoothing so period-
    * exclusive terms stay finite, and the top `topK` terms per period
    * surface by (lift desc, term). The corpus-shift early-warning that
    * names WHAT moved where [[Quality.psiReport]]/[[Quality.ksReport]]
    * only flag THAT something moved.
    *
    * Scale shape: one corpus-sized explode+aggregate onto the (term,
    * period) grid (map-side combined, bounded by |vocab|·|periods|);
    * every later join/window runs on that bounded grid, never the
    * corpus. The lift is a fixed IEEE chain over exact integers —
    * unrounded, engine-identical; ties rank by term for determinism.
    *
    * Output: (period, rank, term, c_tp, lift). */
  def trendingTerms(docs: DataFrame, text: String, period: Column,
      topK: Int): DataFrame = {
    require(topK >= 1, "trendingTerms: topK >= 1")
    // the (term, period) grid feeds three arms (period totals, term
    // totals, scoring) — materialize the BOUNDED grid, not the corpus
    val tp = docs
      .select(period.as("period"), explode(tokens(col(text))).as("term"))
      .groupBy(col("period"), col("term"))
      .agg(count(lit(1)).as("c_tp"))
      .localCheckpoint()
    val perPeriod = tp.groupBy(col("period")).agg(sum(col("c_tp")).as("t_p"))
    val perTerm = tp.groupBy(col("term")).agg(sum(col("c_tp")).as("c_t"))
    val total = tp.agg(sum(col("c_tp")).as("tt"))
    val lift =
      ((col("c_tp").cast("double") + lit(0.5)) /
        (col("t_p").cast("double") + lit(1.0))) /
      (((col("c_t") - col("c_tp")).cast("double") + lit(0.5)) /
        ((col("tt") - col("t_p")).cast("double") + lit(1.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("period"))
      .orderBy(col("lift").desc, col("term"))
    tp.join(perPeriod, "period")
      .join(perTerm, "term")
      .crossJoin(broadcast(total))
      .withColumn("lift", lift)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("period"), col("rank").cast("int").as("rank"),
        col("term"), col("c_tp"), col("lift"))
  }

  /** Multinomial Naive Bayes language/label classifier — train counts
    * on one corpus slice, score another, all inside the engine: the
    * classical generative text classifier (add-one smoothing) that a
    * curation pipeline uses when the heuristic langid (q43) needs a
    * supervised cross-check. Training is two bounded aggregations
    * (per-(token, label) counts — vocab × labels cells — and label
    * priors); scoring explodes test tokens against the LABEL panel
    * and left-joins the count grid, so an unseen token falls through
    * coalesce to the smoothing floor ln(1/(n_label + V)) without a
    * dense vocab × labels materialization.
    *
    * Portability: each token's log-likelihood ln((c+1)/(n_l+V)) and
    * the label's log-prior are IEEE ln of exact integer ratios,
    * snapped to the 1e-12 grid and summed as exact DECIMALs (the q109
    * ln-sum discipline); the argmax ranks by the EXACT decimal score
    * (never the rounded double), labels ascending on ties, so both
    * engines pick identical winners.
    *
    * Output: one row per test doc (id, label_true, label_pred,
    * correct, score) ordered by id; `score` is the winning
    * log-posterior rounded to 6. */
  def naiveBayes(train: DataFrame, test: DataFrame, id: String,
      text: String, label: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    def grid12(c: Column) = round(c, 12).cast(DecimalType(28, 12))
    def d(c: Column) = c.cast("double")
    val trTok = train.select(col(label).as("lab"),
      explode(tokens(col(text))).as("w"))
    val counts = trTok.groupBy(col("lab"), col("w"))
      .agg(count(lit(1)).as("c"))
    val labTotals = counts.groupBy(col("lab"))
      .agg(sum(col("c")).as("n_lab"))
    val vocab = counts.select(col("w")).distinct()
      .agg(count(lit(1)).as("v"))
    val priors = train.groupBy(col(label).as("lab"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_all", sum(col("n_docs")).over(Window.partitionBy()))
    val labels = labTotals
      .join(broadcast(priors), "lab")
      .crossJoin(broadcast(vocab))
      .select(col("lab"), col("n_lab"), col("v"),
        grid12(log(d(col("n_docs")) / d(col("n_all")))).as("_prior"))
    val teTok = test.select(col(id).as("id"), col(label).as("label_true"),
      explode(tokens(col(text))).as("w"))
    val scoredTok = teTok
      .crossJoin(broadcast(labels))
      .join(counts, Seq("lab", "w"), "left")
      .withColumn("_ll", grid12(log(
        (coalesce(d(col("c")), lit(0.0)) + lit(1.0)) /
          (d(col("n_lab")) + d(col("v"))))))
    val perDocLab = scoredTok
      .groupBy(col("id"), col("label_true"), col("lab"))
      .agg((sum(col("_ll")) + first(col("_prior"))).as("_score"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("_score").desc, col("lab"))
    perDocLab
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("label_true"), col("lab").as("label_pred"),
        (col("lab") === col("label_true")).as("correct"),
        round(col("_score").cast("double"), 6).as("score"))
      .orderBy(col("id"))
  }

  /** Per-group Jensen–Shannon divergence (bits) between each group's
    * unigram distribution and the REST of the corpus — the bounded
    * [0,1] drift readout that completes the distribution-shift battery
    * (PSI needs bins, KS is one-dimensional, EMD needs a metric; JSD
    * reads any discrete distribution, is symmetric, and never
    * divides by zero, so new-vocabulary mass — KL's failure mode —
    * contributes finitely).
    *
    * Sparse-lattice algebra: with p = term share in the group and q =
    * its share in the rest, terms absent from the group contribute 0
    * on the p-side and exactly q·log2(2) = q bits on the q-side, so
    * the whole q-side tail of terms the group never saw collapses to
    * ½·(1 − Σ_{t∈group} q_t) — the computation touches only the
    * OBSERVED (group × term) grid, never a dense group×vocab cross.
    *
    * Scale + portability: one corpus explode aggregates to the
    * (group, term) grid; term totals derive from the grid; p and q are
    * IEEE ratios of exact longs, each log2 term snaps to the 1e-12
    * grid and sums as exact DECIMALs. Output: (group, n_terms,
    * n_tokens, jsd_bits) ascending by group — 0 = identical mix,
    * 1 = disjoint vocabulary. */
  def jsDivergenceByGroup(docs: DataFrame, text: String,
      group: Column): DataFrame =
    jsDivergenceFromCounts(docs
      .select(group.as("g"), explode(tokens(col(text))).as("term"))
      .groupBy(col("g"), col("term"))
      .agg(count(lit(1)).as("c_gt"))
      .localCheckpoint())

  /** [[jsDivergenceByGroup]] over a pre-aggregated (g, term, c_gt)
    * grid — shared by the batch form and [[jsdMerged]] so the
    * streaming-maintained monitor reads the identical report. */
  def jsDivergenceFromCounts(gt: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def d(c: Column) = c.cast("double")
    def grid12(c: Column) = round(c, 12).cast(DecimalType(28, 12))
    val perGroup = gt.groupBy(col("g"))
      .agg(sum(col("c_gt")).as("t_g"), count(lit(1)).as("n_terms"))
    val perTerm = gt.groupBy(col("term")).agg(sum(col("c_gt")).as("c_t"))
    val total = gt.agg(sum(col("c_gt")).as("tt"))
    val scored = gt
      .join(perGroup, "g")
      .join(perTerm, "term")
      .crossJoin(broadcast(total))
      .withColumn("p", d(col("c_gt")) / d(col("t_g")))
      .withColumn("q",
        d(col("c_t") - col("c_gt")) / d(col("tt") - col("t_g")))
      // per observed term: ½p·log2(2p/(p+q)) + ½q·log2(2q/(p+q));
      // q = 0 (group-only term) drops the q half, p > 0 always here.
      // log2 spelled ln(x)/ln(2) so the oracle mirrors the exact same
      // IEEE composition (DuckDB's native log2 is a different code
      // path; ln is the one transcendental both engines agree on to
      // the last ulp in practice — the q133/q273 precedent)
      .withColumn("term_bits", grid12(
        lit(0.5) * col("p") *
          (log(lit(2.0) * col("p") / (col("p") + col("q"))) / log(lit(2.0))) +
        when(col("q") > 0, lit(0.5) * col("q") *
          (log(lit(2.0) * col("q") / (col("p") + col("q"))) / log(lit(2.0))))
          .otherwise(lit(0.0))))
      .groupBy(col("g"))
      .agg(max(col("n_terms")).as("n_terms"), max(col("t_g")).as("n_tokens"),
        sum(col("term_bits")).cast("double").as("_seen"),
        // the unseen-tail q mass: ½·(1 − Σ q over the group's terms)
        sum(grid12(col("q"))).cast("double").as("_qseen"))
    scored.select(col("g").as("grp"), col("n_terms"), col("n_tokens"),
        round(col("_seen") + lit(0.5) * (lit(1.0) - col("_qseen")), 6)
          .as("jsd_bits"))
      .orderBy(col("grp"))
  }

  /** Streaming twin of [[jsDivergenceByGroup]] — the standing drift
    * monitor form (psi/ks/emd ingests watch a NUMERIC column; this
    * watches the full unigram MIX per source): each micro-batch lands
    * its (g, term, c_gt) counts as an idempotent batch_id delta
    * partition (the [[termCountsIngest]] contract — replayed ids
    * rewrite their own partition, so crash-window redelivery is
    * exactly-once), and [[jsdMerged]] reads the folded grid through
    * the SAME [[jsDivergenceFromCounts]] the batch form uses, so
    * streamed == batch bit-for-bit. State is the observed
    * (source × term) grid — vocabulary-bounded, never corpus-bounded. */
  def jsdIngest(group: Column, text: String, prefix: String)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      graft.operators.Sketches.writeDelta(
        batch.select(group.as("g"), explode(tokens(col(text))).as("term"))
          .groupBy(col("g"), col("term")).agg(count(lit(1)).as("c_gt")),
        batchId, prefix)
    }

  /** The per-source JSD report over everything [[jsdIngest]] landed —
    * identical to [[jsDivergenceByGroup]] over the union of all
    * ingested batches. */
  def jsdMerged(spark: org.apache.spark.sql.SparkSession,
      prefix: String): DataFrame =
    jsDivergenceFromCounts(
      spark.table(s"${prefix}_deltas")
        .groupBy(col("g"), col("term")).agg(sum(col("c_gt")).as("c_gt"))
        .localCheckpoint())

  /** Zipf-law fit of the corpus rank–frequency curve — the one-row
    * corpus-health diagnostic (natural language sits near slope −1;
    * a flat slope flags boilerplate/template floods, a cliff flags
    * truncated or deduplicated-to-death text): OLS of ln(freq) on
    * ln(rank) over the top `topV` terms, reporting slope, intercept,
    * and R². One corpus explode collapses to the (term, c) grid; the
    * ranking window and the five OLS moments run over the top-V spine
    * only. Each ln snaps to the 1e-12 grid and the moments sum as
    * exact DECIMALs; slope/intercept/R² are IEEE expressions of those
    * exact moments (the q248 closed-form recipe). Output: one row
    * (n_terms, slope, intercept, r2). */
  def zipfFit(docs: DataFrame, text: String, topV: Int): DataFrame = {
    require(topV >= 3, "zipfFit: topV >= 3")
    import org.apache.spark.sql.types.DecimalType
    def d(c: Column) = c.cast("double")
    def grid12(c: Column) = round(c, 12).cast(DecimalType(28, 12))
    val counts = docs
      .select(explode(tokens(col(text))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("term"))
    val top = counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topV)
      .select(grid12(log(d(col("rk")))).as("x"),
        grid12(log(d(col("c")))).as("y"))
    val mom = top.agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(grid12(d(col("x")) * d(col("x")))).cast("double").as("sxx"),
      sum(grid12(d(col("x")) * d(col("y")))).cast("double").as("sxy"),
      sum(grid12(d(col("y")) * d(col("y")))).cast("double").as("syy"))
    val nn = d(col("n"))
    val cov = nn * col("sxy") - col("sx") * col("sy")
    val vx = nn * col("sxx") - col("sx") * col("sx")
    val vy = nn * col("syy") - col("sy") * col("sy")
    mom.select(col("n").as("n_terms"),
      round(cov / vx, 6).as("slope"),
      round((col("sy") - (cov / vx) * col("sx")) / nn, 6).as("intercept"),
      round(cov * cov / (vx * vy), 6).as("r2"))
  }

  /** Quantile normalization of a per-group value column onto the
    * POOLED distribution — the cross-source score-alignment primitive
    * (per-source quality scores are not comparable: source A's 0.7
    * may be source B's 0.9; mapping every source through its own CDF
    * onto the pooled quantiles makes one global threshold mean the
    * same thing everywhere — the microarray-normalization recipe
    * applied to corpus curation): each row's within-group
    * percent_rank indexes a `gridSize`-point pooled-quantile spine,
    * and the spine value at that index is the normalized score.
    *
    * Scale: the pooled spine materializes once as gridSize+1 rows
    * (broadcast); per-row work is a within-GROUP ranking window (the
    * group is the parallelism unit) + one broadcast equi-join on the
    * grid index — no global sort of the corpus, no big-big join.
    * Ranks are unique (id tiebreak), percent_rank is an IEEE ratio of
    * exact integers, and the grid index round is identical half-away
    * rounding in both engines. Output: (id, grp, value, norm_value)
    * ordered by id. */
  def quantileNormalize(df: DataFrame, id: String, group: Column,
      value: Column, gridSize: Int = 1024): DataFrame = {
    require(gridSize >= 2, "quantileNormalize: gridSize >= 2")
    def d(c: Column) = c.cast("double")
    val base = df.filter(group.isNotNull && value.isNotNull)
      .select(col(id).as("id"), group.as("grp"), value.as("v"))
    // pooled spine: global order with unique (v, id) tiebreak; grid
    // point g takes the value at position 1 + round(g·(n−1)/gridSize)
    val wPool = org.apache.spark.sql.expressions.Window
      .orderBy(col("v"), col("id"))
    val pooled = base
      .withColumn("rn", row_number().over(wPool))
      .select(col("rn"), col("v"))
      .localCheckpoint()
    val n = pooled.agg(count(lit(1)).as("n"))
    val grid = df.sparkSession.range(0, gridSize + 1)
      .select(col("id").cast("int").as("g"))
      .crossJoin(broadcast(n))
      .select(col("g"),
        (lit(1L) + round(d(col("g")) * (d(col("n")) - 1) / lit(gridSize.toDouble))
          .cast("long")).as("pos"))
    val spine = grid.join(pooled, col("pos") === col("rn"))
      .select(col("g").as("s_g"), col("v").as("norm_value"))
    val wGrp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"), col("id"))
    base
      .withColumn("pr", percent_rank().over(wGrp))
      .withColumn("gi", round(col("pr") * lit(gridSize.toDouble)).cast("int"))
      .join(broadcast(spine), col("gi") === col("s_g"))
      .select(col("id"), col("grp"), col("v").as("value"), col("norm_value"))
      .orderBy(col("id"))
  }

  /** Vocabulary churn between adjacent corpus periods — the
    * "is the language itself drifting?" readout that complements
    * [[jsDivergenceByGroup]] (JSD weighs the whole mix; churn asks
    * specifically whether the HEAD of the distribution turned over):
    * per period take the top-`topK` terms by (count desc, term), then
    * for each adjacent period pair report the overlap and Jaccard of
    * those two sets. One corpus explode to the (period, term) grid;
    * ranking windows partition per period; the pair join touches only
    * the 2·topK rows per pair. Output: (period_a, period_b, k,
    * n_common, jaccard) ascending — Jaccard of equal-size-k sets,
    * so jaccard = common/(2k − common). */
  def vocabChurn(docs: DataFrame, text: String, period: Column,
      topK: Int): DataFrame = {
    require(topK >= 1, "vocabChurn: topK >= 1")
    def d(c: Column) = c.cast("double")
    val tp = docs
      .select(period.cast("long").as("p"), explode(tokens(col(text))).as("term"))
      .groupBy(col("p"), col("term"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p")).orderBy(col("c").desc, col("term"))
    val top = tp.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("p"), col("term"))
      .localCheckpoint()
    val sizes = top.groupBy(col("p")).agg(count(lit(1)).as("kk"))
    val a = top.select(col("p").as("pa"), col("term"))
      .join(sizes.select(col("p").as("pa"), col("kk").as("ka")), "pa")
    val b = top.select(col("p").as("pb"), col("term"))
      .join(sizes.select(col("p").as("pb"), col("kk").as("kb")), "pb")
    a.join(b, col("pb") === col("pa") + 1 && a("term") === b("term"))
      .groupBy(col("pa").as("period_a"), col("pb").as("period_b"))
      .agg(max(col("ka")).as("ka"), max(col("kb")).as("kb"),
        count(lit(1)).as("n_common"))
      .select(col("period_a"), col("period_b"),
        col("ka").as("k"), col("n_common"),
        (d(col("n_common")) /
          d(col("ka") + col("kb") - col("n_common"))).as("jaccard"))
      .orderBy(col("period_a"))
  }
}
