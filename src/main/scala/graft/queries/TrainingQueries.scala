package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.operators.{Features, TextAnalysis}
import graft.functions.TextFunctions.{md5U52, tokens, windowMd5s}

/** Training-data curation queries over `documents.parquet`: benchmark
  * decontamination, deterministic epoch mixing, repetition signals,
  * and token-aware shard packing — the corpus-preparation stages that
  * sit between dedup/quality filtering and the trainer, generalizing
  * the reference's content-keyed sampling the way the BASELINE north
  * star requires.
  */
object TrainingQueries {

  /** DuckDB: md5 content-hash bucket 0..99 (mirror of TextAnalysis.hashBucket). */
  private val Bucket = "CAST(concat('0x', substr(md5(text), 1, 4)) AS INT) % 100"
  /** DuckDB: distinct 3-word shingles (mirrors TextFunctions.shingles). */
  private val W = "string_split(text, ' ')"
  private val Shingles3 =
    s"list_distinct(list_transform(range(1, len($W) - 1), i -> $W[i] || ' ' || $W[i+1] || ' ' || $W[i+2]))"

  /** q104's trained quality filter: `docs` scored by
    * [[TextAnalysis.qualityClassifier]] over three length features,
    * 4 steps at lr 0.125, y = `label` (doc, y, score, pred). The oracle
    * twin is [[OracleGen.qualityScoredCtes]]. */
  private[queries] def qualityScored(docs: DataFrame,
      label: Column = length(col("text")) > 300): DataFrame = {
    val nTok = size(tokens(col("text")))
    TextAnalysis.qualityClassifier(docs, "doc_id",
      features = Seq(
        "x1" -> (nTok / lit(64.0)),
        "x2" -> (size(array_distinct(tokens(col("text")))) / nTok),
        "x3" -> (length(col("text")) / nTok)),
      label = label.cast("double"),
      iters = 4, lr = 0.125)
  }

  /** The decontamination split of q54: (corpus, benchmark) = the
    * documents whose md5 bucket is below 97, and the rest. */
  private def benchSplit(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
      .withColumn("bucket", TextAnalysis.hashBucket(col("text")))
    (docs.filter(col("bucket") < 97), docs.filter(col("bucket") >= 97))
  }

  /** The Bloom probe of q85 and q94: benchmark shingles into a
    * 16384-bit, 3-hash filter (`bpos`), each corpus doc's shingles that
    * hit all 3 bits (`bloomhit`) and their count (`nb`). */
  private val SqlBloomHits = s"""d AS (
          SELECT doc_id, text, $Bucket AS bucket FROM documents
        ), bsh AS (
          SELECT DISTINCT unnest($Shingles3) AS sh FROM d WHERE bucket >= 97
        ), bpos AS (
          SELECT DISTINCT (h1 + j.range * h2) % 16384 AS p
          FROM (SELECT CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h1,
                       CAST(concat('0x', substr(md5(sh), 9, 8)) AS BIGINT) AS h2
                FROM bsh), range(0, 3) j
        ), tr AS (
          SELECT doc_id, unnest($Shingles3) AS sh FROM d WHERE bucket < 97
        ), trpos AS (
          SELECT doc_id, sh, (h1 + j.range * h2) % 16384 AS p
          FROM (SELECT doc_id, sh,
                       CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h1,
                       CAST(concat('0x', substr(md5(sh), 9, 8)) AS BIGINT) AS h2
                FROM tr), range(0, 3) j
        ), bloomhit AS (
          SELECT doc_id, sh FROM trpos JOIN bpos USING (p)
          GROUP BY doc_id, sh HAVING COUNT(*) = 3
        ), nb AS (
          SELECT doc_id, COUNT(*) AS n_bloom FROM bloomhit GROUP BY doc_id
        )"""

  def all: Seq[(String, Q)] = Seq(

    // ---- q54: benchmark decontamination -----------------------------------
    "q54_decontaminate" -> Q(
      (s, d) => {
        val (corpus, bench) = benchSplit(s, d)
        TextAnalysis.decontaminate(corpus, bench, "doc_id", "text", n = 3)
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, text, $Bucket AS bucket FROM documents
        ), b AS (
          SELECT DISTINCT unnest($Shingles3) AS sh FROM d WHERE bucket >= 97
        ), tr AS (
          SELECT doc_id, unnest($Shingles3) AS sh FROM d WHERE bucket < 97
        ), sizes AS (
          -- sizes come from the DOCUMENT relation, not the unnested
          -- shingle stream: a doc shorter than n words has zero shingles
          -- and would otherwise vanish from the oracle while the engine
          -- emits it with n_sh = 0
          SELECT doc_id, len($Shingles3) AS n_sh FROM d WHERE bucket < 97
        ), hits AS (
          SELECT tr.doc_id, COUNT(*) AS n_hits FROM tr JOIN b USING (sh)
          GROUP BY tr.doc_id
        )
        SELECT s.doc_id, CAST(s.n_sh AS INT) AS n_sh,
               COALESCE(h.n_hits, 0) AS n_hits,
               CASE WHEN s.n_sh > 0
                    THEN CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / s.n_sh
                    ELSE 0.0 END AS overlap_frac
        FROM sizes s LEFT JOIN hits h USING (doc_id)
        ORDER BY doc_id"""),
      "Decontamination sweep: corpus×benchmark shingle overlap as an " +
        "8-byte-hash equi-join; benchmark side broadcast by AQE stats."),

    // ---- q55: deterministic epoch mixing -----------------------------------
    "q55_mix_epochs" -> Q(
      (s, d) => TextAnalysis.mixEpochs(Tables.documents(s, d), "text",
          ratesPct = Map("src0" -> 250, "src1" -> 20, "src2" -> 140),
          defaultPct = 100)
        .select(col("doc_id"), col("source"), col("bucket"),
          col("n_copies"), col("copy"))
        .orderBy(col("doc_id"), col("copy")),
      Some(s"""
        WITH d AS (
          SELECT doc_id, source, $Bucket AS bucket,
            CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 20
                        WHEN 'src2' THEN 140 ELSE 100 END AS rate
          FROM documents
        ), c AS (
          SELECT doc_id, source, bucket,
                 rate // 100 + CASE WHEN bucket < rate % 100 THEN 1 ELSE 0 END AS n_copies
          FROM d
        )
        SELECT doc_id, source, bucket, n_copies,
               CAST(unnest(range(1, n_copies + 1)) AS INT) AS copy
        FROM c WHERE n_copies >= 1
        ORDER BY doc_id, copy"""),
      "Fractional-epoch source mixing keyed by content hash: 2.5 epochs " +
        "= 2 copies + content-chosen half; projection+explode, no shuffle."),

    // ---- q56: repetition signals (Gopher-style) -----------------------------
    "q56_repetition" -> Q(
      (s, d) => TextAnalysis.repetitionStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some(s"""
        WITH t AS (
          SELECT doc_id, $W AS w FROM documents
        ), stats AS (
          SELECT doc_id, CAST(len(w) AS INT) AS n_tokens,
                 CAST(len(list_distinct(w)) AS INT) AS n_uniq
          FROM t
        ), bg AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram
          FROM t
        ), cnt AS (
          SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2
        ), top AS (
          SELECT doc_id, bigram, cnt,
                 row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bigram) AS rn
          FROM cnt
        )
        SELECT s.doc_id, s.n_tokens, s.n_uniq,
               CAST(1 AS DOUBLE) - CAST(s.n_uniq AS DOUBLE) / s.n_tokens AS dup_token_frac,
               t2.bigram AS top_bigram, t2.cnt AS top_bigram_cnt,
               CAST(t2.cnt AS DOUBLE) * 2 / s.n_tokens AS top_bigram_frac
        FROM stats s LEFT JOIN (SELECT * FROM top WHERE rn = 1) t2 USING (doc_id)
        ORDER BY s.doc_id"""),
      "Duplicate-token and top-bigram fractions; posexplode+lead dodges " +
        "the CollapseProject O(words²) lambda re-inlining."),

    // ---- q57: token-aware shard packing -------------------------------------
    "q57_pack_shards" -> Q(
      (s, d) => TextAnalysis.packShards(Tables.documents(s, d), "doc_id", "text",
          by = "source", budgetTokens = 500L)
        .orderBy(col("doc_id")),
      Some(s"""
        WITH t AS (
          SELECT doc_id, source, CAST(len($W) AS BIGINT) AS n_tokens FROM documents
        ), o AS (
          SELECT doc_id, source, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
          FROM t
        )
        SELECT doc_id, source, n_tokens, start_offset,
               start_offset // 500 AS shard
        FROM o ORDER BY doc_id"""),
      "Greedy token-budget shard assignment from a per-source running " +
        "sum — parallel across sources, deterministic on any cluster."),

    // ---- q58: stratified per-source cap -------------------------------------
    "q58_stratified_cap" -> Q(
      (s, d) => TextAnalysis.stratifiedCap(Tables.documents(s, d), "doc_id", "text",
          by = "source", cap = 15)
        .orderBy(col("doc_id")),
      Some(s"""
        WITH d AS (
          SELECT doc_id, source, $Bucket AS bucket FROM documents
        ), r AS (
          SELECT doc_id, source, bucket,
                 ROW_NUMBER() OVER (PARTITION BY source, bucket ORDER BY doc_id) AS rnb
          FROM d
        ), h AS (
          SELECT source, bucket, COUNT(*) AS c FROM d GROUP BY 1, 2
        ), o AS (
          SELECT source, bucket,
                 CAST(COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
          FROM h
        )
        SELECT r.doc_id, r.source, r.bucket, r.rnb + o.off AS rnk
        FROM r JOIN o USING (source, bucket)
        WHERE r.rnb + o.off <= 15
        ORDER BY r.doc_id"""),
      "Per-source corpus cap as a two-level distributed rank: " +
        "row_number within (source, content-bucket) + broadcast " +
        "cumulative offsets — no single-task per-source sort."),

    // ---- q62: duplicated n-gram coverage ------------------------------------
    "q62_dup_span_coverage" -> Q(
      (s, d) => TextAnalysis.dupShingleCoverage(Tables.documents(s, d),
          "doc_id", "text", n = 3)
        .orderBy(col("doc_id")),
      Some(s"""
        WITH d AS (
          SELECT doc_id, $Shingles3 AS shs FROM documents
        ), sh AS (
          SELECT doc_id, unnest(shs) AS sh FROM d
        ), dup AS (
          SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) >= 2
        ), sizes AS (
          SELECT doc_id, CAST(len(shs) AS INT) AS n_sh FROM d
        ), hits AS (
          SELECT sh.doc_id, COUNT(*) AS n_dup FROM sh JOIN dup USING (sh)
          GROUP BY sh.doc_id
        )
        SELECT s.doc_id, s.n_sh, COALESCE(h.n_dup, 0) AS n_dup,
               CASE WHEN s.n_sh > 0
                    THEN CAST(COALESCE(h.n_dup, 0) AS DOUBLE) / s.n_sh
                    ELSE 0.0 END AS dup_frac
        FROM sizes s LEFT JOIN hits h USING (doc_id)
        ORDER BY doc_id"""),
      "Corpus-duplicated n-gram coverage per doc: count>=2 over 8-byte " +
        "shingle hashes + equi-rejoin — span-granular dedup signal with " +
        "no pair enumeration at all."),

    // ---- q63: global shard packing (distributed prefix sum) -----------------
    "q63_pack_global" -> Q(
      (s, d) => TextAnalysis.packShardsGlobal(Tables.documents(s, d), "doc_id", "text",
          by = "source", budgetTokens = 500L)
        .orderBy(col("doc_id")),
      Some(s"""
        WITH t AS (
          SELECT doc_id, source, CAST(len($W) AS BIGINT) AS n_tokens FROM documents
        ), l AS (
          SELECT doc_id, source, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS local_offset
          FROM t
        ), b AS (
          SELECT source,
                 CAST(COALESCE(SUM(tot) OVER (ORDER BY source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base
          FROM (SELECT source, SUM(n_tokens) AS tot FROM t GROUP BY source)
        )
        SELECT l.doc_id, l.source, l.n_tokens,
               l.local_offset + b.base AS start_offset,
               (l.local_offset + b.base) // 500 AS shard
        FROM l JOIN b USING (source)
        ORDER BY doc_id"""),
      "Global continuous shard offsets with NO global sort: per-stratum " +
        "windows + broadcast stratum base offsets (two-level " +
        "distributed prefix sum)."),

    // ---- q64: unigram LM quality score (perplexity proxy) -------------------
    "q64_unigram_lm" -> Q(
      (s, d) => TextAnalysis.unigramLmScore(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest($W) AS term FROM documents
        ), tf AS (
          SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
        ), tot AS (
          SELECT SUM(cnt) AS total FROM tf
        )
        SELECT doc_id, COUNT(*) AS n_tokens,
               round(CAST(SUM(CAST(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                 AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 6) AS avg_neg_logp
        FROM tok JOIN tf USING (term) CROSS JOIN tot
        GROUP BY doc_id
        ORDER BY doc_id"""),
      "Perplexity-proxy quality filter: avg -ln p(token) under the " +
        "corpus unigram LM; inverted-index shape with AQE-broadcast " +
        "vocabulary and order-independent decimal accumulation."),

    // ---- q68: materialize packed shards -------------------------------------
    "q68_build_shards" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val packed = TextAnalysis.packShardsGlobal(docs, "doc_id", "text",
          by = "source", budgetTokens = 500L)
        // global offsets => shard identity is the shard id ALONE (a
        // boundary shard can span two sources; grouping by source too
        // would fragment it)
        TextAnalysis.buildShards(packed, docs, "doc_id", "text", keyCols = Seq("shard"))
          .select(col("shard"), col("n_docs"), col("n_tokens"),
            md5(col("shard_text")).as("text_md5"),
            length(col("shard_text")).as("n_chars"))
          .orderBy(col("shard"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, source, text, CAST(len($W) AS BIGINT) AS n_tokens FROM documents
        ), l AS (
          SELECT doc_id, source, text, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS local_offset
          FROM t
        ), b AS (
          SELECT source,
                 CAST(COALESCE(SUM(tot) OVER (ORDER BY source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base
          FROM (SELECT source, SUM(n_tokens) AS tot FROM t GROUP BY source)
        ), p AS (
          SELECT l.doc_id, l.source, l.text, l.n_tokens,
                 l.local_offset + b.base AS start_offset,
                 (l.local_offset + b.base) // 500 AS shard
          FROM l JOIN b USING (source)
        )
        SELECT shard, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               md5(string_agg(text, ' ' ORDER BY start_offset)) AS text_md5,
               CAST(strlen(string_agg(text, ' ' ORDER BY start_offset)) AS INT) AS n_chars
        FROM p GROUP BY shard
        ORDER BY shard"""),
      "Shard materialization: offset-ordered concat per shard via " +
        "collect_list + array_sort (one shard-key shuffle, no sort " +
        "exchange); shard size bounded by the packer's budget."),

    // ---- q70: composed curation pipeline ------------------------------------
    "q70_curated_corpus" -> Q(
      (s, d) => {
        import graft.functions.TextFunctions.{stopwordCount, tokens}
        val w = tokens(col("text"))
        // single projection pass computes every per-doc gate; the only
        // shuffle is the exact-dedup canonical pick (16-byte digests)
        val stats = Tables.documents(s, d).select(
          col("doc_id"),
          md5(col("text")).as("h"),
          size(w).as("n_tokens"),
          (size(array_distinct(w)).cast("double") / size(w)).as("ttr"),
          (stopwordCount(col("text"), Seq("the", "a")).cast("double") / size(w)).as("stop_ratio"),
          TextAnalysis.piiHits(col("text")).as("pii_hits"))
        val canon = stats.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
        stats.join(canon, Seq("h"))
          .filter(col("doc_id") === col("keep_id") &&
            col("n_tokens") >= 20 && col("ttr") >= 0.5 &&
            col("pii_hits") === 0 && col("stop_ratio") > 0)
          .select(col("doc_id"), col("n_tokens"), col("ttr"), col("stop_ratio"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH st AS (
          SELECT doc_id, md5(text) AS h,
            CAST(len($W) AS INT) AS n_tokens,
            CAST(len(list_distinct($W)) AS DOUBLE) / len($W) AS ttr,
            CAST(len(list_filter($W, t -> t = 'the' OR t = 'a')) AS DOUBLE)
              / len($W) AS stop_ratio,
            CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
               + len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))
               + len(regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS INT) AS pii_hits
          FROM documents
        ), c AS (
          SELECT h, MIN(doc_id) AS keep_id FROM st GROUP BY h
        )
        SELECT st.doc_id, st.n_tokens, st.ttr, st.stop_ratio
        FROM st JOIN c ON st.h = c.h AND st.doc_id = c.keep_id
        WHERE st.n_tokens >= 20 AND st.ttr >= 0.5
          AND st.pii_hits = 0 AND st.stop_ratio > 0
        ORDER BY st.doc_id"""),
      "End-to-end curation in one query: quality gates + PII gate + " +
        "exact-dedup canonical keep — every gate a projection, one " +
        "digest shuffle total; the composition a real corpus pipeline " +
        "runs before packing."),

    // ---- q79: context-window chunking ------------------------------------
    "q79_chunk_docs" -> Q(
      (s, d) => TextAnalysis.chunkDocs(Tables.documents(s, d), "doc_id", "text",
          chunkSize = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx"),
          md5(col("chunk")).as("chunk_md5"), col("n_chunk_words"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some(s"""
        WITH w AS (SELECT doc_id, $W AS w FROM documents),
        c AS (
          SELECT doc_id, w,
                 CASE WHEN len(w) <= 64 THEN 1
                      ELSE (len(w) - 64 + 48 - 1) // 48 + 1 END AS nc
          FROM w
        ), ex AS (
          SELECT doc_id, w, unnest(range(0, nc)) AS i FROM c
        )
        SELECT doc_id, CAST(i AS INT) AS chunk_idx,
               md5(array_to_string(w[(i*48+1):least(i*48+64, len(w))], ' ')) AS chunk_md5,
               CAST(len(w[(i*48+1):least(i*48+64, len(w))]) AS INT) AS n_chunk_words
        FROM ex
        ORDER BY doc_id, chunk_idx"""),
      "Context-window chunking (64-word windows every 48 words): the " +
        "doc->training-row expansion as one native single-pass " +
        "projection + explode, no shuffle; chunk text digests " +
        "hash-checked."),

    // ---- q81: temperature mixture reweighting ----------------------------
    "q81_mixture_weights" -> Q(
      (s, d) => TextAnalysis.mixtureWeights(Tables.documents(s, d), "source",
          budget = 1000000L)
        .orderBy(col("source")),
      Some("""
        WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        z AS (SELECT list_aggregate(list_sort(list(sqrt(n_docs))), 'sum') AS z FROM c)
        SELECT source, n_docs,
               round(sqrt(n_docs) / z, 6) AS weight,
               CAST(round(1000000 * (sqrt(n_docs) / z)) AS BIGINT) AS quota
        FROM c, z
        ORDER BY source"""),
      "Alpha=0.5 temperature mixture: sqrt-count source weights " +
        "(sqrt chosen over pow: correctly rounded in every IEEE " +
        "engine) with a deterministic sorted-fold normalizer; " +
        "per-source quotas for a 1M-doc mixed corpus."),

    // ---- q84: BPE-style merge-pair statistics -----------------------------
    "q84_merge_pairs" -> Q(
      (s, d) => TextAnalysis.mergePairStats(Tables.documents(s, d), "text", k = 100),
      Some(s"""
        WITH bg AS (
          SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS pair
          FROM (SELECT $W AS w FROM documents)
        ), c AS (SELECT pair, COUNT(*) AS cnt FROM bg GROUP BY pair)
        SELECT pair, cnt,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS INT) AS rank
        FROM c ORDER BY cnt DESC, pair LIMIT 100"""),
      "Tokenizer-training merge statistics: top-100 adjacent word " +
        "pairs; native non-distinct 2-shingles (projection) + one " +
        "map-side-combined count + TakeOrderedAndProject — no global " +
        "sort at any corpus size."),

    // ---- q85: Bloom-filter decontamination (sketch + exact audit) ---------
    "q85_bloom_decontaminate" -> Q(
      (s, d) => {
        val (corpus, bench) = benchSplit(s, d)
        graft.operators.Sketches.bloomDecontaminate(corpus, bench,
            "doc_id", "text", n = 3, mBits = 16384, kHashes = 3)
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH $SqlBloomHits, ne AS (
          SELECT tr.doc_id, COUNT(*) AS n_exact FROM tr JOIN bsh USING (sh)
          GROUP BY tr.doc_id
        ), sizes AS (
          -- per-document, covering zero-shingle docs (see q54 note)
          SELECT doc_id, len($Shingles3) AS n_sh FROM d WHERE bucket < 97
        )
        SELECT s.doc_id, CAST(s.n_sh AS INT) AS n_sh,
               CAST(COALESCE(nb.n_bloom, 0) AS INT) AS n_bloom,
               CAST(COALESCE(ne.n_exact, 0) AS BIGINT) AS n_exact,
               CAST(COALESCE(nb.n_bloom, 0) - COALESCE(ne.n_exact, 0) AS BIGINT) AS n_false_pos
        FROM sizes s
        LEFT JOIN nb USING (doc_id)
        LEFT JOIN ne USING (doc_id)
        ORDER BY s.doc_id"""),
      "Portable Bloom decontamination: md5 Kirsch-Mitzenmacher bits, " +
        "16384-bit filter, corpus probe as a zero-shuffle projection; " +
        "exact equi-join rides along as the false-positive audit — " +
        "sketch internals hash-proved like q82/q83."),

    // ---- q94: Bloom decontamination, production form (no audit arm) -------
    "q94_bloom_scan" -> Q(
      (s, d) => {
        val (corpus, bench) = benchSplit(s, d)
        // audit = false: the corpus side is a pure projection — zero
        // corpus shuffles (the q85 twin keeps the exact audit arm; this
        // registers the shape a 100 TB run actually executes, and the
        // oracle still recomputes the whole filter + probe from md5)
        graft.operators.Sketches.bloomDecontaminate(corpus, bench,
            "doc_id", "text", n = 3, mBits = 16384, kHashes = 3, audit = false)
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH $SqlBloomHits, sizes AS (
          SELECT doc_id, len($Shingles3) AS n_sh FROM d WHERE bucket < 97
        )
        SELECT s.doc_id, CAST(s.n_sh AS INT) AS n_sh,
               CAST(COALESCE(nb.n_bloom, 0) AS INT) AS n_bloom
        FROM sizes s LEFT JOIN nb USING (doc_id)
        ORDER BY s.doc_id"""),
      "Production Bloom decontamination (audit off): the corpus-side " +
        "scan is a zero-shuffle projection against the broadcast " +
        "filter literal — the shape that makes 100 TB decontamination " +
        "a scan, not a job; filter AND probe still hash-proved."),

    // ---- q95: count-min, production form (estimate only) ------------------
    "q95_countmin_scan" -> Q(
      (s, d) => {
        import graft.functions.TextFunctions.tokens
        val tok = Tables.documents(s, d)
          .select(explode(tokens(col("text"))).as("term"))
        graft.operators.Sketches.countMinFrequencies(tok, "term",
            w = 32, d = 4, audit = false)
          .orderBy(col("term"))
      },
      Some(s"""
        WITH tok AS (
          SELECT unnest($W) AS term FROM documents
        ), cells AS (
          SELECT i.range AS row, (h1 + i.range * h2) % 32 AS pos
          FROM (SELECT CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT) AS h1,
                       CAST(concat('0x', substr(md5(term), 9, 8)) AS BIGINT) AS h2
                FROM tok), range(0, 4) i
        ), counters AS (
          SELECT row, pos, COUNT(*) AS c FROM cells GROUP BY row, pos
        ), vals AS (
          SELECT DISTINCT term FROM tok
        ), probe AS (
          SELECT term, i.range AS row, (h1 + i.range * h2) % 32 AS pos
          FROM (SELECT term,
                       CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT) AS h1,
                       CAST(concat('0x', substr(md5(term), 9, 8)) AS BIGINT) AS h2
                FROM vals), range(0, 4) i
        )
        SELECT term, MIN(c) AS cms_estimate
        FROM probe JOIN counters USING (row, pos)
        GROUP BY term ORDER BY term"""),
      "Production count-min (audit off): one bounded d*w counter " +
        "shuffle + a distinct probe — the fixed-memory frequency " +
        "stand-in actually run at scale, estimates still hash-proved."),

    // ---- q96: count-min point probe (the production query shape) ----------
    "q96_countmin_probe" -> Q(
      (s, dir) => {
        import graft.functions.TextFunctions.tokens
        val tok = Tables.documents(s, dir)
          .select(explode(tokens(col("text"))).as("term"))
        val counters =
          graft.operators.Sketches.countMinCounters(tok, "term", 1024, 4)
        import s.implicits._
        // supplied query set: frequent terms, the rare 'dup' marker, and
        // an out-of-vocabulary probe ('quantize' never occurs) — at
        // w=1024 its cells are almost surely empty, exercising the
        // missing-cell => 0 path the full-enumeration form never hits
        val qs = Seq("join", "hash", "stream", "dup", "window", "quantize")
          .toDF("term")
        graft.operators.Sketches.countMinProbe(counters, qs, "term", 1024, 4)
          .orderBy(col("term"))
      },
      Some(s"""
        WITH tok AS (
          SELECT unnest($W) AS term FROM documents
        ), cells AS (
          SELECT i.range AS row, (h1 + i.range * h2) % 1024 AS pos
          FROM (SELECT CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT) AS h1,
                       CAST(concat('0x', substr(md5(term), 9, 8)) AS BIGINT) AS h2
                FROM tok), range(0, 4) i
        ), counters AS (
          SELECT row, pos, COUNT(*) AS c FROM cells GROUP BY row, pos
        ), q AS (
          SELECT unnest(['join', 'hash', 'stream', 'dup', 'window', 'quantize']) AS term
        ), probe AS (
          SELECT term, i.range AS row, (h1 + i.range * h2) % 1024 AS pos
          FROM (SELECT term,
                       CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT) AS h1,
                       CAST(concat('0x', substr(md5(term), 9, 8)) AS BIGINT) AS h2
                FROM q), range(0, 4) i
        )
        SELECT term, MIN(COALESCE(c, 0)) AS cms_estimate
        FROM probe LEFT JOIN counters USING (row, pos)
        GROUP BY term ORDER BY term"""),
      "Count-min point probe: ONE bounded counter build, then " +
        "estimates for a supplied query set via broadcast lookups — " +
        "zero corpus-side shuffle after the build, the shape that " +
        "makes a 100 TB frequency question a lookup, not a job."),

    // ---- q88: vocabulary OOV-rate QA --------------------------------------
    "q88_oov_rate" -> Q(
      (s, d) => TextAnalysis.oovStats(Tables.documents(s, d), "doc_id", "text",
          vocabSize = 20)
        .orderBy(col("doc_id")),
      Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest($W) AS term FROM documents
        ), v AS (
          SELECT term FROM (
            SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
            ORDER BY cnt DESC, term LIMIT 20)
        )
        SELECT tok.doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
               CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) AS oov_frac
        FROM tok LEFT JOIN v ON tok.term = v.term
        GROUP BY tok.doc_id
        ORDER BY tok.doc_id"""),
      "Tokenizer-coverage QA: per-doc out-of-vocabulary rate against " +
        "the corpus top-20 vocabulary — TakeOrdered vocab cut + " +
        "AQE-broadcast rejoin."),

    // ---- q90: portable count-min sketch over token frequencies ------------
    "q90_countmin_tokens" -> Q(
      (s, d) => {
        import graft.functions.TextFunctions.tokens
        val tok = Tables.documents(s, d)
          .select(explode(tokens(col("text"))).as("term"))
        // w deliberately small (32 cells x 4 rows vs a 31-term vocab) so
        // collisions actually occur and the overcount audit is exercised
        graft.operators.Sketches.countMinFrequencies(tok, "term", w = 32, d = 4)
          .orderBy(col("term"))
      },
      Some(s"""
        WITH tok AS (
          SELECT unnest($W) AS term FROM documents
        ), cells AS (
          SELECT i.range AS row, (h1 + i.range * h2) % 32 AS pos
          FROM (SELECT CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT) AS h1,
                       CAST(concat('0x', substr(md5(term), 9, 8)) AS BIGINT) AS h2
                FROM tok), range(0, 4) i
        ), counters AS (
          SELECT row, pos, COUNT(*) AS c FROM cells GROUP BY row, pos
        ), ex AS (
          SELECT term, COUNT(*) AS exact_cnt FROM tok GROUP BY term
        ), probe AS (
          SELECT term, exact_cnt, i.range AS row, (h1 + i.range * h2) % 32 AS pos
          FROM (SELECT term, exact_cnt,
                       CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT) AS h1,
                       CAST(concat('0x', substr(md5(term), 9, 8)) AS BIGINT) AS h2
                FROM ex), range(0, 4) i
        ), est AS (
          SELECT term, exact_cnt, MIN(c) AS cms_estimate
          FROM probe JOIN counters USING (row, pos)
          GROUP BY term, exact_cnt
        )
        SELECT term, cms_estimate, exact_cnt,
               cms_estimate - exact_cnt AS overcount
        FROM est ORDER BY term"""),
      "Count-min sketch on md5-derived cells: d*w integer counters " +
        "whatever the corpus size, order-independent merges, estimate " +
        "never undercounts — sketch internals hash-proved, exact " +
        "counts ride along as the overcount audit."),

    // ---- q91: vocabulary-id encoding (input_ids) ---------------------------
    "q91_input_ids" -> Q(
      (s, d) => TextAnalysis.tokensToIds(Tables.documents(s, d), "doc_id", "text",
          vocabSize = 20)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          concat_ws(",", col("ids").cast("array<string>")).as("ids_csv"))
        .orderBy(col("doc_id")),
      Some(s"""
        WITH tok AS (
          SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
          FROM (SELECT doc_id, $W AS w FROM documents)
        ), vc AS (
          SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS INT) AS tid
          FROM (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
                ORDER BY cnt DESC, term LIMIT 20)
        )
        SELECT tok.doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN vc.tid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
               array_to_string(list(COALESCE(vc.tid, 0) ORDER BY pos), ',') AS ids_csv
        FROM tok LEFT JOIN vc USING (term)
        GROUP BY tok.doc_id
        ORDER BY tok.doc_id"""),
      "Tokenize-to-input_ids: frequency-ranked top-20 vocabulary, OOV " +
        "id 0, order-safe sequence reassembly — the id streams are " +
        "hash-proved end to end."),

    // ---- q92: dataloader endpoint — fixed-width training rows -------------
    "q92_training_rows" -> Q(
      (s, d) => TextAnalysis.packTrainingRows(Tables.documents(s, d),
          "doc_id", "text", by = "source", vocabSize = 20,
          budgetTokens = 500L, seqLen = 64)
        .select(col("shard"), col("row_idx"), col("n_ids"),
          concat_ws(",", col("ids").cast("array<string>")).as("ids_csv"))
        .orderBy(col("shard"), col("row_idx")),
      Some(s"""
        WITH tok AS (
          SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
          FROM (SELECT doc_id, $W AS w FROM documents)
        ), vc AS (
          SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS INT) AS tid
          FROM (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
                ORDER BY cnt DESC, term LIMIT 20)
        ), ids AS (
          SELECT tok.doc_id, list(COALESCE(vc.tid, 0) ORDER BY pos) AS ids
          FROM tok LEFT JOIN vc USING (term) GROUP BY tok.doc_id
        ), t AS (
          SELECT doc_id, source, CAST(len($W) AS BIGINT) AS n_tokens FROM documents
        ), l AS (
          SELECT doc_id, source, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS local_offset
          FROM t
        ), b AS (
          SELECT source,
                 CAST(COALESCE(SUM(tot) OVER (ORDER BY source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base
          FROM (SELECT source, SUM(n_tokens) AS tot FROM t GROUP BY source)
        ), p AS (
          SELECT l.doc_id, l.local_offset + b.base AS start_offset,
                 (l.local_offset + b.base) // 500 AS shard
          FROM l JOIN b USING (source)
        ), sh AS (
          SELECT p.shard, flatten(list(ids.ids ORDER BY p.start_offset)) AS all_ids
          FROM p JOIN ids USING (doc_id) GROUP BY p.shard
        ), ex AS (
          SELECT shard, all_ids,
                 unnest(range(0, CAST(ceil(len(all_ids) / 64.0) AS BIGINT))) AS row_idx
          FROM sh
        ), r AS (
          SELECT shard, row_idx,
                 all_ids[(row_idx * 64 + 1):least((row_idx + 1) * 64, len(all_ids))] AS r
          FROM ex
        )
        SELECT shard, CAST(row_idx AS INT) AS row_idx,
               CAST(len(r) AS INT) AS n_ids,
               array_to_string(r, ',') AS ids_csv
        FROM r ORDER BY shard, row_idx"""),
      "The dataloader endpoint: shard-packed documents concatenated in " +
        "offset order and windowed into 64-id training rows — id " +
        "encoding, packing and windowing all hash-proved; per-shard " +
        "work bounded by the packer's token budget."),

    // ---- q102: BPE tokenizer training (iterative merge table) -------------
    "q102_bpe_merges" -> Q(
      (s, dir) => TextAnalysis.bpeMerges(Tables.documents(s, dir),
          "doc_id", "text", merges = 8)
        .orderBy(col("it")),
      Some(s"""
        WITH ${OracleGen.bpeCtes("b", "documents", 8, "@@")}
        fin AS (SELECT it, lhs, rhs, cnt FROM bmerges)
        SELECT * FROM fin ORDER BY it"""),
      "An ITERATIVE BPE tokenizer trainer hash-proved against DuckDB: " +
        "each round counts adjacent pairs over the corpus as rewritten " +
        "by previous rounds (argmax ties break lexicographically) and " +
        "rewrites via a portable greedy triple-replace. Model state is " +
        "the merge list (driver-sized); one map-side-combined pair " +
        "count + TakeOrdered(1) + a projection per round — zero data " +
        "shuffles at any corpus size."),

    // ---- q103: BPE-encoded corpus (the applied form) ----------------------
    "q103_bpe_encode" -> Q(
      (s, dir) => TextAnalysis.bpeEncode(Tables.documents(s, dir),
          "doc_id", "text", merges = 8)
        .orderBy(col("doc")),
      Some(s"""
        WITH ${OracleGen.bpeCtes("b", "documents", 8, "@@")}
        fin AS (
          SELECT doc_id AS doc,
                 CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens,
                 md5(t) AS bpe_md5
          FROM bt8)
        SELECT * FROM fin ORDER BY doc"""),
      "The corpus encoded by the trained 8-merge BPE model: per-doc " +
        "post-merge token count and the md5 of the encoded bytes — the " +
        "digest proves every greedy rewrite (including back-to-back " +
        "overlaps) matched the oracle byte-for-byte. Application is a " +
        "pure projection."),

    // ---- q251: tokenizer fertility report ----------------------------------
    "q251_tokenizer_fertility" -> Q(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val enc = TextAnalysis.bpeEncode(docs, "doc_id", "text", merges = 8)
          .select(col("doc").as("doc_id"), col("n_tokens"))
        docs.select(col("doc_id"), col("source"),
            length(col("text")).cast("long").as("n_chars"))
          .join(enc, Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(col("n_chars")).as("n_chars"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("n_chars"),
            (col("n_chars").cast("double") / col("n_tokens").cast("double"))
              .as("chars_per_token"),
            (col("n_tokens").cast("double") / col("n_docs").cast("double"))
              .as("tokens_per_doc"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH ${OracleGen.bpeCtes("b", "documents", 8, "@@")}
        enc AS (
          SELECT doc_id, CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens
          FROM bt8),
        j AS (
          SELECT d.source, e.n_tokens,
                 CAST(length(d.text) AS BIGINT) AS n_chars
          FROM documents d JOIN enc e ON e.doc_id = d.doc_id)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE)
                 AS chars_per_token,
               CAST(SUM(n_tokens) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 AS tokens_per_doc
        FROM j GROUP BY source
        ORDER BY source"""),
      "Tokenizer fertility audit per source: chars-per-token and " +
        "tokens-per-doc under the trained 8-merge BPE model — the " +
        "compression-efficiency report a tokenizer change ships with " +
        "(a source whose fertility collapses is being shredded into " +
        "bytes, and its effective training weight silently multiplies). " +
        "Composes q102's trainer with q103's encoder, then one bounded " +
        "aggregate; the reported ratios are IEEE divisions of exact " +
        "integer sums.")
  ,

    // ---- q104: trained quality classifier (logistic GD) -------------------
    "q104_quality_classifier" -> Q(
      (s, dir) => {
        qualityScored(Tables.documents(s, dir)).orderBy(col("doc"))
      },
      Some(s"""
        WITH ${OracleGen.qualityScoredCtes()}
        SELECT * FROM sc ORDER BY doc"""),
      "A TRAINED quality filter: distributed full-batch logistic " +
        "regression (rational fast-sigmoid link, 1e-9-grid integer " +
        "gradient sums) hash-proved against DuckDB across all 4 " +
        "training iterations. Model lives on the driver; one " +
        "map-side-combined d+1-number aggregation per step, scoring a " +
        "pure projection — zero corpus shuffles at any scale."),

    // ---- q107: bigram-LM fluency score ------------------------------------
    "q107_bigram_lm" -> Q(
      (s, d) => TextAnalysis.bigramLmScore(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some(s"""
        WITH prs AS (
          SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
          FROM (SELECT doc_id, $W AS t FROM documents)
        ), c2 AS (
          SELECT w1, w2, COUNT(*) AS cnt2 FROM prs GROUP BY w1, w2
        ), c1 AS (
          SELECT w1, COUNT(*) AS cnt1 FROM prs GROUP BY w1
        ), v AS (
          SELECT COUNT(DISTINCT term) AS v
          FROM (SELECT unnest($W) AS term FROM documents)
        )
        SELECT doc_id, COUNT(*) AS n_bigrams,
               round(CAST(SUM(CAST(-ln((CAST(cnt2 AS DOUBLE) + 1.0) /
                 CAST(cnt1 + v AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_neg_logp
        FROM prs JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        GROUP BY doc_id
        ORDER BY doc_id"""),
      "Conditional bigram LM with add-one smoothing: avg -ln p(w|prev) " +
        "per doc — the fluency upgrade of the q64 unigram score. Pair " +
        "generation is a shift-zip projection (no self-join), counts " +
        "are map-side-combined hash aggs, V broadcasts as one scalar."),

    // ---- q116: DSIR importance weights ------------------------------------
    "q116_dsir_weights" -> Q(
      (s, d) => TextAnalysis.dsirWeights(Tables.documents(s, d),
          "doc_id", "text", targetPred = col("lang") === "en", m = 64)
        .orderBy(col("doc_id")),
      Some(s"""
        WITH tok AS (
          SELECT doc_id, lang = 'en' AS is_t, unnest($W) AS term FROM documents
        ), tb AS (
          SELECT doc_id, is_t,
                 CAST(concat('0x', substr(md5(term), 1, 13)) AS BIGINT) % 64 AS b
          FROM tok
        ), c AS (
          SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct, COUNT(*) AS cr
          FROM tb GROUP BY b
        ), t AS (
          SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM c
        ), lam AS (
          SELECT b,
                 ln((CAST(ct AS DOUBLE) + 1) / (CAST(tt AS DOUBLE) + 64)) -
                 ln((CAST(cr AS DOUBLE) + 1) / (CAST(tr AS DOUBLE) + 64)) AS lam
          FROM c CROSS JOIN t
        )
        SELECT doc_id, COUNT(*) AS n_tokens,
               round(CAST(SUM(CAST(lam AS DECIMAL(38,18))) AS DOUBLE), 6) AS dsir_logw
        FROM tb JOIN lam USING (b)
        GROUP BY doc_id
        ORDER BY doc_id"""),
      "DSIR data selection (Xie et al. 2023): per-doc log importance " +
        "weight between hashed-unigram target (lang='en') and raw bucket " +
        "LMs — the principled 'more like the target domain' scorer. One " +
        "bounded m-bucket aggregate; the log-ratio table broadcasts; " +
        "scoring is explode + broadcast-join + per-doc decimal sum."),

    // ---- q120: Kneser–Ney bigram fluency ----------------------------------
    "q120_kneser_ney" -> Q(
      (s, d) => TextAnalysis.knBigramScore(Tables.documents(s, d),
          "doc_id", "text")
        .orderBy(col("doc_id")),
      Some(s"""
        WITH prs AS (
          SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
          FROM (SELECT doc_id, $W AS t FROM documents)
        ), c2 AS (
          SELECT w1, w2, COUNT(*) AS cnt2 FROM prs GROUP BY w1, w2
        ), c1 AS (
          SELECT w1, SUM(cnt2) AS cnt1, COUNT(*) AS n1f FROM c2 GROUP BY w1
        ), nb AS (
          SELECT w2, COUNT(*) AS n1b FROM c2 GROUP BY w2
        ), tot AS (
          SELECT COUNT(*) AS n1all FROM c2
        )
        SELECT doc_id, COUNT(*) AS n_bigrams,
               round(CAST(SUM(CAST(-ln(
                 (greatest(CAST(cnt2 AS DOUBLE) - 0.75e0, 0e0) +
                  0.75e0 * CAST(n1f AS DOUBLE) *
                    (CAST(n1b AS DOUBLE) / CAST(n1all AS DOUBLE))) /
                 CAST(cnt1 AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_neg_logp_kn
        FROM prs JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
                 JOIN nb USING (w2) CROSS JOIN tot
        GROUP BY doc_id
        ORDER BY doc_id"""),
      "Interpolated Kneser-Ney bigram fluency (the canonical smoothing; " +
        "q107's add-one twin upgraded with continuation probabilities). " +
        "Four map-side-combined inverted-index aggregates + equi-join " +
        "rescoring; the N1+(..) scalar broadcasts."),

    // ---- q179: popularity-corrected deterministic negative sampling -------
    "q179_weighted_negatives" -> Q(
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val freq = Tables.lineitem(s, d)
          .groupBy(col("l_partkey").as("item"))
          .agg(count(lit(1)).as("f"))
          // f^0.75 WITHOUT libm pow (engines differ in the last ulp):
          // sqrt(sqrt(f^3)) — f^3 is exact integer, sqrt is
          // correctly-rounded IEEE, so both engines get the same double
          .withColumn("w", sqrt(sqrt((col("f") * col("f") * col("f"))
            .cast("double"))))
          // consumed twice (the z normalizer AND probs) — materialize
          // the item-sized aggregate once instead of re-running the
          // full lineitem groupBy in both arms (dual-arm checkpoint
          // convention)
          .localCheckpoint()
        val z = freq.agg(sum(round(col("w"), 6).cast(DecimalType(27, 6)))
          .cast("double").as("z"))
        val probs = freq.crossJoin(broadcast(z))
          .withColumn("p", col("w") / col("z"))
        val users = Tables.customer(s, d)
          .filter(col("c_custkey") % 97 === 0)
          .select(col("c_custkey").as("user"))
        // hash-Bernoulli BEFORE the ownership anti-join: the keep test
        // is a pure projection, so the candidate space shrinks ~64x
        // before anything shuffles. Repartition the item side FIRST:
        // AQE coalesces the small post-aggregate probs relation to one
        // partition, and the user-broadcast join then expands
        // |users|x|items| rows inside that single task — re-spreading
        // the pre-expansion side keeps the expansion parallel
        val Oversample = 64.0
        // codegen'd md5 urn (same u32 value as the conv/substring chain
        // — the chain's string parse was 80% of the candidate filter)
        val cand = users.crossJoin(probs.repartition(
            s.sessionState.conf.numShufflePartitions, col("item")))
          .withColumn("u01",
            md5U52(concat_ws("_", col("user"), col("item")), 8)
              .cast("double") / lit(4294967296.0))
          .filter(col("u01") < lit(Oversample) * col("p"))
        // ownership matters only for sampled users (user ≡ 0 mod 97 by
        // construction of `users`), so pre-filter BEFORE the join and
        // the distinct: the anti-join spine shrinks 97× and the
        // orders side broadcasts — the anti-join result is identical
        // because no dropped row could match a candidate
        val owned = Tables.orders(s, d)
          .filter(col("o_custkey") % 97 === 0)
          .join(Tables.lineitem(s, d),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("user"), col("l_partkey").as("item"))
          .distinct()
        cand.join(owned, Seq("user", "item"), "left_anti")
          .select(col("user"), col("item"), col("f"),
            round(col("p"), 9).as("p"))
          .orderBy(col("user"), col("item"))
      },
      Some("""
        WITH freq AS (
          SELECT l_partkey AS item, COUNT(*) AS f,
                 sqrt(sqrt(CAST(f * f * f AS DOUBLE))) AS w
          FROM lineitem GROUP BY 1
        ), z AS (
          SELECT CAST(SUM(CAST(round(w, 6) AS DECIMAL(27,6))) AS DOUBLE)
            AS z
          FROM freq
        ), probs AS (
          SELECT item, f, w / z.z AS p FROM freq CROSS JOIN z
        ), users AS (
          SELECT c_custkey AS "user" FROM customer WHERE c_custkey % 97 = 0
        ), cand AS (
          SELECT u."user", p.item, p.f, p.p
          FROM users u CROSS JOIN probs p
          WHERE CAST(concat('0x', substr(md5(
                  concat(u."user", '_', p.item)), 1, 8)) AS BIGINT)
                / 4294967296.0 < 64.0 * p.p
        ), owned AS (
          SELECT DISTINCT o.o_custkey AS "user", l.l_partkey AS item
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        )
        SELECT c."user", c.item, c.f, round(c.p, 9) AS p
        FROM cand c
        LEFT JOIN owned w ON c."user" = w."user" AND c.item = w.item
        WHERE w."user" IS NULL
        ORDER BY c."user", c.item"""),
      "Popularity-corrected negative sampling (the word2vec/" +
        "recommender f^0.75 distribution) with ZERO randomness: the " +
        "exponent comes from sqrt(sqrt(f^3)) — integer cube + two " +
        "correctly-rounded sqrts, so no libm pow() divergence — and " +
        "the Bernoulli draw is a content-hash uniform (q49's stance: " +
        "stable across runs, engines, partitionings; resampling a " +
        "shard re-selects IDENTICAL negatives). The keep test is a " +
        "pure projection applied BEFORE the ownership anti-join, so " +
        "the user x item candidate space collapses ~64x before any " +
        "shuffle. The training-pair generator for contrastive/CF " +
        "models at corpus scale."),

    // ---- q186: classifier calibration report ------------------------------
    "q186_calibration" -> Q(
      (s, dir) => {
        val scored = qualityScored(Tables.documents(s, dir))
        graft.operators.Quality.calibrationReport(scored, "score", "y",
          bins = 10)
      },
      Some(s"""
        WITH ${OracleGen.qualityScoredCtes()},
        b AS (
          SELECT greatest(0, least(CAST(floor(score * 10) AS INT), 9))
                   AS bin, score, y
          FROM sc),
        g AS (
          SELECT bin, COUNT(*) AS n,
                 round(CAST(SUM(CAST(score AS DECIMAL(27,6))) AS DOUBLE)
                   / COUNT(*), 6) AS mean_score,
                 round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS frac_pos
          FROM b GROUP BY bin)
        SELECT bin, n, mean_score, frac_pos,
               frac_pos - mean_score AS gap
        FROM g ORDER BY bin"""),
      "Reliability-diagram calibration of the q104 trained quality " +
        "filter: equal-width probability bins, each reporting support, " +
        "mean predicted probability, empirical positive rate, and the " +
        "signed gap — the Murphy reliability decomposition reads off " +
        "this table, and a filter whose scores gate a 100 TB corpus is " +
        "deployable only when the populated bins show |gap| near 0. " +
        "One hash aggregation into <= 10 groups after the projection-" +
        "only scoring pass — bounded output at any corpus size; means " +
        "accumulate on the 1e-6 decimal grid, the gap is one IEEE " +
        "subtraction of the reported doubles."),

    // ---- q187: PSI input-drift monitor ------------------------------------
    "q187_psi_drift" -> Q(
      (s, dir) =>
        graft.operators.Quality.psiReport(Tables.documents(s, dir),
          value = length(col("text")), isRef = col("lang") === "en",
          binWidth = 100.0, bins = 10),
      Some("""
        WITH b AS (
          SELECT greatest(0,
                   least(CAST(floor(length(text) / 100.0) AS INT), 9)) AS bin,
                 coalesce(lang = 'en', false) AS is_ref
          FROM documents
          WHERE length(text) IS NOT NULL),
        g AS (
          SELECT bin,
                 CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
                 CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
          FROM b GROUP BY bin),
        spine AS (SELECT CAST(r.range AS INT) AS bin FROM range(10) r),
        full_g AS (
          SELECT s.bin,
                 coalesce(g.n_ref, CAST(0 AS BIGINT)) AS n_ref,
                 coalesce(g.n_cur, CAST(0 AS BIGINT)) AS n_cur
          FROM spine s LEFT JOIN g ON s.bin = g.bin),
        t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM g),
        p AS (
          SELECT bin, n_ref, n_cur,
                 (CAST(n_ref AS DOUBLE) + 0.5) /
                   (CAST(t_ref AS DOUBLE) + 5.0) AS p_ref,
                 (CAST(n_cur AS DOUBLE) + 0.5) /
                   (CAST(t_cur AS DOUBLE) + 5.0) AS p_cur
          FROM full_g CROSS JOIN t)
        SELECT bin, n_ref, n_cur,
               round(p_ref, 6) AS ref_share,
               round(p_cur, 6) AS cur_share,
               round((p_ref - p_cur) * ln(p_ref / p_cur), 6) AS psi_contrib
        FROM p ORDER BY bin"""),
      "Population-stability-index drift between the English reference " +
        "slice and the rest of the corpus, binned on document length — " +
        "the batch-over-batch input-drift gate for a standing curation " +
        "pipeline (PSI > 0.1 = retune the quality filter before this " +
        "batch trains anything). Add-half smoothing keeps one-sided " +
        "bins finite; one conditional-aggregate pass into <= 10 " +
        "groups, totals rejoined as a broadcast scalar aggregate — " +
        "bounded state at any corpus size."),

    // ---- q206: vocabulary coverage curve -----------------------------------
    "q206_vocab_coverage" -> Q(
      (s, dir) =>
        TextAnalysis.vocabCoverage(Tables.documents(s, dir), "text",
          sizes = Seq(8, 16, 32, 64, 128))
          .orderBy(col("vocab_size")),
      Some("""
        WITH c AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT unnest(string_split(text, ' ')) AS term FROM documents)
          GROUP BY term
        ), r AS (
          SELECT term, c,
                 ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rk
          FROM c
        ), t AS (SELECT CAST(SUM(c) AS BIGINT) AS total,
                        CAST(COUNT(*) AS BIGINT) AS n_types FROM r),
        k AS (SELECT unnest([8, 16, 32, 64, 128]) AS vocab_size)
        SELECT k.vocab_size, t.n_types,
               CAST(SUM(r.c) AS BIGINT) AS covered, t.total,
               CAST(SUM(r.c) AS DOUBLE) / CAST(t.total AS DOUBLE) AS coverage
        FROM k JOIN r ON r.rk <= k.vocab_size CROSS JOIN t
        GROUP BY k.vocab_size, t.n_types, t.total
        ORDER BY vocab_size"""),
      "Vocabulary coverage curve — the tokenizer-budget diagnostic: " +
        "share of all token occurrences covered by the K most frequent " +
        "types, for K in {8..128} (the complement at the chosen K is " +
        "the UNK share). Deterministic (count desc, term) ranking, " +
        "exact-integer coverage ratios; one corpus explode onto the " +
        "vocab spine, everything after runs on the bounded spine."),

    // ---- q213: Good-Turing unseen mass + Chao1 richness --------------------
    "q213_unseen_mass" -> Q(
      (s, dir) => {
        // 2-token windows, not unigrams: the fixture's unigram vocab
        // saturates (31 types, zero hapaxes — coverage reads a vacuous
        // 1.0), while bigram types keep a live unseen tail — the
        // regime the estimator exists for
        val counts = Tables.documents(s, dir)
          .select(explode(windowMd5s(col("text"), 2))
            .as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("c"))
        counts.agg(
            sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1"),
            sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n2"))
          .select(col("n_tokens"), col("n_types"), col("n1"), col("n2"),
            (col("n1").cast("double") / col("n_tokens").cast("double"))
              .as("p_unseen"),
            (lit(1.0) - col("n1").cast("double") /
              col("n_tokens").cast("double")).as("coverage"),
            (col("n_types").cast("double") +
              (col("n1") * col("n1")).cast("double") /
                nullif((lit(2L) * col("n2")).cast("double"), lit(0.0)))
              .as("chao1_richness"))
      },
      Some("""
        WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents),
        pos0 AS (SELECT doc_id, w, unnest(range(0, len(w) - 1)) AS pos
                 FROM w0),
        c AS (
          SELECT md5(array_to_string(w[pos+1:pos+2], ' ')) AS term,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM pos0 GROUP BY 1
        ), m AS (
          SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS n_types,
                 CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
          FROM c)
        SELECT n_tokens, n_types, n1, n2,
               CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS p_unseen,
               1.0 - CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 AS coverage,
               CAST(n_types AS DOUBLE) +
                 CAST(n1 * n1 AS DOUBLE) /
                   nullif(CAST(2 * n2 AS DOUBLE), 0.0) AS chao1_richness
        FROM m"""),
      "Corpus-completeness diagnostics over 2-token windows: " +
        "Good-Turing unseen mass (singleton share of occurrences — " +
        "the probability the NEXT window is a new type, i.e. how much " +
        "more crawling buys new content) and the Chao1 richness " +
        "estimate V + n1^2/(2 n2) of the total type count including " +
        "unseen ones — the stop-crawling signal beside q110's Heaps " +
        "fit. Windows ride the single-pass native WindowMd5s " +
        "expression (identity by md5); one explode onto the bigram " +
        "spine, one 4-number reduction, exact-integer IEEE chains; " +
        "null Chao1 when no doubletons exist."),

    // ---- q207: lexical diversity per source --------------------------------
    "q207_lexical_diversity" -> Q(
      (s, dir) =>
        TextAnalysis.lexicalDiversity(Tables.documents(s, dir), "source",
          "text")
          .orderBy(col("slice")),
      Some("""
        WITH g AS (
          SELECT source AS slice, term, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT source, unnest(string_split(text, ' ')) AS term
            FROM documents)
          GROUP BY source, term
        )
        SELECT slice,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS ttr,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
                 CAST(COUNT(*) AS DOUBLE) AS hapax_share
        FROM g GROUP BY slice
        ORDER BY slice"""),
      "Per-source lexical diversity: type-token ratio + hapax share — " +
        "the repetitiveness read quality filters want beside length " +
        "stats (low TTR + low hapax = template/boilerplate source). " +
        "One explode onto the bounded (source, term) grid, one " +
        "per-source reduction, exact-integer IEEE ratios."),

    // ---- q202: trending terms per period -----------------------------------
    "q202_trending_terms" -> Q(
      (s, dir) =>
        TextAnalysis.trendingTerms(Tables.documents(s, dir), "text",
          period = col("doc_id") % 4, topK = 5)
          .orderBy(col("period"), col("rank")),
      Some("""
        WITH tp AS (
          SELECT doc_id % 4 AS period,
                 unnest(string_split(text, ' ')) AS term
          FROM documents
        ), g AS (
          SELECT period, term, CAST(COUNT(*) AS BIGINT) AS c_tp
          FROM tp GROUP BY period, term
        ), pp AS (SELECT period, CAST(SUM(c_tp) AS BIGINT) AS t_p
                  FROM g GROUP BY period),
           pt AS (SELECT term, CAST(SUM(c_tp) AS BIGINT) AS c_t
                  FROM g GROUP BY term),
           tt AS (SELECT CAST(SUM(c_tp) AS BIGINT) AS tt FROM g),
        sc AS (
          SELECT g.period, g.term, g.c_tp,
                 ((CAST(c_tp AS DOUBLE) + 0.5) /
                  (CAST(t_p AS DOUBLE) + 1.0)) /
                 ((CAST(c_t - c_tp AS DOUBLE) + 0.5) /
                  (CAST(tt - t_p AS DOUBLE) + 1.0)) AS lift
          FROM g JOIN pp USING (period) JOIN pt USING (term) CROSS JOIN tt
        ), r AS (
          SELECT period, term, c_tp, lift,
                 ROW_NUMBER() OVER (PARTITION BY period
                   ORDER BY lift DESC, term) AS rank
          FROM sc)
        SELECT period, CAST(rank AS INT) AS rank, term, c_tp, lift
        FROM r WHERE rank <= 5
        ORDER BY period, rank"""),
      "Trending terms per batch bucket — burst detection naming WHAT " +
        "moved where PSI/KS only flag THAT something moved: per-(term, " +
        "period) counts lift-score against the term's rate everywhere " +
        "else (add-half smoothed, unrounded IEEE over exact integers), " +
        "top-5 per period with term tiebreak. One corpus explode onto " +
        "the bounded (vocab x periods) grid; every later join/window " +
        "touches only the grid."),

    // ---- q197: Kolmogorov-Smirnov two-sample drift ------------------------
    "q197_ks_drift" -> Q(
      (s, dir) =>
        graft.operators.Quality.ksReport(Tables.documents(s, dir),
          value = length(col("text")), isRef = col("lang") === "en",
          binWidth = 50.0),
      Some("""
        WITH b AS (
          SELECT CAST(floor(length(text) / 50.0) AS BIGINT) AS bin,
                 coalesce(lang = 'en', false) AS is_ref
          FROM documents
          WHERE length(text) IS NOT NULL),
        g AS (
          SELECT bin,
                 CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
                 CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
          FROM b GROUP BY bin),
        c AS (
          SELECT n_ref, n_cur,
                 SUM(n_ref) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
                 SUM(n_cur) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
          FROM g),
        t AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
                     CAST(SUM(n_cur) AS BIGINT) AS t_cur FROM g),
        m AS (
          SELECT t_ref AS n_ref, t_cur AS n_cur,
                 MAX(abs(CAST(cr AS HUGEINT) * CAST(t_cur AS HUGEINT) -
                         CAST(cc AS HUGEINT) * CAST(t_ref AS HUGEINT))) AS max_gap
          FROM c CROSS JOIN t
          GROUP BY t_ref, t_cur),
        d AS (
          SELECT n_ref, n_cur,
                 CAST(max_gap AS DOUBLE) /
                   nullif(CAST(CAST(n_ref AS HUGEINT) * CAST(n_cur AS HUGEINT)
                     AS DOUBLE), 0.0) AS d_stat
          FROM m)
        SELECT n_ref, n_cur, d_stat,
               d_stat * sqrt(CAST(CAST(n_ref AS HUGEINT) * CAST(n_cur AS HUGEINT)
                   AS DOUBLE) / CAST(n_ref + n_cur AS DOUBLE)) AS ks_scaled,
               d_stat * sqrt(CAST(CAST(n_ref AS HUGEINT) * CAST(n_cur AS HUGEINT)
                   AS DOUBLE) / CAST(n_ref + n_cur AS DOUBLE)) > 1.358
                 AS reject_05
        FROM d"""),
      "Two-sample Kolmogorov-Smirnov drift between the English slice " +
        "and the rest, on gridded document length — the max-CDF-gap " +
        "companion of q187's PSI (PSI reads binned share shifts, KS is " +
        "sensitive to a shift ANYWHERE in the distribution). The " +
        "maximized gap |cum_ref*t_cur - cum_cur*t_ref| is an exact " +
        "integer, so D and the scaled statistic are single IEEE " +
        "divides/sqrt — unrounded and engine-identical; state is the " +
        "bounded length grid at any corpus size."),

    // ---- q203: Wasserstein-1 (earth-mover) drift ---------------------------
    "q203_emd_drift" -> Q(
      (s, dir) =>
        graft.operators.Quality.emdReport(Tables.documents(s, dir),
          value = length(col("text")), isRef = col("lang") === "en",
          binWidth = 50.0),
      Some("""
        WITH b AS (
          SELECT CAST(floor(length(text) / 50.0) AS BIGINT) AS bin,
                 coalesce(lang = 'en', false) AS is_ref
          FROM documents
          WHERE length(text) IS NOT NULL),
        g AS (
          SELECT bin,
                 CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
                 CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
          FROM b GROUP BY bin),
        c AS (
          SELECT bin, n_ref, n_cur,
                 SUM(n_ref) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
                 SUM(n_cur) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
                 lead(bin) OVER (ORDER BY bin) AS next_bin
          FROM g),
        t AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
                     CAST(SUM(n_cur) AS BIGINT) AS t_cur FROM g),
        m AS (
          SELECT t_ref AS n_ref, t_cur AS n_cur,
                 SUM(abs(CAST(cr AS HUGEINT) * CAST(t_cur AS HUGEINT) -
                         CAST(cc AS HUGEINT) * CAST(t_ref AS HUGEINT)) *
                     CAST(coalesce(next_bin - bin, 0) AS HUGEINT)) AS area
          FROM c CROSS JOIN t
          GROUP BY t_ref, t_cur)
        SELECT n_ref, n_cur,
               CAST(area AS DOUBLE) /
                 nullif(CAST(CAST(n_ref AS HUGEINT) * CAST(n_cur AS HUGEINT)
                   AS DOUBLE), 0.0) * 50.0 AS emd
        FROM m"""),
      "Wasserstein-1 (earth-mover) drift between the English slice and " +
        "the rest on the same length grid as q197 — the INTEGRAL-gap " +
        "sibling of KS: a small shift of everything and a large shift " +
        "of a sliver read the same D to KS, but EMD reads how much " +
        "mass moved how far (the drift-magnitude alert). On the grid " +
        "the CDFs are step functions, so the integral is an exact " +
        "DECIMAL(38,0) sum of |gap|*(next_bin-bin) terms with one IEEE " +
        "divide and one binWidth multiply at the end."),

    // ---- q188: classifier ranking quality (AUC-ROC) -----------------------
    "q188_auc" -> Q(
      (s, dir) => {
        val scored = qualityScored(Tables.documents(s, dir))
        graft.operators.Quality.aucReport(scored, "score", "y")
      },
      Some(s"""
        WITH ${OracleGen.qualityScoredCtes()},
        g AS (
          SELECT score AS s, COUNT(*) AS n,
                 CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np
          FROM sc GROUP BY score),
        c AS (
          SELECT s, n, np, n - np AS nn,
                 COALESCE(SUM(n - np) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cumneg
          FROM g),
        t AS (
          SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
                 CAST(SUM(nn) AS BIGINT) AS n_neg,
                 CAST(SUM(2 * np * cumneg + np * nn) AS BIGINT) AS u2
          FROM c)
        SELECT n_pos + n_neg AS n, n_pos, n_neg,
               round(CAST(u2 AS DOUBLE) /
                 nullif(2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE),
                   0.0), 6) AS auc
        FROM t"""),
      "AUC-ROC of the q104 trained quality filter — the ranking-" +
        "separation eval that pairs with q186's calibration: computed " +
        "as tie-corrected Mann-Whitney WITHOUT ranking rows. Scores " +
        "live on the round(.,6) grid, so the distinct-score spine is " +
        "bounded at 1e6+1 values at any corpus size; one hash " +
        "aggregation collapses the corpus onto the spine, one bounded " +
        "window accumulates negatives-below, and 2U sums to an exact " +
        "integer, making the single-divide AUC hash-stable " +
        "cross-engine."),

    // ---- q190: Cohen's kappa (classifier vs gold agreement) ---------------
    "q190_kappa" -> Q(
      (s, dir) => {
        val scored = qualityScored(Tables.documents(s, dir))
        graft.operators.Quality.kappaReport(scored,
          labelA = col("score") >= 0.5, labelB = col("y") === 1.0)
      },
      Some(s"""
        WITH ${OracleGen.qualityScoredCtes()},
        ct AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN score >= 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
                 CAST(SUM(CASE WHEN score >= 0.5 AND y <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
                 CAST(SUM(CASE WHEN score < 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
                 CAST(SUM(CASE WHEN score < 0.5 AND y <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n00
          FROM sc),
        m AS (
          SELECT n, n11, n10, n01, n00,
                 CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
                 CAST((n11 + n10) * (n11 + n01) +
                      (n01 + n00) * (n10 + n00) AS DOUBLE) /
                   (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
          FROM ct)
        SELECT n, n11, n10, n01, n00, po, pe,
               (po - pe) / nullif(1.0 - pe, 0.0) AS kappa
        FROM m"""),
      "Cohen's kappa between the q104 classifier's 0.5-threshold " +
        "decision and the gold label — agreement beyond chance, the " +
        "eval that raw accuracy fakes on skewed corpora (two " +
        "coin-flippers agree 90% on a 95%-positive corpus). One " +
        "conditional-aggregate pass builds the 2x2 table; po/pe/kappa " +
        "are IEEE divisions of exact integer counts, hash-stable with " +
        "no rounding."),

    // ---- q191: classifier scorecard (acc/P/R/F1/Brier/ECE) ----------------
    "q191_eval_summary" -> Q(
      (s, dir) => {
        val scored = qualityScored(Tables.documents(s, dir))
        graft.operators.Quality.evalSummary(scored, "score", "y", bins = 10)
      },
      Some(s"""
        WITH ${OracleGen.qualityScoredCtes()},
        base AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN score >= 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                 CAST(SUM(CASE WHEN score >= 0.5 AND y <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                 CAST(SUM(CASE WHEN score < 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                 CAST(SUM(CASE WHEN score < 0.5 AND y <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
                 CAST(SUM(CAST(round((score - y) * (score - y) * 1e12) AS BIGINT)) AS DOUBLE)
                   / COUNT(*) / 1e12 AS brier
          FROM sc),
        b AS (
          SELECT greatest(0, least(CAST(floor(score * 10) AS INT), 9))
                   AS bin, score, y
          FROM sc),
        g AS (
          SELECT bin, COUNT(*) AS nb,
                 round(CAST(SUM(CAST(score AS DECIMAL(27,6))) AS DOUBLE)
                   / COUNT(*), 6) AS mean_score,
                 round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS frac_pos
          FROM b GROUP BY bin),
        e AS (
          SELECT COALESCE(CAST(SUM(CAST(round(
                   CAST(nb AS DOUBLE) * abs(frac_pos - mean_score) * 1e9)
                   AS BIGINT)) AS DOUBLE), 0.0) AS ece_num
          FROM g)
        SELECT n,
               CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy,
               CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0)
                 AS precision_,
               CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0)
                 AS recall_,
               2.0 * (CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0))
                   * (CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0))
                 / nullif(
                     (CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0)) +
                     (CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0)),
                     0.0) AS f1,
               brier,
               ece_num / CAST(n AS DOUBLE) / 1e9 AS ece
        FROM base CROSS JOIN e"""),
      "One-row classifier scorecard (accuracy/precision/recall/F1 at " +
        "0.5, Brier score, ECE over 10 bins) for the q104 trained " +
        "filter: one corpus pass + one <= 10-bin aggregate. (score-y)^2 " +
        "is EXACTLY a 12-decimal value (scores are round(.,6)), so the " +
        "1e-12 grid sum is lossless; ECE terms snap to 1e-9 before an " +
        "order-free integer sum; every other number is an IEEE " +
        "division of exact counts — hash-stable with no rounding " +
        "ties."),

    // ---- q194: bootstrap CI for the classifier's accuracy -----------------
    "q194_bootstrap_ci" -> Q(
      (s, dir) => {
        val scored = qualityScored(Tables.documents(s, dir))
        graft.operators.Quality.bootstrapRatioCi(scored,
          id = col("doc"),
          success = (col("score") >= 0.5) === (col("y") === 1.0),
          reps = 32, coverage = 0.95)
      },
      Some(s"""
        WITH ${OracleGen.qualityScoredCtes()},
        reps AS (SELECT CAST(r.range AS INT) AS rep FROM range(32) r),
        ex AS (
          SELECT sc.doc AS id_, sc.rep_s AS s01, reps.rep
          FROM (SELECT doc,
                  CASE WHEN (score >= 0.5) = (y = 1) THEN 1 ELSE 0 END AS rep_s
                FROM sc) sc CROSS JOIN reps),
        wtd AS (
          SELECT rep, s01,
                 CASE WHEN u < 0.36787944117144233 THEN 0
                      WHEN u < 0.7357588823428847 THEN 1
                      WHEN u < 0.9196986029286058 THEN 2
                      WHEN u < 0.9810118431238463 THEN 3
                      WHEN u < 0.9963401531726563 THEN 4
                      WHEN u < 0.9994058151824183 THEN 5
                      ELSE 6 END AS w
          FROM (
            SELECT rep, s01,
                   CAST(concat('0x', substr(md5(
                     CAST(id_ AS VARCHAR) || ':' || CAST(rep AS VARCHAR)
                       || ':0'), 1, 13)) AS BIGINT)
                     / 4503599627370496.0 AS u
            FROM ex)),
        pr AS (
          SELECT rep, CAST(SUM(w * s01) AS DOUBLE) /
                   nullif(CAST(SUM(w) AS DOUBLE), 0.0) AS ratio
          FROM wtd GROUP BY rep),
        ci AS (SELECT quantile_disc(ratio, 0.025) AS lo,
                      quantile_disc(ratio, 0.975) AS hi FROM pr),
        base AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN (score >= 0.5) = (y = 1)
                     THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS point
          FROM sc)
        SELECT n, point, lo, hi FROM base CROSS JOIN ci"""),
      "95% Poisson-bootstrap CI for the q104 classifier's accuracy — " +
        "the uncertainty attached to every ratio the eval tier " +
        "reports, with DETERMINISTIC resampling: each of 32 " +
        "replicates reweights rows by the md5(id, rep) hash pushed " +
        "through the inverted Poisson(1) CDF, a pure projection that " +
        "is identical on any engine, rerun, or partitioning. One pass " +
        "over the bounded 32x expansion aggregates integer replicate " +
        "counts; the interval is PERCENTILE_DISC over the 32 computed " +
        "ratios — a selection, never an interpolation."),

    // ---- q195: per-segment AUC (slice eval) --------------------------------
    "q195_auc_by_lang" -> Q(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val scored = qualityScored(docs)
        graft.operators.Quality.aucReportBy(
          scored.join(docs.select(col("doc_id").as("doc"), col("lang")),
            Seq("doc")),
          segment = "lang", score = "score", label = "y")
      },
      Some(s"""
        WITH ${OracleGen.qualityScoredCtes()},
        seg AS (
          SELECT sc.score, sc.y, d.lang
          FROM sc JOIN documents d ON sc.doc = d.doc_id),
        g AS (
          SELECT lang, score AS s, COUNT(*) AS n,
                 CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np
          FROM seg GROUP BY lang, score),
        c AS (
          SELECT lang, s, n, np, n - np AS nn,
                 COALESCE(SUM(n - np) OVER (PARTITION BY lang ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cumneg
          FROM g),
        t AS (
          SELECT lang,
                 CAST(SUM(np) AS BIGINT) AS n_pos,
                 CAST(SUM(nn) AS BIGINT) AS n_neg,
                 CAST(SUM(2 * np * cumneg + np * nn) AS BIGINT) AS u2
          FROM c GROUP BY lang)
        SELECT lang, n_pos + n_neg AS n, n_pos, n_neg,
               round(CAST(u2 AS DOUBLE) /
                 nullif(2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE),
                   0.0), 6) AS auc
        FROM t ORDER BY lang"""),
      "Per-language AUC of the q104 filter — the slice eval that " +
        "catches a collapsed segment a global AUC hides (the fairness " +
        "check a corpus-gating filter ships with). Same tie-corrected " +
        "Mann-Whitney as q188 with the cumulative-negatives window " +
        "partitioned per segment, so per-segment state stays bounded " +
        "by the score spine; single-class segments report null, not " +
        "0/0.")) ++ Seq(

    // ---- q263: leakage-free churn-label builder ----------------------------
    "q263_churn_labels" -> Q(
      (s, dir) => {
        // point-in-time discipline: features may read ONLY before the
        // split instant, the label ONLY at-or-after — the off-by-one
        // that silently leaks (a boundary event in both windows) is
        // the most common training-data bug this query exists to avoid
        val split = "2024-01-24 00:00:00"
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_type"))
        ev.groupBy(col("user_id"))
          .agg(
            sum(when(col("ts") < lit(split).cast("timestamp"), 1L)
              .otherwise(0L)).as("n_before"),
            sum(when(col("ts") < lit(split).cast("timestamp") &&
              col("event_type") === "purchase", 1L).otherwise(0L))
              .as("n_purchases_before"),
            sum(when(col("ts") < lit(split).cast("timestamp") &&
              col("event_type") === "error", 1L).otherwise(0L))
              .as("n_errors_before"),
            max(when(col("ts") >= lit(split).cast("timestamp"), 1L)
              .otherwise(0L)).as("label_active_after"))
          .filter(col("n_before") > 0) // no features -> not a training row
          .orderBy(col("user_id"))
      },
      Some("""
        SELECT user_id,
               CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                 < TIMESTAMP '2024-01-24 00:00:00' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_before,
               CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                 < TIMESTAMP '2024-01-24 00:00:00'
                 AND event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_purchases_before,
               CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                 < TIMESTAMP '2024-01-24 00:00:00'
                 AND event_type = 'error' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_errors_before,
               CAST(MAX(CASE WHEN CAST(ts AS TIMESTAMP)
                 >= TIMESTAMP '2024-01-24 00:00:00' THEN 1 ELSE 0 END)
                 AS BIGINT) AS label_active_after
        FROM events
        GROUP BY user_id
        HAVING SUM(CASE WHEN CAST(ts AS TIMESTAMP)
          < TIMESTAMP '2024-01-24 00:00:00' THEN 1 ELSE 0 END) > 0
        ORDER BY user_id"""),
      "Leakage-free churn/retention label construction — the training-" +
        "set builder for 'will this user stay active': features read " +
        "STRICTLY before the split instant, the label strictly at-or-" +
        "after, with the boundary owned by exactly one side (the " +
        "off-by-one that silently leaks is the most common training-" +
        "data bug). Users with no pre-split history produce no row — " +
        "they would be pure label noise. One conditional-aggregate " +
        "corpus pass; at scale the split literal becomes the feature-" +
        "store snapshot timestamp and this query IS the point-in-time " +
        "join discipline (q158) in aggregate form."),

    // ---- q264: feature hashing (the hashing trick) -------------------------
    "q264_feature_hashing" -> Q(
      (s, dir) => {
        // 16-dim signed hashed counts: index = md5 nibble, sign from
        // the next bit — the collision-tolerant fixed-width featurizer
        // (Weinberger et al.) that needs NO vocabulary, NO fit pass,
        // and survives any vocab drift; emitted as csv so the hash
        // compare sees a scalar
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("w"))
          .withColumn("h", md5U52(col("w"), 2)
            .cast("int"))
          .withColumn("idx", col("h") % 16)
          .withColumn("sgn", when((col("h") / 16).cast("int") % 2 === 0,
            1L).otherwise(-1L))
        val cells = toks.groupBy(col("doc_id"), col("idx"))
          .agg(sum(col("sgn")).as("v"))
        cells.groupBy(col("doc_id"))
          .agg(array_sort(collect_list(struct(col("idx"), col("v"))))
            .as("arr"))
          .select(col("doc_id"),
            concat_ws(",", transform(col("arr"),
              x => concat(x.getField("idx"), lit(":"), x.getField("v"))))
              .as("fvec"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents),
        h AS (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(w), 1, 2)) AS INT) AS hv
          FROM t),
        cells AS (
          SELECT doc_id, hv % 16 AS idx,
                 CAST(SUM(CASE WHEN (hv // 16) % 2 = 0 THEN 1 ELSE -1 END)
                   AS BIGINT) AS v
          FROM h GROUP BY 1, 2)
        SELECT doc_id,
               string_agg(concat(idx, ':', v), ',' ORDER BY idx, v) AS fvec
        FROM cells
        GROUP BY doc_id
        ORDER BY doc_id"""),
      "Feature hashing (the hashing trick): fixed 16-dim signed " +
        "hashed-count vectors per document — the featurizer that needs " +
        "no vocabulary, no fit pass, and no broadcast dictionary, " +
        "which is why it survives vocab drift and streams trivially. " +
        "Index and sign both come from the word's md5 (portable), " +
        "signed counts make collisions unbiased in expectation, and " +
        "the vector emits as an index:value csv so the driver's hash " +
        "compare sees one scalar per row. Two partial-aggregatable " +
        "shuffles on (doc, 16) cells."),

    // ---- q267: leave-one-out target encoding -------------------------------
    "q267_target_encoding" -> Q(
      (s, dir) => Features.targetEncodeLoo(Tables.orders(s, dir),
          col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          m = 20.0)
        .orderBy(col("id")),
      Some("""
        WITH b AS (
          SELECT o_orderkey AS id, o_orderpriority AS level,
                 CAST(round(o_totalprice * 1e9) AS BIGINT) AS v
          FROM orders
          WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
        levels AS (
          SELECT level, CAST(COUNT(*) AS BIGINT) AS n_c,
                 SUM(CAST(v AS DECIMAL(38,0))) AS s_c
          FROM b GROUP BY 1),
        g AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
                 SUM(CAST(v AS DECIMAL(38,0))) AS s_all
          FROM b)
        SELECT b.id, b.level, round(CAST(b.v AS DOUBLE) / 1e9, 6) AS v,
               round(((CAST(l.s_c AS DOUBLE) - CAST(b.v AS DOUBLE)) / 1e9
                   + 20.0 * (CAST(g.s_all AS DOUBLE)
                             / CAST(g.n_all AS DOUBLE) / 1e9))
                 / (CAST(l.n_c AS DOUBLE) - 1.0 + 20.0), 6) AS enc
        FROM b JOIN levels l USING (level) CROSS JOIN g
        ORDER BY id"""),
      "Leave-one-out smoothed target encoding of order priority " +
        "against order value — the high-cardinality categorical " +
        "encoder whose leave-one-out fold stops the feature from " +
        "memorizing its own label (q263's leakage discipline applied " +
        "to FEATURES: each row's encoding reads every row but its " +
        "own). One level-bounded aggregation broadcast back as a " +
        "projection; level sums are exact 1e-9-grid DECIMALs, the " +
        "encoding one mirrored IEEE chain, so the hash proves the " +
        "leak guard arithmetic itself."),

    // ---- q268: weight-of-evidence + information value ----------------------
    "q268_woe_iv" -> Q(
      (s, dir) => Features.woeIv(Tables.customer(s, dir),
        col("c_mktsegment"), col("c_acctbal") > lit(0.0)),
      Some("""
        WITH cells AS (
          SELECT c_mktsegment AS level, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN c_acctbal > 0.0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_good,
                 CAST(SUM(CASE WHEN c_acctbal > 0.0 THEN 0 ELSE 1 END)
                   AS BIGINT) AS n_bad
          FROM customer
          WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL
          GROUP BY 1),
        t AS (
          SELECT level, n, n_good, n_bad,
                 CAST(COUNT(*) OVER () AS BIGINT) AS k,
                 CAST(SUM(n_good) OVER () AS BIGINT) AS g_tot,
                 CAST(SUM(n_bad) OVER () AS BIGINT) AS b_tot
          FROM cells),
        sh AS (
          SELECT level, n, n_good, n_bad,
                 (CAST(n_good AS DOUBLE) + 0.5)
                   / (CAST(g_tot AS DOUBLE) + 0.5 * CAST(k AS DOUBLE))
                   AS gs,
                 (CAST(n_bad AS DOUBLE) + 0.5)
                   / (CAST(b_tot AS DOUBLE) + 0.5 * CAST(k AS DOUBLE))
                   AS bs
          FROM t)
        SELECT level, n, n_good, n_bad,
               round(ln(gs / bs), 6) AS woe,
               round((gs - bs) * ln(gs / bs), 6) AS iv_term,
               round(CAST(SUM(CAST(round((gs - bs) * ln(gs / bs), 12)
                   AS DECIMAL(28,12))) OVER () AS DOUBLE), 6) AS iv_total
        FROM sh
        ORDER BY level"""),
      "Weight-of-evidence + information value of market segment " +
        "against a positive-balance outcome — the credit-scoring " +
        "column screen (IV < 0.02 useless, > 0.5 usually a leak). One " +
        "hash aggregation bounded by level cardinality with totals " +
        "from windows OVER THE LEVELS; the 0.5 continuity correction " +
        "applies to every cell so zero cells stay finite without " +
        "forking the formula; IV terms snap to the 1e-12 grid and sum " +
        "exactly (the q109 entropy discipline for ln-sums).")
  ) ++ Seq(

    // ---- q270: Brier score Murphy decomposition ----------------------------
    "q270_brier_decomposition" -> Q(
      (s, dir) => {
        // bin-center forecasts p_k = (bin+0.5)/10 from a deterministic
        // length signal; discrete forecasts make the Murphy identity
        // EXACT (brier = reliability - resolution + uncertainty), and
        // the report carries both sides of it
        val docs = Tables.documents(s, dir)
        graft.operators.Quality.brierDecomposition(docs,
          least(greatest(floor(col("n_chars") / lit(80.0)), lit(0.0)),
            lit(9.0)),
          col("n_chars") > 300, nBins = 10)
      },
      Some("""
        WITH b AS (
          SELECT CAST(least(greatest(floor(n_chars / 80.0), 0.0), 9.0)
                   AS INT) AS bin,
                 CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS y
          FROM documents
          WHERE n_chars IS NOT NULL),
        cells AS (
          SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_k,
                 CAST(SUM(y) AS BIGINT) AS s_k
          FROM b GROUP BY 1),
        t AS (
          SELECT bin, n_k, s_k,
                 CAST(SUM(n_k) OVER () AS BIGINT) AS n,
                 CAST(SUM(s_k) OVER () AS BIGINT) AS s
          FROM cells),
        terms AS (
          SELECT n, s,
                 CAST(n_k AS DOUBLE)
                   * ((CAST(bin AS DOUBLE) + 0.5) / 10.0
                      - CAST(s_k AS DOUBLE) / CAST(n_k AS DOUBLE))
                   * ((CAST(bin AS DOUBLE) + 0.5) / 10.0
                      - CAST(s_k AS DOUBLE) / CAST(n_k AS DOUBLE))
                   AS rel_t,
                 CAST(n_k AS DOUBLE)
                   * (CAST(s_k AS DOUBLE) / CAST(n_k AS DOUBLE)
                      - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(s_k AS DOUBLE) / CAST(n_k AS DOUBLE)
                      - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   AS res_t,
                 CAST(n_k AS DOUBLE)
                   * ((CAST(bin AS DOUBLE) + 0.5) / 10.0)
                   * ((CAST(bin AS DOUBLE) + 0.5) / 10.0)
                 - 2.0 * ((CAST(bin AS DOUBLE) + 0.5) / 10.0)
                   * CAST(s_k AS DOUBLE)
                 + CAST(s_k AS DOUBLE) AS bri_t
          FROM t),
        red AS (
          SELECT n, s,
                 SUM(CAST(round(rel_t, 12) AS DECIMAL(28,12))) AS sum_rel,
                 SUM(CAST(round(res_t, 12) AS DECIMAL(28,12))) AS sum_res,
                 SUM(CAST(round(bri_t, 12) AS DECIMAL(28,12))) AS sum_bri
          FROM terms GROUP BY n, s)
        SELECT n,
               round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6)
                 AS base_rate,
               round((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                 AS uncertainty,
               round(CAST(sum_rel AS DOUBLE) / CAST(n AS DOUBLE), 6)
                 AS reliability,
               round(CAST(sum_res AS DOUBLE) / CAST(n AS DOUBLE), 6)
                 AS resolution,
               round(CAST(sum_bri AS DOUBLE) / CAST(n AS DOUBLE), 6)
                 AS brier,
               round(CAST(sum_rel AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST(sum_res AS DOUBLE) / CAST(n AS DOUBLE)
                 + (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                 AS brier_identity
        FROM red"""),
      "Murphy decomposition of the Brier score over discrete bin-" +
        "center forecasts — the single-number audit behind q186's " +
        "reliability table: brier = reliability − resolution + " +
        "uncertainty, and the report computes BOTH sides of the " +
        "identity from the same per-bin moments (a decomposition " +
        "that cannot silently drift from the score it decomposes). " +
        "One aggregation to ≤10 bins, one exact-DECIMAL reduction " +
        "over them; every division is a mirrored IEEE chain of " +
        "exact integer counts."),

    // ---- q273: multinomial Naive Bayes language classifier ------------------
    "q273_naive_bayes" -> Q(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("bucket", TextAnalysis.hashBucket(col("text")))
        TextAnalysis.naiveBayes(
          docs.filter(col("bucket") < 97),
          docs.filter(col("bucket") >= 97),
          "doc_id", "text", "lang")
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, text, lang, $Bucket AS bucket FROM documents),
        tr AS (
          SELECT lang AS lab, unnest($W) AS w FROM d WHERE bucket < 97),
        counts AS (
          SELECT lab, w, CAST(COUNT(*) AS BIGINT) AS c
          FROM tr GROUP BY 1, 2),
        labtot AS (
          SELECT lab, CAST(SUM(c) AS BIGINT) AS n_lab
          FROM counts GROUP BY 1),
        voc AS (
          SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM counts),
        pri AS (
          SELECT lang AS lab, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM d WHERE bucket < 97 GROUP BY 1),
        pritot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_all FROM pri),
        labels AS (
          SELECT lt.lab, lt.n_lab, voc.v,
                 CAST(round(ln(CAST(p.n_docs AS DOUBLE)
                     / CAST(t.n_all AS DOUBLE)), 12)
                   AS DECIMAL(28,12)) AS prior
          FROM labtot lt JOIN pri p USING (lab)
          CROSS JOIN voc CROSS JOIN pritot t),
        te AS (
          SELECT doc_id AS id, lang AS label_true, unnest($W) AS w
          FROM d WHERE bucket >= 97),
        sc AS (
          SELECT te.id, te.label_true, l.lab, l.prior,
                 CAST(round(ln((coalesce(CAST(c.c AS DOUBLE),
                       CAST('0.0' AS DOUBLE)) + 1.0)
                     / (CAST(l.n_lab AS DOUBLE) + CAST(l.v AS DOUBLE))), 12)
                   AS DECIMAL(28,12)) AS ll
          FROM te CROSS JOIN labels l
          LEFT JOIN counts c ON c.lab = l.lab AND c.w = te.w),
        agg AS (
          SELECT id, label_true, lab,
                 SUM(ll) + MAX(prior) AS score_dec
          FROM sc GROUP BY 1, 2, 3),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY id
                   ORDER BY score_dec DESC, lab) AS rn
          FROM agg)
        SELECT id, label_true, lab AS label_pred,
               lab = label_true AS correct,
               round(CAST(score_dec AS DOUBLE), 6) AS score
        FROM ranked WHERE rn = 1 ORDER BY id"""),
      "Multinomial Naive Bayes trained and scored INSIDE the engine — " +
        "the supervised cross-check for q43's heuristic langid, on the " +
        "q54 content-hash split (train <97, score >=97). Training is " +
        "two bounded aggregations (vocab × label counts, label " +
        "priors); scoring left-joins the count grid so unseen tokens " +
        "fall to the add-one smoothing floor without a dense " +
        "materialization. Token log-likelihoods are ln of exact " +
        "integer ratios on the 1e-12 grid summed as exact DECIMALs; " +
        "the argmax ranks by the EXACT decimal score (ties to the " +
        "lexicographically first label) so both engines pick " +
        "identical winners."),

    // ---- q280: per-source Jensen-Shannon divergence drift ------------------
    "q280_jsd_drift" -> Q(
      (s, dir) => graft.operators.TextAnalysis.jsDivergenceByGroup(
        Tables.documents(s, dir), "text", col("source")),
      Some(s"""
        WITH gt AS (
          SELECT source AS g, unnest($W) AS term FROM documents
        ), grid AS (
          SELECT g, term, CAST(COUNT(*) AS BIGINT) AS c_gt
          FROM gt GROUP BY 1, 2
        ), pg AS (
          SELECT g, CAST(SUM(c_gt) AS BIGINT) AS t_g,
                 CAST(COUNT(*) AS BIGINT) AS n_terms
          FROM grid GROUP BY g
        ), pt AS (
          SELECT term, CAST(SUM(c_gt) AS BIGINT) AS c_t
          FROM grid GROUP BY term
        ), tt AS (SELECT CAST(SUM(c_gt) AS BIGINT) AS tt FROM grid),
        sc AS (
          SELECT grid.g, n_terms, t_g,
                 CAST(c_gt AS DOUBLE) / CAST(t_g AS DOUBLE) AS p,
                 CAST(c_t - c_gt AS DOUBLE) / CAST(tt - t_g AS DOUBLE) AS q
          FROM grid JOIN pg USING (g) JOIN pt USING (term) CROSS JOIN tt
        ), tb AS (
          SELECT g, n_terms, t_g,
                 CAST(round(0.5 * p * (ln(2.0 * p / (p + q)) / ln(2.0)) +
                   CASE WHEN q > 0
                        THEN 0.5 * q * (ln(2.0 * q / (p + q)) / ln(2.0))
                        ELSE 0.0 END, 12) AS DECIMAL(28,12)) AS term_bits,
                 CAST(round(q, 12) AS DECIMAL(28,12)) AS qg
          FROM sc
        ), agg AS (
          SELECT g, CAST(MAX(n_terms) AS BIGINT) AS n_terms,
                 CAST(MAX(t_g) AS BIGINT) AS n_tokens,
                 CAST(SUM(term_bits) AS DOUBLE) AS seen,
                 CAST(SUM(qg) AS DOUBLE) AS qseen
          FROM tb GROUP BY g)
        SELECT g AS grp, n_terms, n_tokens,
               round(seen + 0.5 * (1.0 - qseen), 6) AS jsd_bits
        FROM agg ORDER BY grp"""),
      "Per-source Jensen-Shannon divergence (bits) between each " +
        "source's unigram distribution and the REST of the corpus — " +
        "the bounded [0,1] drift readout completing the shift battery " +
        "(PSI bins, KS is 1-D, EMD needs a metric; JSD reads any " +
        "discrete distribution and never divides by zero, so " +
        "new-vocabulary mass — KL's failure mode — stays finite). " +
        "Sparse-lattice algebra: terms the group never saw collapse " +
        "to ½·(1 − Σ q_seen), so only the OBSERVED (source × term) " +
        "grid is touched — one corpus explode, then grid-sized " +
        "joins; log2 spelled ln/ln(2) so both engines run the same " +
        "IEEE composition, each term snapped to the 1e-12 grid."),

    // ---- q289: Zipf rank-frequency fit --------------------------------------
    "q289_zipf_fit" -> Q(
      (s, dir) => graft.operators.TextAnalysis.zipfFit(
        Tables.documents(s, dir), "text", topV = 1000),
      Some(s"""
        WITH counts AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT unnest($W) AS term FROM documents)
          GROUP BY term
        ), ranked AS (
          SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rk
          FROM counts
        ), top AS (
          SELECT CAST(round(ln(CAST(rk AS DOUBLE)), 12)
                   AS DECIMAL(28,12)) AS x,
                 CAST(round(ln(CAST(c AS DOUBLE)), 12)
                   AS DECIMAL(28,12)) AS y
          FROM ranked WHERE rk <= 1000
        ), mom AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS DOUBLE) AS sx,
                 CAST(SUM(y) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE),
                   12) AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE),
                   12) AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE),
                   12) AS DECIMAL(28,12))) AS DOUBLE) AS syy
          FROM top)
        SELECT n AS n_terms,
               round((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS slope,
               round((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
                 / CAST(n AS DOUBLE), 6) AS intercept,
               round((CAST(n AS DOUBLE) * sxy - sx * sy)
                 * (CAST(n AS DOUBLE) * sxy - sx * sy)
                 / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS r2
        FROM mom"""),
      "Zipf-law fit of the rank-frequency curve over the top-1000 " +
        "terms — the one-row corpus-health diagnostic (natural " +
        "language sits near slope −1; a flat slope flags boilerplate " +
        "floods, a cliff flags over-deduplicated text): OLS of " +
        "ln(freq) on ln(rank) with slope, intercept, and R². One " +
        "corpus explode to the (term, c) grid; ranking and the five " +
        "moments run over the bounded top-V spine, each ln snapped " +
        "to the 1e-12 grid, moments as exact DECIMALs, estimates as " +
        "the q248 closed-form IEEE expressions."),

    // ---- q293: source concentration (HHI) -----------------------------------
    "q293_source_concentration" -> Q(
      (s, dir) => graft.operators.Quality.hhiReport(
        Tables.documents(s, dir), col("source"), col("n_chars")),
      Some("""
        WITH per AS (
          SELECT source AS g,
                 SUM(CAST(n_chars AS DECIMAL(38,0))) AS wg
          FROM documents
          WHERE source IS NOT NULL AND n_chars IS NOT NULL
          GROUP BY 1
        ), tot AS (
          SELECT SUM(wg) AS wt, CAST(COUNT(*) AS BIGINT) AS k FROM per
        ), hh AS (
          SELECT k, CAST(SUM(s2) AS DOUBLE) AS hhi FROM (
            SELECT k,
                   CAST(round(CAST(wg AS DOUBLE) / CAST(wt AS DOUBLE)
                     * (CAST(wg AS DOUBLE) / CAST(wt AS DOUBLE)), 12)
                     AS DECIMAL(28,12)) AS s2
            FROM per CROSS JOIN tot)
          GROUP BY k)
        SELECT k AS n_groups,
               round(hhi, 6) AS hhi,
               CASE WHEN k > 1 THEN round(
                 (hhi - 1.0 / CAST(k AS DOUBLE))
                 / (1.0 - 1.0 / CAST(k AS DOUBLE)), 6) END AS hhi_norm,
               round(1.0 / hhi, 6) AS n_effective
        FROM hh"""),
      "Herfindahl-Hirschman concentration of the corpus source mix " +
        "(weighted by characters) — the one-row 'is this corpus " +
        "dominated by one source?' audit next to the q81 mixture " +
        "weights: HHI = Σ share², min-max normalized, and the " +
        "effective number of sources 1/HHI (the Hill number a mixing " +
        "plan should quote — '47 sources' can behave like 3). One " +
        "aggregation to the per-source weight relation; shares are " +
        "IEEE ratios of exact DECIMAL sums, each share² snapped to " +
        "the 1e-12 grid."),

    // ---- q295: vocabulary churn between adjacent periods --------------------
    "q295_vocab_churn" -> Q(
      (s, dir) => graft.operators.TextAnalysis.vocabChurn(
        Tables.documents(s, dir), "text", col("doc_id") % 4, topK = 100),
      Some(s"""
        WITH tp AS (
          SELECT p, term, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT doc_id % 4 AS p, unnest($W) AS term FROM documents)
          GROUP BY 1, 2
        ), top AS MATERIALIZED (
          SELECT p, term FROM (
            SELECT p, term,
                   ROW_NUMBER() OVER (PARTITION BY p
                     ORDER BY c DESC, term) AS rk
            FROM tp)
          WHERE rk <= 100
        ), sizes AS MATERIALIZED (
          SELECT p, CAST(COUNT(*) AS BIGINT) AS kk FROM top GROUP BY p
        ), pairs AS (
          SELECT a.p AS period_a, b.p AS period_b,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM top a JOIN top b
            ON b.p = a.p + 1 AND a.term = b.term
          GROUP BY 1, 2)
        SELECT period_a, period_b, sa.kk AS k, n_common,
               CAST(n_common AS DOUBLE)
                 / CAST(sa.kk + sb.kk - n_common AS DOUBLE) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.p = period_a
        JOIN sizes sb ON sb.p = period_b
        ORDER BY period_a"""),
      "Vocabulary churn between adjacent corpus periods — the 'did " +
        "the HEAD of the language turn over?' drift readout " +
        "complementing q280's whole-mix JSD: per period the top-100 " +
        "terms by (count desc, term), then overlap and Jaccard for " +
        "each adjacent pair. One corpus explode to the (period × " +
        "term) grid; ranking windows partition per period; the pair " +
        "join touches 2·topK rows per pair; jaccard is a pure IEEE " +
        "ratio of exact integers (unrounded, the bit-portable " +
        "class)."),

    // ---- q299: cross-source quantile normalization --------------------------
    "q299_quantile_normalize" -> Q(
      (s, dir) => graft.operators.TextAnalysis.quantileNormalize(
        Tables.documents(s, dir), "doc_id", col("source"), col("n_chars"),
        gridSize = 256),
      Some("""
        WITH base AS MATERIALIZED (
          SELECT doc_id AS id, source AS grp, n_chars AS v
          FROM documents
          WHERE source IS NOT NULL AND n_chars IS NOT NULL
        ), pooled AS MATERIALIZED (
          SELECT ROW_NUMBER() OVER (ORDER BY v, id) AS rn, v FROM base
        ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pooled),
        grid AS (
          SELECT g, 1 + CAST(round(CAST(g AS DOUBLE)
                   * (CAST(n AS DOUBLE) - 1) / 256.0) AS BIGINT) AS pos
          FROM (SELECT unnest(range(0, 257)) AS g) CROSS JOIN nn
        ), spine AS MATERIALIZED (
          SELECT g AS s_g, v AS norm_value
          FROM grid JOIN pooled ON pos = rn
        ), ranked AS (
          SELECT id, grp, v,
                 CAST(round(percent_rank() OVER
                   (PARTITION BY grp ORDER BY v, id) * 256.0) AS INT) AS gi
          FROM base)
        SELECT id, grp, v AS value, norm_value
        FROM ranked JOIN spine ON gi = s_g
        ORDER BY id"""),
      "Quantile normalization of per-source document lengths onto " +
        "the pooled distribution — the cross-source score-alignment " +
        "primitive (per-source quality scores are not comparable; " +
        "mapping each source through its own CDF onto the pooled " +
        "quantiles makes one global threshold mean the same thing " +
        "everywhere — the microarray recipe applied to curation): " +
        "each row's within-source percent_rank indexes a 257-point " +
        "pooled-quantile spine. No global corpus sort and no big-big " +
        "join: the spine materializes once and broadcasts; ranking " +
        "windows partition per source; ranks are unique via the id " +
        "tiebreak so both engines pick identical spine cells.")
  )
}
