package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{Q, Tables}
import graft.operators.{Dedup, EntityResolution, Sketches, TextAnalysis}
import graft.functions.TextFunctions._

/** Dedup + text-analysis queries over `documents.parquet` — the
  * training-data-pipeline operator family (exact dedup, n-gram Jaccard,
  * MinHash LSH, SimHash, token stats, language ID, fingerprinting).
  */
object DedupTextQueries {

  /** DuckDB: whitespace tokens of text. */
  private val W = "string_split(text, ' ')"

  /** q138's blocklist: 20 patterns over the corpus vocabulary, with
    * multi-word phrases nesting their own word prefixes so the
    * leftmost-longest rule is actually exercised. */
  private[queries] val BigBlocklist = Seq(
    "hash join", "hash", "merge join", "merge", "window agg", "window",
    "sort", "group", "stream", "scan", "filter", "batch", "customer",
    "vector", "spark", "value", "order", "data", "column", "key")
  /** DuckDB: distinct 3-word shingles (mirrors TextFunctions.shingles). */
  private val Shingles3 =
    s"list_distinct(list_transform(range(1, len($W) - 1), i -> $W[i] || ' ' || $W[i+1] || ' ' || $W[i+2]))"

  /** DuckDB CTE chain mirroring [[Dedup.substringSpans]] at n=8,
    * minCount=2, keepFirst=false: positional window md5s → corpus-wide
    * occurrence counts → marked positions → lag/sum span merge. */
  private val SqlSubstrSpans = s"""
        w0 AS (SELECT doc_id, $W AS w FROM documents),
        pos0 AS (SELECT doc_id, w,
                   unnest(range(0, len(w) - 8 + 1)) AS pos FROM w0),
        wins AS (SELECT doc_id, pos,
                   md5(array_to_string(w[pos+1:pos+8], ' ')) AS h FROM pos0),
        dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
        rem AS (SELECT doc_id, pos FROM wins JOIN dup USING (h)),
        flag AS (SELECT doc_id, pos,
          CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                 OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
               THEN 1 ELSE 0 END AS ns FROM rem),
        sp AS (SELECT doc_id, pos,
                 SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
               FROM flag),
        spans AS (SELECT doc_id, MIN(pos) AS span_start,
                    MAX(pos) + 8 AS span_end, COUNT(*) AS n_wins
                  FROM sp GROUP BY doc_id, sid)"""

  /** q41's shingle pair space over `input` (doc_id, `blk`, text): each
    * doc's distinct 3-shingles as `sh`, their counts as `sizes`, and the
    * shingles each same-`blk` doc pair shares as `inter`. */
  private def sqlShingleInter(input: String, blk: String): String = s"""sh AS (
          SELECT doc_id AS doc, $blk AS blk, unnest($Shingles3) AS shingle
          FROM $input
        ), sizes AS (
          SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc
        ), inter AS (
          SELECT a.doc AS a_id, b.doc AS b_id, COUNT(*) AS inter
          FROM sh a JOIN sh b
            ON a.blk = b.blk AND a.shingle = b.shingle AND a.doc < b.doc
          GROUP BY a.doc, b.doc)"""

  /** q41's result over [[sqlShingleInter]]: the pairs whose Jaccard
    * reaches `threshold`. */
  private def sqlJaccardPairs(threshold: Double): String = s"""
        SELECT a_id, b_id, inter,
               sa.n_sh + sb.n_sh - inter AS uni,
               CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc = a_id
        JOIN sizes sb ON sb.doc = b_id
        WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= $threshold
        ORDER BY a_id, b_id"""

  /** The q53 pair graph: q41's source-blocked pairs at Jaccard >= 0.02. */
  private def dupPairs(docs: DataFrame): DataFrame =
    Dedup.jaccardPairs(docs, "doc_id", "text",
      block = "source", n = 3, threshold = 0.02)

  /** The oracle of [[dupPairs]] as `pairs` (a_id, b_id). */
  private val SqlDupPairs = s"""${sqlShingleInter("documents", "source")}, pairs AS (
          SELECT a_id, b_id FROM inter
          JOIN sizes sa ON sa.doc = a_id
          JOIN sizes sb ON sb.doc = b_id
          WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.02)"""

  /** q53's clusters over [[SqlDupPairs]]: `comp` (v, comp) maps every
    * paired doc to the least doc id it reaches. Needs WITH RECURSIVE. */
  private val SqlDupComp = s"""$SqlDupPairs, edges AS (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION SELECT b_id, a_id FROM pairs
        ), walk(v, comp) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.v
        ), comp AS (
          SELECT v, MIN(comp) AS comp FROM walk GROUP BY v
        )"""

  /** The oracle of `Graph.pageRank(iters = 3)` over `edges` (src, dst)
    * and the nodes `id` of `nodes`: three damped power iterations,
    * decimal-locked like the operator (contribution terms and dangling
    * mass round to 14dp and sum as DECIMAL, order-independent; ranks
    * re-round to 12dp per pass). Emits `deg`, `nn` and `r0`..`r3`
    * (v, r), with a trailing comma. */
  private def sqlPageRank(nodes: String, id: String): String = {
    def step(i: Int): String = {
      val p = s"r${i - 1}"
      s"""
        c$i AS (
          SELECT e.dst AS v,
                 CAST(SUM(CAST(round($p.r / deg.outd, 14) AS DECIMAL(28,14))) AS DOUBLE) AS c
          FROM edges e JOIN $p ON $p.v = e.src JOIN deg ON deg.v = e.src
          GROUP BY 1
        ), d$i AS (
          SELECT COALESCE(CAST(SUM(CAST(round(x.r, 14) AS DECIMAL(28,14))) AS DOUBLE), 0.0) AS dang
          FROM $p x ANTI JOIN deg ON deg.v = x.v
        ), r$i AS (
          SELECT $p.v,
                 round((1.0 - 0.85) / nn.nd +
                       0.85 * (COALESCE(c$i.c, 0.0) + d$i.dang / nn.nd), 12) AS r
          FROM $p LEFT JOIN c$i ON c$i.v = $p.v, d$i, nn
        ),"""
    }
    s"""deg AS (
          SELECT src AS v, COUNT(*) AS outd FROM edges GROUP BY 1
        ), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM $nodes
        ), r0 AS (
          SELECT $id AS v, round(1.0 / nn.nd, 12) AS r FROM $nodes, nn
        ),${step(1)}${step(2)}${step(3)}"""
  }

  def all: Seq[(String, Q)] = Seq(

    // ---- q40: exact dedup groups ----------------------------------------
    "q40_dedup_exact" -> Q(
      (s, d) => Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")
        .select(col("keep_id"), col("n_copies"), col("content_hash"))
        .orderBy(col("keep_id")),
      Some("""
        SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
               md5(text) AS content_hash
        FROM documents
        GROUP BY md5(text)
        ORDER BY keep_id"""),
      "Exact dedup: one shuffle on a 16-byte digest, never on raw text."),

    // ---- q41: exact n-gram Jaccard near-dup pairs ------------------------
    "q41_jaccard_pairs" -> Q(
      (s, d) => Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text",
          block = "source", n = 3, threshold = 0.02)
        .orderBy(col("a_id"), col("b_id")),
      Some(s"""
        WITH ${sqlShingleInter("documents", "source")}${sqlJaccardPairs(0.02)}"""),
      "Exact 3-shingle Jaccard, blocked by source to bound the pair space."),

    // ---- q139: exact all-pairs Jaccard via prefix filtering ---------------
    // corpus = documents ∪ deterministic 60%-truncated copies (id +
    // 10^7): every doc then has a known ~0.6-Jaccard near-dup, so the
    // t = 0.4 threshold is a REAL near-dup cut and the prefix filter
    // genuinely prunes (each doc indexes only its ~60% rarest
    // shingles; unrelated docs almost never share those)
    "q139_prefix_jaccard" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val w = split(col("text"), " ")
        val truncated = docs.select(
          (col("doc_id") + 10000000L).as("doc_id"),
          array_join(slice(w, lit(1),
            greatest(floor(size(w) * 0.6).cast("int"), lit(1))), " ").as("text"))
        Dedup.prefixJaccardPairs(docs.unionByName(truncated),
            "doc_id", "text", n = 3, threshold = 0.4)
          .orderBy(col("a_id"), col("b_id"))
      },
      Some(s"""
        WITH w0 AS (
          SELECT doc_id, $W AS w FROM documents
        ), corpus AS (
          SELECT doc_id, array_to_string(w, ' ') AS text FROM w0
          UNION ALL
          SELECT doc_id + 10000000,
                 array_to_string(w[1:greatest(CAST(floor(0.6 * len(w)) AS INT), 1)], ' ')
          FROM w0
        ), ${sqlShingleInter("corpus", "0")}${sqlJaccardPairs(0.4)}"""),
      "EXACT all-pairs near-dup Jaccard (t=0.4) with NO blocking key: " +
        "All-Pairs/PPJoin prefix filtering — rare-first global shingle " +
        "order, per-doc prefix cut, candidates only from shared RARE " +
        "prefix hashes, exact array-intersection verify on candidates. " +
        "Hash-equal to the quadratic oracle (lossless candidate " +
        "generation by pigeonhole) while the pair space never " +
        "materializes — the exact complement of the LSH recall family. " +
        "Inputs are the corpus plus deterministic truncated copies so " +
        "the threshold cuts through real near-duplicates."),

    // ---- q42: token statistics / quality scoring -------------------------
    "q42_text_stats" -> Q(
      (s, d) => {
        val w = tokens(col("text"))
        Tables.documents(s, d).select(
          col("doc_id"),
          size(w).as("n_tokens"),
          size(array_distinct(w)).as("n_uniq"),
          aggregate(transform(w, t => length(t).cast("long")), lit(0L), (a, x) => a + x).as("sum_len"),
          (aggregate(transform(w, t => length(t).cast("long")), lit(0L), (a, x) => a + x).cast("double") /
            size(w)).as("avg_word_len"),
          (stopwordCount(col("text"), Seq("the", "a")).cast("double") / size(w)).as("stop_ratio"),
          (size(array_distinct(w)).cast("double") / size(w)).as("ttr"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        SELECT doc_id,
          CAST(len($W) AS INT) AS n_tokens,
          CAST(len(list_distinct($W)) AS INT) AS n_uniq,
          CAST(list_aggregate(list_transform($W, t -> CAST(length(t) AS BIGINT)), 'sum') AS BIGINT) AS sum_len,
          CAST(list_aggregate(list_transform($W, t -> CAST(length(t) AS BIGINT)), 'sum') AS DOUBLE)
            / len($W) AS avg_word_len,
          CAST(len(list_filter($W, t -> t = 'the' OR t = 'a')) AS DOUBLE) / len($W) AS stop_ratio,
          CAST(len(list_distinct($W)) AS DOUBLE) / len($W) AS ttr
        FROM documents
        ORDER BY doc_id"""),
      "Shuffle-free per-doc quality stats via higher-order functions."),

    // ---- q43: language-ID heuristic --------------------------------------
    "q43_langid" -> Q(
      (s, d) => {
        val w = tokens(col("text"))
        def score(words: Seq[String]) =
          size(filter(w, t => t.isin(words.map(x => x: Any): _*)))
        val sEn = score(Seq("the", "a")); val sEs = score(Seq("data", "value"))
        val sDe = score(Seq("batch", "stream")); val sFr = score(Seq("table", "row"))
        val sZh = score(Seq("hash", "key"))
        Tables.documents(s, d).select(
          col("doc_id"),
          sEn.as("s_en"), sEs.as("s_es"), sDe.as("s_de"), sFr.as("s_fr"), sZh.as("s_zh"),
          when(sEn >= sEs && sEn >= sDe && sEn >= sFr && sEn >= sZh, "en")
            .when(sEs >= sDe && sEs >= sFr && sEs >= sZh, "es")
            .when(sDe >= sFr && sDe >= sZh, "de")
            .when(sFr >= sZh, "fr")
            .otherwise("zh").as("pred_lang"),
          col("lang"))
          .withColumn("correct", col("pred_lang") === col("lang"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH sc AS (
          SELECT doc_id, lang,
            CAST(len(list_filter($W, t -> t = 'the' OR t = 'a')) AS INT) AS s_en,
            CAST(len(list_filter($W, t -> t = 'data' OR t = 'value')) AS INT) AS s_es,
            CAST(len(list_filter($W, t -> t = 'batch' OR t = 'stream')) AS INT) AS s_de,
            CAST(len(list_filter($W, t -> t = 'table' OR t = 'row')) AS INT) AS s_fr,
            CAST(len(list_filter($W, t -> t = 'hash' OR t = 'key')) AS INT) AS s_zh
          FROM documents)
        SELECT doc_id, s_en, s_es, s_de, s_fr, s_zh,
          CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
               WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
               WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
               WHEN s_fr >= s_zh THEN 'fr'
               ELSE 'zh' END AS pred_lang,
          lang,
          (CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
               WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
               WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
               WHEN s_fr >= s_zh THEN 'fr'
               ELSE 'zh' END) = lang AS correct
        FROM sc
        ORDER BY doc_id"""),
      "Marker-token n-gram language heuristic with deterministic argmax."),

    // ---- q44: document fingerprint (rolling hash) ------------------------
    "q44_fingerprint" -> Q(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"),
                col("n_chars"))
        .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, CAST(length(text) AS BIGINT) + 1),
                             i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
            (h, c) -> (h * 31 + c) % 1000000007) AS fp,
          n_chars
        FROM documents
        ORDER BY doc_id"""),
      "Order-sensitive polynomial rolling hash mod 1e9+7 per document."),

    // ---- q45: MinHash + LSH banding (oracle: md5 permutation family) -----
    "q45_minhash_lsh" -> Q(
      (s, d) => Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text",
          shingleN = 3, numPerm = 32, bands = 8)
        .orderBy(col("a_id"), col("b_id")),
      Some(OracleGen.q45Sql(Shingles3, numPerm = 32, bands = 8)),
      "MinHash(32)/8-band LSH candidates; md5-derived permutations make " +
        "the full signature/banding path hash-checkable; recall vs q41 " +
        "in tests."),

    // ---- q46: SimHash hamming pairs (oracle: exhaustive md5-bit twin) ----
    "q46_simhash" -> Q(
      (s, d) => Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
          block = "source", maxHamming = 8)
        .orderBy(col("a_id"), col("b_id")),
      Some(OracleGen.q46Sql(maxHamming = 8)),
      "64-bit SimHash; near-dups at hamming<=8 within a source block. " +
        "Banded candidates rescore to the exhaustive pair set, which " +
        "the md5-bit oracle recomputes directly."),

    // ---- q48: TF-IDF top terms per document -------------------------------
    "q48_tfidf_topterms" -> Q(
      (s, d) => TextAnalysis.tfIdfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank")),
      Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest($W) AS term FROM documents
        ), tf AS (
          SELECT doc_id, term, COUNT(*) AS cnt FROM tok GROUP BY doc_id, term
        ), df AS (
          SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ), n AS (SELECT COUNT(*) AS n FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.cnt, df.df,
                 CAST(tf.cnt AS DOUBLE) * n.n / df.df AS score
          FROM tf JOIN df USING (term) CROSS JOIN n),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER
            (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
          FROM scored)
        SELECT doc_id, CAST(rank AS INT) AS rank, term, cnt, df, score
        FROM ranked WHERE rank <= 3
        ORDER BY doc_id, rank"""),
      "Inverted-index TF-IDF: per-(doc,term) counts with map-side combine, " +
        "term-keyed DF agg, log-free rational score for cross-engine exactness."),

    // ---- q49: deterministic content-hash dataset split --------------------
    "q49_hash_split" -> Q(
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.hashBucket(col("text")).as("bucket"),
          TextAnalysis.hashSplit(col("text")).as("split"))
        .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id,
          CAST(concat('0x', substr(md5(text), 1, 4)) AS INT) % 100 AS bucket,
          CASE WHEN CAST(concat('0x', substr(md5(text), 1, 4)) AS INT) % 100 < 80 THEN 'train'
               WHEN CAST(concat('0x', substr(md5(text), 1, 4)) AS INT) % 100 < 90 THEN 'val'
               ELSE 'test' END AS split
        FROM documents
        ORDER BY doc_id"""),
      "Leak-proof train/val/test assignment from the content hash: " +
        "duplicate docs co-split on any cluster/partitioning; no shuffle."),

    // ---- q52: blocklist scan + redaction (PII machinery) ------------------
    "q52_blocklist_scan" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sc = blocklistScan(col("text"),
          Seq("customer", "vector", "spark"), "[X]")
        docs.select(col("doc_id"),
          sc.getField("n_hits").as("n_hits"),
          md5(sc.getField("redacted")).as("redacted_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '\b(customer|vector|spark)\b')) AS INT) AS n_hits,
          md5(regexp_replace(text, '\b(customer|vector|spark)\b', '[X]', 'g')) AS redacted_md5
        FROM documents
        ORDER BY doc_id"""),
      "Blocklist/PII scrub through the single-pass trie expression " +
        "(BlocklistScan): count + redaction from one walk, cost " +
        "independent of the blocklist size — hash-equal to the regex " +
        "alternation oracle; planted-PII patterns in TextAnalysisSpec."),

    // ---- q138: large-blocklist trie scrub with phrase patterns ------------
    "q138_blocklist_trie" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // 20 patterns including multi-word phrases that NEST their
        // word prefixes — leftmost-longest must pick the phrase
        val sc = blocklistScan(col("text"),
          DedupTextQueries.BigBlocklist, "[X]")
        docs.select(col("doc_id"),
          sc.getField("n_hits").as("n_hits"),
          md5(sc.getField("redacted")).as("redacted_md5"))
          .orderBy(col("doc_id"))
      },
      Some {
        // leftmost-first + longest-first alternation == the trie's
        // leftmost-longest
        val alt = DedupTextQueries.BigBlocklist
          .sortBy(p => (-p.length, p)).mkString("|")
        s"""
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '\\b($alt)\\b')) AS INT) AS n_hits,
          md5(regexp_replace(text, '\\b($alt)\\b', '[X]', 'g')) AS redacted_md5
        FROM documents
        ORDER BY doc_id"""
      },
      "The scale form of q52: a 20-pattern blocklist with nested " +
        "multi-word phrases (hash join > hash) through one trie walk " +
        "per document — the pass the alternation form re-runs per " +
        "pattern. 10x the blocklist = the same scan."),

    // ---- q53: dup clusters (connected components + canonical keep) --------
    "q53_dup_clusters" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = dupPairs(docs)
        Dedup.dupClusters(docs, "doc_id", pairs).orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE $SqlDupComp
        SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS component,
               COALESCE(c.comp, d.doc_id) = d.doc_id AS is_canonical
        FROM documents d LEFT JOIN comp c ON c.v = d.doc_id
        ORDER BY doc_id"""),
      "Near-dup clustering: min-label propagation over the Jaccard pair " +
        "graph (O(diameter) passes, (long,long) shuffles) + canonical keep."),

    // ---- q205: label-propagation communities over the dup graph -----------
    "q205_lpa_communities" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = dupPairs(docs)
        graft.operators.Graph.labelPropagation(pairs, "a_id", "b_id",
            rounds = 4)
          .select(col("v").as("doc_id"), col("community"))
          .orderBy(col("doc_id"))
      },
      Some {
        val rounds = (1 to 4).map { i =>
          s""",
        l$i AS MATERIALIZED (
          SELECT v, lab FROM (
            SELECT n.v, l.lab, COUNT(*) AS cnt,
                   ROW_NUMBER() OVER (PARTITION BY n.v
                     ORDER BY COUNT(*) DESC, l.lab) AS rn
            FROM nb n JOIN l${i - 1} l ON l.v = n.u
            GROUP BY n.v, l.lab) WHERE rn = 1)"""
        }.mkString
        s"""
        WITH sh AS MATERIALIZED (
          SELECT doc_id AS doc, source AS blk, unnest($Shingles3) AS shingle
          FROM documents
        ), sizes AS MATERIALIZED (
          SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc
        ), inter AS MATERIALIZED (
          SELECT a.doc AS a_id, b.doc AS b_id, COUNT(*) AS inter
          FROM sh a JOIN sh b
            ON a.blk = b.blk AND a.shingle = b.shingle AND a.doc < b.doc
          GROUP BY a.doc, b.doc
        ), pairs AS MATERIALIZED (
          SELECT a_id, b_id FROM inter
          JOIN sizes sa ON sa.doc = a_id
          JOIN sizes sb ON sb.doc = b_id
          WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.02
        ), nb AS MATERIALIZED (
          SELECT a_id AS v, b_id AS u FROM pairs
          UNION ALL SELECT b_id, a_id FROM pairs
        ), l0 AS MATERIALIZED (
          SELECT DISTINCT v, v AS lab FROM nb)$rounds
        SELECT v AS doc_id, lab AS community FROM l4 ORDER BY doc_id"""
      },
      "Synchronous label-propagation communities (4 deterministic " +
        "rounds, smallest-label tiebreak) over the same Jaccard pair " +
        "graph q53 clusters by reachability — LPA keeps DENSE near-dup " +
        "regions together without chaining through sparse bridges, the " +
        "community-granular view canonical selection and co-split " +
        "want. Per round: one label-stamping equi-join + one (node, " +
        "label) count + one per-node argmax window, all on the sparse " +
        "pair graph, never the corpus."),

    // ---- q69: incremental dedup against a seen-digest index ---------------
    "q69_incremental_dedup" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // id-OVERLAPPING split (ids < 8/10 of max are "already ingested",
        // ids >= 6/10 are "the next crawl batch"): the overlap region's
        // content IS in the seen index, so the anti-join genuinely drops
        // rows — a content-derived split would make it vacuous
        val cut = docs.agg(max(col("doc_id"))).head.getLong(0)
        val seen = docs.filter(col("doc_id") < cut * 8 / 10)
          .select(md5(col("text")).as("h"))
        val incoming = docs.filter(col("doc_id") >= cut * 6 / 10)
        Dedup.incrementalNew(incoming, "doc_id", "text", seen, "h")
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH cut AS (
          SELECT MAX(doc_id) AS m FROM documents
        ), seen AS (
          SELECT DISTINCT md5(text) AS content_hash
          FROM documents, cut WHERE doc_id < m * 8 // 10
        ), incoming AS (
          SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id,
                 COUNT(*) AS n_in_batch
          FROM documents, cut WHERE doc_id >= m * 6 // 10 GROUP BY 1
        )
        SELECT i.content_hash, i.doc_id, i.n_in_batch
        FROM incoming i ANTI JOIN seen s USING (content_hash)
        ORDER BY doc_id"""),
      "Append-only ingestion dedup: batch collapses internally, then " +
        "anti-joins the 16-byte digest index of everything seen before."),

    // ---- q47: regex (BPE-ish) tokenization -------------------------------
    "q47_regex_tokens" -> Q(
      (s, d) => {
        val rt = regexTokens(col("text"))
        Tables.documents(s, d).select(
          col("doc_id"),
          size(rt).as("n_rtokens"),
          size(array_distinct(rt)).as("n_uniq_rtokens"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_rtokens,
          CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS INT) AS n_uniq_rtokens
        FROM documents
        ORDER BY doc_id"""),
      "Regex tokenizer (lowercase/digit/symbol classes) as a projection."),

    // ---- q86: cross-source duplicate-overlap matrix ------------------------
    "q86_source_overlap" -> Q(
      (s, d) => Dedup.sourceOverlap(Tables.documents(s, d), "source", "text", n = 3)
        .orderBy(col("src_a"), col("src_b")),
      Some(s"""
        WITH ds AS (
          SELECT DISTINCT src, sh FROM (
            SELECT source AS src, unnest($Shingles3) AS sh FROM documents)
        ), per AS (
          SELECT src, COUNT(*) AS n FROM ds GROUP BY src
        ), p AS (
          SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_shared
          FROM ds a JOIN ds b ON a.sh = b.sh AND a.src < b.src
          GROUP BY a.src, b.src
        )
        SELECT p.src_a, p.src_b, p.n_shared, pa.n AS n_a, pb.n AS n_b,
               round(CAST(p.n_shared AS DOUBLE) / (pa.n + pb.n - p.n_shared), 6)
                 AS jaccard
        FROM p
        JOIN per pa ON pa.src = p.src_a
        JOIN per pb ON pb.src = p.src_b
        ORDER BY p.src_a, p.src_b"""),
      "Which sources duplicate each other: per-shingle source sets " +
        "(bounded by the source count) expanded to pairs — the overlap " +
        "matrix costs |sources|^2/2 rows however big the corpus; no " +
        "doc-pair join anywhere."),

    // ---- q302: KMV-sketch source overlap (q86's 100x sketch twin) --------
    "q302_kmv_source_overlap" -> Q(
      (s, d) => {
        // native single-pass shingles: the declarative transform/
        // sequence form is an interpreted higher-order lambda that
        // re-evaluates element_at per shingle word (measured 3.5 s of
        // q302's 4.8 s at sf0.1); shingle_strings emits the identical
        // distinct 3-shingle set (same space-split tokens, same
        // short-doc contract as the oracle's range(1, len-1)).
        // Short-doc contract note: docs under 3 words emit NO shingles
        // (matching the oracle), unlike the old shinglesFromWords
        // convenience form which emitted one degenerate all-words
        // shingle — the fixture has no sub-3-word docs, but the oracle
        // pins the contract if one ever appears
        val sh = Tables.documents(s, d).select(col("source"),
          explode(shingleStrings(col("text"), 3, distinct = true)).as("sh"))
        graft.operators.Sketches.kmvPairJaccard(sh, "source", "sh", k = 256)
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(s"""
        WITH ds AS MATERIALIZED (
          SELECT DISTINCT src,
                 CAST(concat('0x', substr(md5(sh), 1, 13)) AS BIGINT) AS h
          FROM (SELECT source AS src, unnest($Shingles3) AS sh
                FROM documents)),
        bot AS MATERIALIZED (
          SELECT src, h FROM (
            SELECT src, h,
                   ROW_NUMBER() OVER (PARTITION BY src ORDER BY h) AS rn
            FROM ds) WHERE rn <= 256),
        pe AS (
          SELECT src,
                 round(CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
                       ELSE 255e0 * 4503599627370496e0 /
                            CAST(MAX(h) AS DOUBLE) END, 4) AS est
          FROM bot GROUP BY src),
        keys AS (
          SELECT a.src AS src_a, b.src AS src_b
          FROM (SELECT DISTINCT src FROM bot) a,
               (SELECT DISTINCT src FROM bot) b
          WHERE a.src < b.src),
        m AS (
          SELECT DISTINCT k.src_a, k.src_b, x.h
          FROM keys k JOIN bot x ON x.src = k.src_a OR x.src = k.src_b),
        mb AS (
          SELECT src_a, src_b, h FROM (
            SELECT src_a, src_b, h, ROW_NUMBER() OVER
              (PARTITION BY src_a, src_b ORDER BY h) AS rn
            FROM m) WHERE rn <= 256),
        ue AS (
          SELECT src_a, src_b,
                 round(CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
                       ELSE 255e0 * 4503599627370496e0 /
                            CAST(MAX(h) AS DOUBLE) END, 4) AS est_union
          FROM mb GROUP BY 1, 2)
        SELECT ue.src_a, ue.src_b, pa.est AS est_a, pb.est AS est_b,
               ue.est_union,
               GREATEST(pa.est + pb.est - ue.est_union, 0.0) AS est_inter,
               GREATEST(pa.est + pb.est - ue.est_union, 0.0) / ue.est_union
                 AS jaccard_est
        FROM ue JOIN pe pa ON pa.src = ue.src_a
        JOIN pe pb ON pb.src = ue.src_b
        ORDER BY src_a, src_b"""),
      "q86's sketch twin: per-source bottom-256 KMV sketches of the " +
        "3-shingle sets (ONE corpus pass), pairwise union estimates " +
        "from the min-wise sketch merge, intersection by inclusion-" +
        "exclusion, Jaccard as their ratio. At 100 TB the exact form " +
        "shuffles per-shingle source sets corpus-wide; this touches " +
        "the corpus once and the |sources|^2/2 pair space works on " +
        "256-row sketches only. The pinned 4-decimal estimator makes " +
        "every derived number oracle-portable."),

    // ---- q100: exact-substring duplicate spans --------------------------
    "q100_substring_spans" -> Q(
      (s, d) => Dedup.substringSpans(Tables.documents(s, d), "doc_id", "text",
          n = 8)
        .orderBy(col("doc_id"), col("span_start")),
      Some(s"""
        WITH $SqlSubstrSpans
        SELECT doc_id, span_start, span_end, n_wins
        FROM spans
        ORDER BY doc_id, span_start"""),
      "Exact-substring dedup spans (Lee et al. 2021 ExactSubstr): " +
        "corpus-duplicated 8-token windows merged into maximal removal " +
        "spans. One digest aggregation + a 1:1 mark join + a " +
        "per-document window merge — no pair space, linear at 100 TB."),

    // ---- q101: cleaned corpus after substring dedup ---------------------
    "q101_substring_clean" -> Q(
      (s, d) => Dedup.substringDedupClean(Tables.documents(s, d), "doc_id",
          "text", n = 8)
        .orderBy(col("doc_id")),
      Some(s"""
        WITH $SqlSubstrSpans,
        tok AS (
          SELECT doc_id, w, unnest(range(0, len(w))) AS pos FROM w0),
        tk AS (SELECT doc_id, pos, w[pos+1] AS t FROM tok),
        keep AS (
          SELECT t.doc_id, t.pos, t.t FROM tk t
          WHERE NOT EXISTS (SELECT 1 FROM spans s
            WHERE s.doc_id = t.doc_id
              AND t.pos >= s.span_start AND t.pos < s.span_end)),
        agg AS (
          SELECT doc_id, COUNT(*) AS n_kept,
                 md5(string_agg(t, ' ' ORDER BY pos)) AS clean_md5
          FROM keep GROUP BY doc_id)
        SELECT w0.doc_id,
               COALESCE(a.n_kept, 0) AS n_kept,
               CAST(len(w0.w) AS BIGINT) - COALESCE(a.n_kept, 0) AS n_removed,
               COALESCE(a.clean_md5, md5('')) AS clean_md5
        FROM w0 LEFT JOIN agg a USING (doc_id)
        ORDER BY w0.doc_id"""),
      "The cleaned corpus after exact-substring span removal: kept and " +
        "removed token counts plus the md5 of the cleaned bytes per doc " +
        "— span lists join back id-keyed and tokens filter via a " +
        "higher-order projection, so the corpus is never token-exploded " +
        "on the apply side."),

    // ---- q109: Shannon-entropy quality signals ---------------------------
    "q109_entropy" -> Q(
      (s, d) => TextAnalysis.entropyStats(Tables.documents(s, d),
          "doc_id", "text")
        .orderBy(col("doc_id")),
      Some(s"""
        WITH ch AS (
          SELECT doc_id, strlen(text) AS n, unnest(string_split(text, '')) AS sym
          FROM documents
        ), chc AS (
          SELECT doc_id, n, sym, COUNT(*) AS cnt FROM ch GROUP BY 1, 2, 3
        ), che AS (
          SELECT doc_id, n AS n_chars,
                 round(CAST(SUM(CAST(round(
                   -(CAST(cnt AS DOUBLE)/CAST(n AS DOUBLE)) *
                     log2(CAST(cnt AS DOUBLE)/CAST(n AS DOUBLE)), 12)
                   AS DECIMAL(28,12))) AS DOUBLE), 6) AS char_entropy
          FROM chc GROUP BY doc_id, n
        ), tk AS (
          SELECT doc_id, len($W) AS n, unnest($W) AS sym FROM documents
        ), tkc AS (
          SELECT doc_id, n, sym, COUNT(*) AS cnt FROM tk GROUP BY 1, 2, 3
        ), tke AS (
          SELECT doc_id, n AS n_tokens,
                 round(CAST(SUM(CAST(round(
                   -(CAST(cnt AS DOUBLE)/CAST(n AS DOUBLE)) *
                     log2(CAST(cnt AS DOUBLE)/CAST(n AS DOUBLE)), 12)
                   AS DECIMAL(28,12))) AS DOUBLE), 6) AS token_entropy,
                 round(CAST(COUNT(*) AS DOUBLE)/CAST(n AS DOUBLE), 6) AS ttr
          FROM tkc GROUP BY doc_id, n
        )
        SELECT che.doc_id, CAST(n_chars AS INT) AS n_chars,
               CAST(n_tokens AS INT) AS n_tokens,
               char_entropy, token_entropy, ttr
        FROM che JOIN tke ON tke.doc_id = che.doc_id
        ORDER BY che.doc_id"""),
      "Compression-proxy quality filter: per-doc character/token Shannon " +
        "entropy + type-token ratio. Symbol-count shuffles carry one row " +
        "per DISTINCT symbol per doc; -p*log2(p) terms round to 12dp and " +
        "sum as DECIMAL so the result is summation-order-independent and " +
        "hash-stable across engines."),

    // ---- q110: Heaps-law vocabulary growth curve -------------------------
    "q110_vocab_growth" -> Q(
      (s, d) => TextAnalysis.vocabGrowth(Tables.documents(s, d),
          "doc_id", "text", nBuckets = 20),
      Some(s"""
        WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
        d AS (
          SELECT doc_id,
                 CAST(floor(doc_id * 20 / (mx.m + 1)) AS INT) AS bucket,
                 $W AS w
          FROM documents, mx
        ), toks AS (
          SELECT bucket, unnest(w) AS t FROM d
        ), fs AS (
          SELECT MIN(bucket) AS bucket FROM toks GROUP BY t
        ), nv AS (
          SELECT bucket, COUNT(*) AS new_vocab FROM fs GROUP BY 1
        ), pb AS (
          SELECT bucket, COUNT(*) AS n_docs,
                 CAST(SUM(CAST(len(w) AS BIGINT)) AS BIGINT) AS bucket_tokens
          FROM d GROUP BY 1
        )
        SELECT pb.bucket, pb.n_docs, pb.bucket_tokens,
               CAST(SUM(pb.bucket_tokens) OVER (ORDER BY pb.bucket) AS BIGINT) AS cum_tokens,
               COALESCE(nv.new_vocab, 0) AS new_vocab,
               CAST(SUM(COALESCE(nv.new_vocab, 0)) OVER (ORDER BY pb.bucket) AS BIGINT) AS cum_vocab
        FROM pb LEFT JOIN nv ON nv.bucket = pb.bucket
        ORDER BY pb.bucket"""),
      "Heaps-law vocabulary growth: cumulative distinct tokens vs " +
        "cumulative corpus size at 20 id-range checkpoints. First " +
        "occurrence is one token-keyed min(bucket) aggregation; the " +
        "cumulative window runs over 20 rows, never the corpus — the " +
        "'is more data still adding vocabulary' curation diagnostic."),

    // ---- q111: PageRank centrality over the duplicate graph --------------
    "q111_pagerank" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = dupPairs(docs)
        val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
          .unionAll(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
        graft.operators.Graph.pageRank(docs.select(col("doc_id")), "doc_id",
            edges, "src", "dst", iters = 3)
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH $SqlDupPairs, edges AS (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION ALL SELECT b_id, a_id FROM pairs
        ), ${sqlPageRank("documents", "doc_id")}
        fin AS (SELECT v, r FROM r3)
        SELECT v AS doc_id, round(r, 9) AS pr FROM fin ORDER BY v"""),
      "PageRank over the near-dup pair graph (3 damped power iterations " +
        "with dangling-mass redistribution): duplication-structure " +
        "centrality for canonical selection. Each pass shuffles one row " +
        "per node; decimal-summed 14dp terms + 12dp per-pass re-rounding " +
        "keep the iterative float walk bit-identical across engines."),

    // ---- q114: weighted sampling without replacement ---------------------
    "q123_length_fences" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // exact quartiles per language over the bounded length domain,
        // Tukey 1.5·IQR fences, per-doc keep flag — the robust
        // length-outlier gate (truncation/concatenation artifacts)
        val q = graft.operators.Sketches.exactQuantiles(
            docs, "lang", "n_chars", qs = Seq(0.25, 0.75))
          .groupBy(col("lang"))
          .agg(min(when(col("q") === 0.25, col("quantile_disc"))).as("q1"),
               min(when(col("q") === 0.75, col("quantile_disc"))).as("q3"))
          .withColumn("iqr", col("q3") - col("q1"))
          .withColumn("lo", col("q1") - lit(1.5) * col("iqr"))
          .withColumn("hi", col("q3") + lit(1.5) * col("iqr"))
        docs.join(broadcast(q), "lang")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            col("lo"), col("hi"),
            (col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
              .as("keep"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH f AS (
          SELECT lang AS g, n_chars AS v, COUNT(*) AS cnt
          FROM documents GROUP BY 1, 2
        ), c AS (
          SELECT g, v, cnt,
                 SUM(cnt) OVER (PARTITION BY g ORDER BY v) AS cum,
                 SUM(cnt) OVER (PARTITION BY g) AS n
          FROM f
        ), qv AS (SELECT unnest([0.25, 0.75]) AS q)
        , qq AS (
          SELECT g, q, v AS qd
          FROM c CROSS JOIN qv
          WHERE cum >= greatest(ceil(q * n), 1)
            AND cum - cnt < greatest(ceil(q * n), 1)
        ), fences AS (
          SELECT g AS lang,
                 MIN(CASE WHEN q = 0.25 THEN qd END) AS q1,
                 MIN(CASE WHEN q = 0.75 THEN qd END) AS q3
          FROM qq GROUP BY g
        )
        SELECT d.doc_id, d.lang, d.n_chars,
               f.q1 - 1.5 * (f.q3 - f.q1) AS lo,
               f.q3 + 1.5 * (f.q3 - f.q1) AS hi,
               d.n_chars >= f.q1 - 1.5 * (f.q3 - f.q1) AND
               d.n_chars <= f.q3 + 1.5 * (f.q3 - f.q1) AS keep
        FROM documents d JOIN fences f USING (lang)
        ORDER BY d.doc_id"""),
      "Robust per-language length gate: exact quartiles (q119's " +
        "sort-free path), Tukey 1.5*IQR fences broadcast back, per-doc " +
        "keep flag — the classic truncation/concat artifact filter. " +
        "Bounded frequency-table shuffle only; gating is a projection."),

    "q114_weighted_sample" -> Q(
      (s, d) => TextAnalysis.weightedSample(Tables.documents(s, d),
          "doc_id", col("n_chars"), "source", k = 5)
        .orderBy(col("source"), col("rank")),
      Some("""
        WITH keyed AS (
          SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS w,
                 round(-ln((CAST(CAST(concat('0x',
                     substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 13))
                     AS BIGINT) AS DOUBLE) + 1.0) / 4503599627370496.0)
                   / CAST(n_chars AS DOUBLE), 12) AS key
          FROM documents
        ), r AS (
          SELECT source, doc_id, w, key, ROW_NUMBER() OVER
            (PARTITION BY source ORDER BY key, doc_id) AS rank
          FROM keyed
        )
        SELECT source, CAST(rank AS INT) AS rank, doc_id, w, key
        FROM r WHERE rank <= 5
        ORDER BY source, rank"""),
      "Quality-weighted sampling without replacement (Efraimidis-" +
        "Spirakis): deterministic md5 exponential clocks, k smallest " +
        "-ln(u)/w keys per source — P(pick) proportional to n_chars with " +
        "no RNG, stable under any partitioning or re-run. One projection " +
        "+ one per-stratum top-k window; 12dp key rounding makes the " +
        "rank walk engine-exact."),

    // ---- q142: FastSS edit-distance-1 entity-resolution join --------------
    "q142_fastss_editjoin" -> Q(
      (s, d) => EntityResolution.editDistanceOnePairs(
          Tables.customer(s, d), "c_custkey", "c_name")
        .orderBy(col("a_id"), col("b_id")),
      Some("""
        SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
               a.c_name AS a_name, b.c_name AS b_name,
               CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 1
        ORDER BY a_id, b_id"""),
      "Fuzzy entity resolution under edit distance 1 via FastSS " +
        "deletion neighborhoods: each name explodes into len+1 deletion " +
        "variants, candidates come from an EQUI-join on those blocking " +
        "keys (two names are within ed 1 iff they share one), and the " +
        "exact codegen'd levenshtein verifies candidates only. " +
        "Hash-equal to the quadratic oracle scan while the engine side " +
        "never plans a cross join — the record-linkage shape for " +
        "author/site dedup at 100 TB."),

    // ---- q145: Misra-Gries two-pass exact heavy hitters -------------------
    "q145_heavy_hitters" -> Q(
      (s, d) => Sketches.heavyHitters(
          Tables.documents(s, d)
            .select(explode(split(col("text"), " ")).as("tok")),
          "tok", k = 30),
      Some(s"""
        WITH t AS (SELECT unnest($W) AS tok FROM documents),
        c AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY 1),
        tot AS (SELECT SUM(n) AS total FROM c)
        SELECT tok, n,
               round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS frac
        FROM c CROSS JOIN tot
        WHERE n * 31 > total
        ORDER BY n DESC, tok"""),
      "Exact heavy hitters at sketch cost: per-partition Misra-Gries " +
        "(k=30 counters) emits candidate keys only — a guaranteed " +
        "superset of every token above N/31 frequency — then one exact " +
        "count pass over the broadcast-semi-filtered candidates. The " +
        "full vocabulary never shuffles; the integer threshold filter " +
        "makes the output deterministic under any partitioning. k=30 " +
        "against a 31-token corpus vocabulary forces real MG " +
        "evictions, so the candidate pruning is exercised, not " +
        "vacuous."),

    // ---- q153: containment dedup (short-inside-long detection) ------------
    // corpus = documents ∪ 60%-truncated copies carrying the SAME
    // source (so every true containment pair is within-block); the
    // truncated copy's shingle set is a subset of the original's ->
    // containment ~1.0 where Jaccard would read only ~0.6
    "q153_containment_pairs" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("text"))
        val w = split(col("text"), " ")
        val truncated = docs.select(
          (col("doc_id") + 10000000L).as("doc_id"), col("source"),
          array_join(slice(w, lit(1),
            greatest(floor(size(w) * 0.6).cast("int"), lit(1))), " ").as("text"))
        Dedup.containmentPairs(docs.unionByName(truncated),
            "doc_id", "text", block = "source", n = 3, threshold = 0.9)
          .orderBy(col("a_id"), col("b_id"))
      },
      Some(s"""
        WITH w0 AS (
          SELECT doc_id, source, $W AS w FROM documents
        ), corpus AS (
          SELECT doc_id, source, array_to_string(w, ' ') AS text FROM w0
          UNION ALL
          SELECT doc_id + 10000000, source,
                 array_to_string(w[1:greatest(CAST(floor(0.6 * len(w)) AS INT), 1)], ' ')
          FROM w0
        ), ${sqlShingleInter("corpus", "source")}
        SELECT a_id, b_id, inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
               CAST(inter AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE)
                 AS containment,
               CASE WHEN sa.n_sh <= sb.n_sh THEN a_id ELSE b_id END
                 AS contained_id
        FROM inter
        JOIN sizes sa ON sa.doc = a_id
        JOIN sizes sb ON sb.doc = b_id
        WHERE CAST(inter AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) >= 0.9
        ORDER BY a_id, b_id"""),
      "Containment dedup — |A∩B| / min(|A|,|B|): catches a SHORT doc " +
        "embedded in a long one (quotes, truncations, boilerplate) " +
        "where symmetric Jaccard stays low because the long side " +
        "dominates the union. Fixture plants 60%-truncated copies, so " +
        "every original/copy pair scores ~1.0 here but only ~0.6 " +
        "Jaccard — the t=0.9 cut isolates exactly the containments. " +
        "Same bucketed shape as q41: shingle-hash pass, block-keyed " +
        "equi-join, per-pair count — no pair space."),

    // ---- q154: Fellegi-Sunter probabilistic record linkage ----------------
    "q154_record_linkage" -> Q(
      (s, d) => {
        val cust = Tables.customer(s, d)
        val pairs = EntityResolution.editDistanceOnePairs(
          cust, "c_custkey", "c_name")
        val fa = cust.select(col("c_custkey").as("a_id"),
          col("c_nationkey").as("a_nat"), col("c_acctbal").as("a_bal"),
          col("c_mktsegment").as("a_seg"))
        val fb = cust.select(col("c_custkey").as("b_id"),
          col("c_nationkey").as("b_nat"), col("c_acctbal").as("b_bal"),
          col("c_mktsegment").as("b_seg"))
        pairs.join(broadcast(fa), "a_id").join(broadcast(fb), "b_id")
          .withColumn("score",
            when(col("dist") === 0, 220).otherwise(100) +
            when(col("a_nat") === col("b_nat"), 180).otherwise(-60) +
            when(col("a_seg") === col("b_seg"), 90).otherwise(-110) +
            when(abs(col("a_bal") - col("b_bal")) <= 500, 120)
              .otherwise(-80))
          .withColumn("class",
            when(col("score") >= 400, "match")
              .when(col("score") >= 150, "possible")
              .otherwise("non_match"))
          .select(col("a_id"), col("b_id"), col("dist"), col("score"),
            col("class"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""
        WITH cand AS (
          SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
                 CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist,
                 CAST(
                   CASE WHEN a.c_name = b.c_name THEN 220 ELSE 100 END +
                   CASE WHEN a.c_nationkey = b.c_nationkey
                        THEN 180 ELSE -60 END +
                   CASE WHEN a.c_mktsegment = b.c_mktsegment
                        THEN 90 ELSE -110 END +
                   CASE WHEN abs(a.c_acctbal - b.c_acctbal) <= 500
                        THEN 120 ELSE -80 END AS INT) AS score
          FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
          WHERE levenshtein(a.c_name, b.c_name) <= 1
        )
        SELECT a_id, b_id, dist, score,
               CASE WHEN score >= 400 THEN 'match'
                    WHEN score >= 150 THEN 'possible'
                    ELSE 'non_match' END AS class
        FROM cand
        ORDER BY a_id, b_id"""),
      "Probabilistic record linkage, the Fellegi-Sunter shape: " +
        "candidates from the FastSS blocking join (never all-pairs), " +
        "then per-field agreement log-odds weights (name/nation/" +
        "segment/balance-proximity) sum to a match score classified " +
        "into match / possible / non-match by dual thresholds — the " +
        "clerical-review triage every entity-dedup pipeline runs. " +
        "Integer weights keep the score engine-exact; the balance " +
        "comparison is a deterministic IEEE subtract on both engines.")
    ,

    // ---- q169: dedup threshold calibration sweep ---------------------------
    "q169_threshold_sweep" -> Q(
      (s, d) => {
        val pairs = Dedup.jaccardPairs(Tables.documents(s, d),
            "doc_id", "text", block = "source", n = 3, threshold = 0.0)
          .localCheckpoint()
        val ts = Seq(20, 50, 100, 200, 400)
        // EXACT rational threshold test: jaccard >= t/1000 iff
        // inter*1000 >= t*uni — pure integer compare, no float cut
        val surviving = pairs
          .withColumn("t_permille", explode(array(ts.map(lit): _*)))
          .filter(col("inter") * 1000 >= col("t_permille") * col("uni"))
        val nPairs = surviving.groupBy(col("t_permille"))
          .agg(count(lit(1)).as("n_pairs"))
        val nDocs = surviving
          .select(col("t_permille"),
            explode(array(col("a_id"), col("b_id"))).as("doc"))
          .groupBy(col("t_permille"))
          .agg(countDistinct(col("doc")).as("n_dup_docs"))
        nPairs.join(nDocs, Seq("t_permille"))
          .orderBy(col("t_permille"))
      },
      Some(s"""
        WITH ${sqlShingleInter("documents", "source")}, pairs AS (
          SELECT a_id, b_id, inter,
                 sa.n_sh + sb.n_sh - inter AS uni
          FROM inter
          JOIN sizes sa ON sa.doc = a_id
          JOIN sizes sb ON sb.doc = b_id
        ), surviving AS (
          SELECT p.*, t.t_permille
          FROM pairs p CROSS JOIN
            (SELECT unnest([20, 50, 100, 200, 400]) AS t_permille) t
          WHERE p.inter * 1000 >= t.t_permille * p.uni
        ), np AS (
          SELECT t_permille, COUNT(*) AS n_pairs
          FROM surviving GROUP BY 1
        ), nd AS (
          SELECT t_permille, COUNT(DISTINCT doc) AS n_dup_docs FROM (
            SELECT t_permille, a_id AS doc FROM surviving
            UNION ALL SELECT t_permille, b_id FROM surviving)
          GROUP BY 1
        )
        SELECT np.t_permille, np.n_pairs, nd.n_dup_docs
        FROM np JOIN nd USING (t_permille)
        ORDER BY t_permille"""),
      "Dedup threshold calibration sweep — the knob-setting pass every " +
        "dedup rollout runs first: ONE shingle-pair computation (the " +
        "q41/q53 machinery, checkpointed), then five candidate " +
        "thresholds evaluated against it by the EXACT rational test " +
        "inter*1000 >= t*uni (integer compare — no float cut can " +
        "disagree across engines), yielding the pairs-vs-threshold and " +
        "affected-docs-vs-threshold curves. The expensive relation is " +
        "computed once, not once per threshold — at 100 TB the sweep " +
        "costs one scan plus five cheap filters over the pair set.")
    ,

    // ---- q175: quality-ranked canonical selection per dup cluster ----------
    "q175_cluster_canonical" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = dupPairs(docs)
        val clustered = Dedup.dupClusters(docs, "doc_id", pairs)
          .select(col("doc_id"), col("component"))
        val quality = docs.select(col("doc_id"),
          size(array_distinct(tokens(col("text")))).as("n_uniq"))
        val w = Window.partitionBy(col("component"))
          .orderBy(col("n_uniq").desc, col("doc_id"))
        clustered.join(quality, Seq("doc_id"))
          .withColumn("keep", row_number().over(w) === 1)
          .select(col("doc_id"), col("component"), col("n_uniq"),
            col("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE $SqlDupComp, assigned AS (
          SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS component,
                 CAST(len(list_distinct($W)) AS INT) AS n_uniq
          FROM documents d LEFT JOIN comp c ON c.v = d.doc_id
        )
        SELECT doc_id, component, n_uniq,
               row_number() OVER (PARTITION BY component
                 ORDER BY n_uniq DESC, doc_id) = 1 AS keep
        FROM assigned
        ORDER BY doc_id"""),
      "Quality-ranked canonical selection — the dedup KEEP policy as " +
        "production runs it (q53 keeps the minimum id; real pipelines " +
        "keep the best-quality member of each near-dup cluster): " +
        "clusters from the q53 pair/label-propagation machinery, " +
        "quality = distinct-token count (an integer — no float " +
        "tiebreak ambiguity), winner per cluster via one " +
        "WindowGroupLimit-able row_number over (quality desc, id). " +
        "Cluster relations are pairs-of-near-dups sized, never corpus " +
        "sized; the quality projection is one scan."),

    // ---- q176: cluster-granular leak-proof split ---------------------------
    "q176_cluster_cosplit" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = dupPairs(docs)
        val clustered = Dedup.dupClusters(docs, "doc_id", pairs)
          .select(col("doc_id"), col("component"))
        // split from the CLUSTER LABEL's hash, not the member text:
        // near-dup members co-split by construction, so no train/test
        // leakage across surviving textual variants
        clustered
          .withColumn("split",
            TextAnalysis.hashSplit(col("component").cast("string")))
          .select(col("doc_id"), col("component"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE $SqlDupComp, assigned AS (
          SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS component
          FROM documents d LEFT JOIN comp c ON c.v = d.doc_id
        )
        SELECT doc_id, component,
               CASE WHEN CAST(concat('0x', substr(md5(
                      CAST(component AS VARCHAR)), 1, 4)) AS INT) % 100 < 80
                    THEN 'train'
                    WHEN CAST(concat('0x', substr(md5(
                      CAST(component AS VARCHAR)), 1, 4)) AS INT) % 100 < 90
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM assigned
        ORDER BY doc_id"""),
      "Cluster-granular train/val/test assignment — the leak-proof " +
        "split at the granularity that actually leaks: q49 co-splits " +
        "EXACT duplicates (same text, same hash) but near-duplicate " +
        "variants can still straddle train and test; hashing the " +
        "CLUSTER label instead guarantees every member of a near-dup " +
        "cluster lands in the same split. Composes the q53 cluster " +
        "relation with the q49 content-hash stance — deterministic " +
        "across runs, engines, and partitionings, no RNG state.")
  ) ++ Seq(

    // ---- q249: Unicode NFC normalization -----------------------------------
    "q249_nfc_normalize" -> Q(
      (s, d) => {
        // plant decomposed sequences (e + COMBINING ACUTE, A + COMBINING
        // GRAVE) after a corpus prefix: the corpus is ASCII, so the
        // planted tail is what normalization must compose — and both
        // engines build the identical raw string from the same codepoints
        Tables.documents(s, d)
          .select(col("doc_id"),
            concat(substring(col("text"), 1, 12), lit("e\u0301A\u0300"))
              .as("raw"))
          .select(col("doc_id"),
            length(col("raw")).cast("long").as("raw_chars"),
            nfcNormalize(col("raw")).as("norm"))
          .select(col("doc_id"), col("raw_chars"),
            length(col("norm")).cast("long").as("norm_chars"),
            md5(col("norm")).as("norm_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH r AS (
          SELECT doc_id,
                 substr(text, 1, 12) || 'e' || chr(769) || 'A' || chr(768)
                   AS raw
          FROM documents)
        SELECT doc_id,
               CAST(length(raw) AS BIGINT) AS raw_chars,
               CAST(length(nfc_normalize(raw)) AS BIGINT) AS norm_chars,
               md5(nfc_normalize(raw)) AS norm_md5
        FROM r
        ORDER BY doc_id"""),
      "Unicode NFC canonical composition as a native expression " +
        "(graft.plans.NfcNormalize, JDK Normalizer — same Unicode " +
        "algorithm as DuckDB's nfc_normalize, md5-proved here): the " +
        "pass every multilingual pipeline runs BEFORE content hashing, " +
        "because composed and decomposed forms of the same text would " +
        "otherwise defeat all digest-based dedup (q40/q44/q49). The " +
        "isNormalized fast path makes all-ASCII rows allocation-free, " +
        "and the codegen'd call keeps the enclosing projection in " +
        "whole-stage codegen.")
  ) ++ Seq(

    // ---- q261: collocation mining by PMI lift ------------------------------
    "q261_collocations" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // adjacent-bigram and unigram counts from ONE tokenize pass;
        // lift = P(xy)/(P(x)P(y)) = n_xy*N/(n_x*n_y) — PMI without the
        // log (same ranking, and a pure integer ratio both engines
        // divide identically; ln is not bit-portable)
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("n_w"))
        val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val bi = toks
          .withColumn("w2", lead(col("w"), 1).over(byDoc))
          .filter(col("w2").isNotNull)
          .groupBy(col("w"), col("w2")).agg(count(lit(1)).as("n_xy"))
          .filter(col("n_xy") >= 10)
        val total = toks.agg(count(lit(1)).as("n_tokens"))
        val scored = bi
          .join(uni.select(col("w"), col("n_w").as("n_x")), Seq("w"))
          .join(uni.select(col("w").as("w2"), col("n_w").as("n_y")),
            Seq("w2"))
          .crossJoin(total)
          .select(col("w").as("w1"), col("w2"), col("n_xy"),
            col("n_x"), col("n_y"),
            ((col("n_xy") * col("n_tokens")).cast("double") /
              (col("n_x") * col("n_y")).cast("double")).as("lift"))
        // top-30 as a distributed TakeOrderedAndProject FIRST, then the
        // rank window over the 30 survivors only (the vocabTopV idiom)
        // — the unpartitioned window previously sorted the full bigram
        // relation on a single partition, which grows with the corpus
        val rk = Window.orderBy(col("lift").desc, col("w1"), col("w2"))
        scored.orderBy(col("lift").desc, col("w1"), col("w2")).limit(30)
          .withColumn("rank", row_number().over(rk))
          .orderBy(col("rank"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents),
        uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w FROM t GROUP BY w),
        adj AS (
          SELECT doc_id, pos, w,
                 lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
          FROM t),
        bi AS (
          SELECT w, w2, CAST(COUNT(*) AS BIGINT) AS n_xy
          FROM adj WHERE w2 IS NOT NULL
          GROUP BY w, w2 HAVING COUNT(*) >= 10),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM t),
        scored AS (
          SELECT bi.w AS w1, bi.w2, bi.n_xy, ux.n_w AS n_x, uy.n_w AS n_y,
                 CAST(bi.n_xy * tot.n_tokens AS DOUBLE) /
                   CAST(ux.n_w * uy.n_w AS DOUBLE) AS lift
          FROM bi
          JOIN uni ux ON ux.w = bi.w
          JOIN uni uy ON uy.w = bi.w2
          CROSS JOIN tot)
        SELECT w1, w2, n_xy, n_x, n_y, lift,
               CAST(ROW_NUMBER() OVER (ORDER BY lift DESC, w1, w2) AS INT)
                 AS rank
        FROM scored
        QUALIFY rank <= 30
        ORDER BY rank"""),
      "Collocation mining — the bigrams that co-occur far beyond " +
        "chance (multi-word terms, named entities, tokenizer-merge " +
        "candidates): adjacency counts from one tokenize pass, ranked " +
        "by PMI LIFT n_xy*N/(n_x*n_y) — the log-free form of pointwise " +
        "mutual information, monotone-identical for ranking and a pure " +
        "IEEE division of exact integers where ln would drift in the " +
        "last ulp. The n_xy >= 10 support floor is the standard " +
        "low-frequency PMI guard (a hapax pair otherwise tops any " +
        "lift ranking). Map-side-combinable counts; the final top-30 " +
        "window runs over the support-filtered bigram relation only.")
  ) ++ Seq(

    // ---- q262: TextRank keyword extraction ---------------------------------
    "q262_textrank" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val toks = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
        val nodes = toks.select(col("w")).distinct()
        // adjacent pairs as a PROJECTION: every non-distinct 2-shingle
        // is exactly one lead(w,1)-over-(doc,pos) pair, so the per-doc
        // window (a full shuffle+sort of the corpus token stream) is
        // replaced by the native single-pass shingle expression; words
        // are space-split so the space split below recovers the pair
        val bi = Tables.documents(s, d)
          .select(explode(shingleStrings(col("text"), 2, distinct = false)).as("pair"))
          .select(split(col("pair"), " ").as("p"))
          .select(element_at(col("p"), 1).as("w"),
            element_at(col("p"), 2).as("w2"))
          .filter(col("w") =!= col("w2"))
          .groupBy(col("w"), col("w2")).agg(count(lit(1)).as("n_xy"))
          .filter(col("n_xy") >= 5)
        val edges = bi.select(col("w").as("src"), col("w2").as("dst"))
          .unionAll(bi.select(col("w2").as("src"), col("w").as("dst")))
        val pr = graft.operators.Graph.pageRank(nodes, "w", edges,
          "src", "dst", iters = 3)
        // top-20 via TakeOrderedAndProject first, rank window over the
        // 20 survivors (the vocabTopV idiom — see q261)
        val rk = Window.orderBy(col("pr").desc, col("w"))
        pr.orderBy(col("pr").desc, col("w")).limit(20)
          .withColumn("rank", row_number().over(rk))
          .select(col("rank"), col("w"), col("pr"))
          .orderBy(col("rank"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents
        ), nodes AS (SELECT DISTINCT w FROM t
        ), adj AS (
          SELECT doc_id, pos, w,
                 lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
          FROM t
        ), bi AS (
          SELECT w, w2 FROM adj
          WHERE w2 IS NOT NULL AND w <> w2
          GROUP BY w, w2 HAVING COUNT(*) >= 5
        ), edges AS (
          SELECT w AS src, w2 AS dst FROM bi
          UNION ALL SELECT w2, w FROM bi
        ), ${sqlPageRank("nodes", "w")}
        fin AS (
          SELECT v AS w, round(r, 9) AS pr,
                 CAST(ROW_NUMBER() OVER (ORDER BY round(r, 9) DESC, v) AS INT)
                   AS rank
          FROM r3)
        SELECT rank, w, pr FROM fin
        WHERE rank <= 20
        ORDER BY rank"""),
      "TextRank keyword extraction — centrality in the word " +
        "co-occurrence graph (Mihalcea & Tarau): support-filtered " +
        "adjacency pairs become symmetric edges, three damped " +
        "decimal-locked PageRank passes (q111's engine-identical " +
        "iteration, reused verbatim) score every vocabulary word, and " +
        "the top-20 emerge. Frequency-independent salience: a word " +
        "ranks by the company it keeps, not its raw count — the " +
        "unsupervised keyword baseline for corpus labeling and " +
        "query-expansion seeds. Graph size is vocabulary-bounded, " +
        "never corpus-bounded.")
  )
}
