package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.TextFunctions.{md5U52, tokens}
import graft.functions.VectorFunctions.asDoubleVec
import graft.operators.{Retrieval, Similarity}

/** Retrieval-tier queries: BM25 lexical ranking, hybrid lexical+vector
  * fusion, and hard-negative mining — the search/training-pair side of
  * the LLM-data pipeline, all hash-proved against DuckDB.
  *
  * Exactness notes:
  *  - the registered BM25 runs `logIdf=false` (rational odds IDF):
  *    every arithmetic step is IEEE ops on exactly-representable
  *    integers plus double literals forced identical on both engines
  *    via CAST('1.2' AS DOUBLE) (a bare 1.2 is DECIMAL in DuckDB and
  *    would silently change the arithmetic); per-term scores round to
  *    1e-6 and sum as DECIMAL(18,6), so totals are order-independent.
  *  - document embeddings are the q93 content-derived stub (md5-chained
  *    52-bit dims), keeping the vector side hash-provable.
  */
object RetrievalQueries {

  /** Query-term sets derived from the corpus itself: for each query
    * doc (doc_id < 8), the distinct first-4 tokens. */
  private def queryTerms(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") < 8)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(tokens(col("text")), 1, 4))).as("term"))

  /** Content-derived stub doc embedding (the q93/q60 pattern): dim j =
    * 52-bit md5 prefix of "md5(text):j" / 2^52. */
  private def docEmbed(h: Column): Column = array((0 until 8).map(j =>
    md5U52(concat(h, lit(s":$j")))
      .cast("double") / lit(4503599627370496.0)): _*)

  /** Shared BM25 CTE chain (through the ranked lexical list). */
  private val SqlBm25 = """
        w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        toks AS (SELECT doc_id AS doc, w, CAST(len(w) AS BIGINT) AS dl FROM w),
        tf0 AS (SELECT doc, dl, unnest(w) AS t FROM toks),
        tfc AS (SELECT doc, dl, t, COUNT(*) AS cnt FROM tf0 GROUP BY doc, dl, t),
        df AS (SELECT t, COUNT(*) AS df FROM tfc GROUP BY t),
        stats AS (SELECT COUNT(*) AS n, SUM(dl) AS tot FROM toks),
        q AS (SELECT DISTINCT q, t FROM
          (SELECT doc_id AS q, unnest(w[1:4]) AS t FROM w WHERE doc_id < 8)),
        scored AS (
          SELECT q.q, tfc.doc,
            CAST(round(
              ((stats.n - df.df + 0.5) / (df.df + 0.5)) *
              (tfc.cnt * (CAST('1.2' AS DOUBLE) + 1) /
                (tfc.cnt + CAST('1.2' AS DOUBLE) * (1 - CAST('0.75' AS DOUBLE) +
                  CAST('0.75' AS DOUBLE) * tfc.dl /
                    (CAST(stats.tot AS DOUBLE) / stats.n)))),
              6) AS DECIMAL(18,6)) AS ts
          FROM tfc JOIN q ON tfc.t = q.t JOIN df ON tfc.t = df.t CROSS JOIN stats),
        agg AS (SELECT q, doc, CAST(SUM(ts) AS DOUBLE) AS score
                FROM scored GROUP BY q, doc),
        lexr AS (SELECT q, doc, score, ROW_NUMBER() OVER
                   (PARTITION BY q ORDER BY score DESC, doc) AS ra FROM agg)"""

  /** Shared stub-embedding + cosine-ranked CTE chain (the q93 embed). */
  private val SqlVecRank = """
        emb AS (
          SELECT doc_id, list_transform(range(0, 8), j ->
            CAST(concat('0x', substr(md5(md5(text) || ':' || CAST(j AS VARCHAR)), 1, 13)) AS BIGINT)
              / 4503599627370496.0) AS e
          FROM documents),
        p AS (SELECT doc_id AS q, e AS pv FROM emb WHERE doc_id < 8),
        t AS (SELECT doc_id AS doc, e AS tv FROM emb),
        sims AS (
          SELECT p.q, t.doc,
                 round(list_inner_product(p.pv, t.tv) /
                   (sqrt(list_inner_product(p.pv, p.pv)) *
                    sqrt(list_inner_product(t.tv, t.tv))), 6) AS sim
          FROM p CROSS JOIN t),
        vecr AS (SELECT q, doc, sim, ROW_NUMBER() OVER
                   (PARTITION BY q ORDER BY sim DESC, doc) AS rb FROM sims)"""

  def all: Seq[(String, Q)] = Seq(

    // ---- q97: BM25 lexical top-k --------------------------------------
    "q97_bm25_topk" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Retrieval.bm25TopK(docs, "doc_id", "text",
            queryTerms(docs), "q_id", "term", k = 5, logIdf = false)
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""
        WITH $SqlBm25
        SELECT q AS q_id, doc AS doc_id, score, CAST(ra AS INT) AS rank
        FROM lexr WHERE ra <= 5
        ORDER BY q_id, rank"""),
      "BM25(k1=1.2, b=0.75) over the inverted-index shape: corpus-side " +
        "work is one tf pass + a vocabulary-bounded df agg; query terms " +
        "join only their postings. Rational odds IDF + decimal-summed " +
        "per-term scores make the ranking bit-identical across engines."),

    // ---- q98: hybrid retrieval, reciprocal-rank fusion ----------------
    "q98_hybrid_rrf" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val lex = Retrieval.bm25TopK(docs, "doc_id", "text",
          queryTerms(docs), "q_id", "term", k = 10, logIdf = false)
        val embedded = docs.select(col("doc_id"), docEmbed(md5(col("text"))).as("e"))
        val probes = embedded.filter(col("doc_id") < 8)
          .select(col("doc_id").as("q_id"), col("e").as("p_vec"))
        val vec = Similarity.topKAuto(probes, "q_id", "p_vec",
          embedded.select(col("doc_id"), col("e")), "doc_id", "e", k = 10)
        Retrieval.rrfFuse(lex, vec, "q_id", "doc_id", k = 5)
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""
        WITH $SqlBm25,
        $SqlVecRank,
        lex AS (SELECT q, doc, ra FROM lexr WHERE ra <= 10),
        vec AS (SELECT q, doc, rb FROM vecr WHERE rb <= 10),
        fused AS (
          SELECT COALESCE(l.q, v.q) AS q, COALESCE(l.doc, v.doc) AS doc,
                 COALESCE(CAST(1 AS DOUBLE) / (60 + l.ra), 0) +
                 COALESCE(CAST(1 AS DOUBLE) / (60 + v.rb), 0) AS fused
          FROM lex l FULL OUTER JOIN vec v ON l.q = v.q AND l.doc = v.doc),
        fr AS (SELECT q, doc, fused, ROW_NUMBER() OVER
                 (PARTITION BY q ORDER BY fused DESC, doc) AS rank FROM fused)
        SELECT q AS q_id, doc AS doc_id, fused, CAST(rank AS INT) AS rank
        FROM fr WHERE rank <= 5
        ORDER BY q_id, rank"""),
      "Hybrid retrieval: BM25 top-10 and stub-embedding cosine top-10 " +
        "(via the size-routed topKAuto) fused by reciprocal rank — " +
        "rank-based fusion needs no score calibration and its " +
        "arithmetic is exact, so the whole two-ranker pipeline " +
        "hash-proves end to end. Fusion cost is query-bounded."),

    // ---- q99: hard-negative mining ------------------------------------
    "q99_hard_negatives" -> Q(
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), asDoubleVec(col("embedding")).as("emb"), col("label"))
        Retrieval.hardNegatives(
            e.filter(col("vec_id") < 8), "vec_id", "emb", "label",
            e, "vec_id", "emb", "label", k = 5)
          .orderBy(col("a_id"), col("rank"))
      },
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
        a AS (SELECT vec_id AS a_id, emb AS av, label AS al FROM e WHERE vec_id < 8),
        s AS (
          SELECT a.a_id, e.vec_id AS c_id, e.label AS c_label,
                 round(list_inner_product(a.av, e.emb) /
                   (sqrt(list_inner_product(a.av, a.av)) *
                    sqrt(list_inner_product(e.emb, e.emb))), 6) AS sim
          FROM a CROSS JOIN e WHERE e.label != a.al),
        r AS (SELECT *, ROW_NUMBER() OVER
                (PARTITION BY a_id ORDER BY sim DESC, c_id) AS rank FROM s)
        SELECT a_id, c_id, c_label, sim, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= 5
        ORDER BY a_id, rank"""),
      "Contrastive hard negatives: per anchor, the top-5 nearest " +
        "wrong-label vectors — close enough to carry gradient, provably " +
        "not positives. The anchor batch broadcasts; the corpus streams " +
        "through one ranked scan (batch cap mirrors the exact-arm cap)."),

    // ---- q112: RM3 pseudo-relevance feedback ---------------------------
    "q112_rm3_expansion" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Retrieval.rm3TopK(docs, "doc_id", "text",
            queryTerms(docs), "q_id", "term", k = 5,
            fbDocs = 3, fbTerms = 5, beta = 0.4, logIdf = false)
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""
        WITH $SqlBm25,
        fb AS (SELECT q, doc, score FROM lexr WHERE ra <= 3),
        wt0 AS (
          SELECT fb.q, tfc.t,
                 CAST(SUM(CAST(round(
                   (CAST(tfc.cnt AS DOUBLE) / tfc.dl) * fb.score, 12)
                   AS DECIMAL(28,12))) AS DOUBLE) AS wt
          FROM tfc JOIN fb ON tfc.doc = fb.doc
          GROUP BY fb.q, tfc.t),
        wt AS (SELECT w.q, w.t, w.wt FROM wt0 w
               ANTI JOIN q ON q.q = w.q AND q.t = w.t),
        exp AS (
          SELECT q, t,
                 round(CAST('0.4' AS DOUBLE) * wt /
                   MAX(wt) OVER (PARTITION BY q), 6) AS weight,
                 ROW_NUMBER() OVER (PARTITION BY q ORDER BY wt DESC, t) AS er
          FROM wt),
        wq AS (
          SELECT q, t, CAST(1.0 AS DOUBLE) AS weight FROM q
          UNION ALL
          SELECT q, t, weight FROM exp WHERE er <= 5),
        scored2 AS (
          SELECT wq.q, tfc.doc,
            CAST(round(wq.weight * round(
              ((stats.n - df.df + 0.5) / (df.df + 0.5)) *
              (tfc.cnt * (CAST('1.2' AS DOUBLE) + 1) /
                (tfc.cnt + CAST('1.2' AS DOUBLE) * (1 - CAST('0.75' AS DOUBLE) +
                  CAST('0.75' AS DOUBLE) * tfc.dl /
                    (CAST(stats.tot AS DOUBLE) / stats.n)))),
              6), 6) AS DECIMAL(18,6)) AS ts
          FROM tfc JOIN wq ON tfc.t = wq.t JOIN df ON tfc.t = df.t CROSS JOIN stats),
        agg2 AS (SELECT q, doc, CAST(SUM(ts) AS DOUBLE) AS score
                 FROM scored2 GROUP BY q, doc),
        fr AS (SELECT q, doc, score, ROW_NUMBER() OVER
                 (PARTITION BY q ORDER BY score DESC, doc) AS rank FROM agg2)
        SELECT q AS q_id, doc AS doc_id, score, CAST(rank AS INT) AS rank
        FROM fr WHERE rank <= 5
        ORDER BY q_id, rank"""),
      "RM3 pseudo-relevance feedback: BM25 top-3 docs per query mine 5 " +
        "expansion terms (relevance-model weights, max-normalized, " +
        "beta=0.4; originals weight 1), then a weighted second pass " +
        "re-ranks. The tf relation materializes once for both passes; " +
        "second-pass corpus work is bounded by the expanded query " +
        "vocabulary. Decimal-summed weights and partials keep the " +
        "two-pass float walk hash-identical across engines."),

    // ---- q113: MMR diversity re-rank -----------------------------------
    "q113_mmr_rerank" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val embedded = docs.select(col("doc_id"), docEmbed(md5(col("text"))).as("e"))
        val probes = embedded.filter(col("doc_id") < 8)
          .select(col("doc_id").as("q_id"), col("e").as("p_vec"))
        val cands = Similarity.topKAuto(probes, "q_id", "p_vec",
          embedded.select(col("doc_id"), col("e")), "doc_id", "e", k = 10)
        Retrieval.mmrRerank(cands, "q_id", "doc_id", "sim",
            embedded, "doc_id", "e", k = 5, lambda = 0.7)
          .orderBy(col("q_id"), col("rank"))
      },
      Some {
        // one greedy MMR step: anti-join the selected set, max cosine to
        // any selected doc, argmax of lambda*rel - (1-lambda)*max_sim
        def step(i: Int): String = s"""
        rem$i AS (
          SELECT cv.* FROM cv
          ANTI JOIN sel${i - 1} s ON s.q = cv.q AND s.doc = cv.doc),
        ms$i AS (
          SELECT r.q, r.doc, MAX(round(list_inner_product(r.v, s.v) /
                   (sqrt(list_inner_product(r.v, r.v)) *
                    sqrt(list_inner_product(s.v, s.v))), 6)) AS max_sim
          FROM rem$i r JOIN sel${i - 1} s ON s.q = r.q
          GROUP BY r.q, r.doc),
        a$i AS (
          SELECT r.q, r.doc, r.v,
                 round(CAST('0.7' AS DOUBLE) * r.rel -
                       (1 - CAST('0.7' AS DOUBLE)) * m.max_sim, 6) AS mmr,
                 $i AS rank
          FROM rem$i r JOIN ms$i m ON m.q = r.q AND m.doc = r.doc),
        s$i AS (
          SELECT q, doc, v, mmr, rank FROM (
            SELECT *, ROW_NUMBER() OVER
              (PARTITION BY q ORDER BY mmr DESC, doc) AS rn FROM a$i)
          WHERE rn = 1),
        sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i),"""
        s"""
        WITH $SqlVecRank,
        cand AS (SELECT q, doc, sim AS rel FROM vecr WHERE rb <= 10),
        cv AS (
          SELECT cand.q, cand.doc, cand.rel, emb.e AS v
          FROM cand JOIN emb ON emb.doc_id = cand.doc),
        s1 AS (
          SELECT q, doc, v, mmr, 1 AS rank FROM (
            SELECT q, doc, v,
                   round(CAST('0.7' AS DOUBLE) * rel, 6) AS mmr,
                   ROW_NUMBER() OVER (PARTITION BY q
                     ORDER BY round(CAST('0.7' AS DOUBLE) * rel, 6) DESC, doc) AS rn
            FROM cv) WHERE rn = 1),
        sel1 AS (SELECT * FROM s1),${step(2)}${step(3)}${step(4)}${step(5)}
        fin AS (SELECT q, doc, mmr, rank FROM sel5)
        SELECT q AS q_id, doc AS doc_id, mmr, CAST(rank AS INT) AS rank
        FROM fin ORDER BY q_id, rank"""
      },
      "Maximal-marginal-relevance diversity re-rank of the cosine top-10 " +
        "(lambda=0.7, k=5): greedy relevance-vs-redundancy selection, " +
        "the query-time twin of SemDeDup. Each of the k steps is a " +
        "bounded program over candidate lists (never the corpus); " +
        "rounded scores + id tie-breaks make the greedy walk " +
        "engine-exact, proved by a 5-step-unrolled oracle."),

    // ---- q189: retrieval eval (NDCG / MRR / P@k / recall@k) ------------
    "q189_ndcg" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val run = Retrieval.bm25TopK(docs, "doc_id", "text",
          queryTerms(docs), "q_id", "term", k = 10, logIdf = false)
        val docTerms = docs.select(col("doc_id"),
          explode(array_distinct(tokens(col("text")))).as("term"))
        // binary qrels: a doc is relevant to a query when it contains
        // at least 2 of the query's (<= 4) terms
        val qrels = queryTerms(docs).join(docTerms, "term")
          .groupBy(col("q_id"), col("doc_id"))
          .agg(count_distinct(col("term")).as("m"))
          .filter(col("m") >= 2)
          .select(col("q_id"), col("doc_id"))
        Retrieval.rankingMetrics(run, "q_id", "doc_id", "rank", qrels,
            k = 10)
          .orderBy(col("q_id"))
      },
      Some {
        val discs = Retrieval.ndcgDiscounts(10).mkString("[", ", ", "]")
        val cums = Retrieval.ndcgIdealCums(10).mkString("[", ", ", "]")
        s"""
        WITH $SqlBm25,
        run AS (SELECT q, doc, CAST(ra AS INT) AS rank
                FROM lexr WHERE ra <= 10),
        rel AS (
          SELECT q.q, tfc.doc
          FROM q JOIN tfc ON q.t = tfc.t
          GROUP BY q.q, tfc.doc
          HAVING COUNT(DISTINCT q.t) >= 2),
        nrel AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS n_rel
                 FROM rel GROUP BY q),
        hits AS (
          SELECT r.q, CAST(COUNT(*) AS BIGINT) AS h,
                 CAST(MIN(r.rank) AS BIGINT) AS first_hit,
                 CAST(SUM(($discs)[r.rank]) AS BIGINT) AS dcg_l
          FROM run r JOIN rel ON r.q = rel.q AND r.doc = rel.doc
          GROUP BY r.q),
        j AS (
          SELECT n.q, n.n_rel,
                 CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
                 CAST(COALESCE(h.dcg_l, 0) AS BIGINT) AS dcg_l,
                 ($cums)[CAST(least(n.n_rel, 10) AS INT)] AS idcg_l,
                 h.first_hit
          FROM nrel n LEFT JOIN hits h ON n.q = h.q)
        SELECT q AS q_id, n_rel, n_hits,
               CAST(dcg_l AS DOUBLE) / 1e9 AS dcg,
               CAST(idcg_l AS DOUBLE) / 1e9 AS idcg,
               CAST(dcg_l AS DOUBLE) / CAST(idcg_l AS DOUBLE) AS ndcg,
               COALESCE(1.0 / CAST(first_hit AS DOUBLE), 0.0) AS rr,
               CAST(n_hits AS DOUBLE) / 10.0 AS precision_k,
               CAST(n_hits AS DOUBLE) / CAST(n_rel AS DOUBLE) AS recall_k
        FROM j ORDER BY q_id"""
      },
      "trec_eval-style ranking report over the BM25 run (NDCG@10, MRR, " +
        "P@10, recall@10) against containment-derived binary qrels: " +
        "DCG discounts are 1e-9-grid integers computed ONCE on the " +
        "driver and embedded in both engines (log2 is transcendental " +
        "and engines disagree in the last ulp), IDCG is a prefix-sum " +
        "lookup, and every reported ratio is one IEEE division of " +
        "identical integers — no query-time transcendentals, no " +
        "rounding ties. Cost is one (query, doc) equi-join over the " +
        "run, corpus-size-independent.")
  ) ++ Seq(

    // ---- q247: positional phrase search ------------------------------------
    "q247_phrase_search" -> Q(
      (s, d) => graft.operators.Retrieval.phraseSearch(
          Tables.documents(s, d), "doc_id", "text",
          Seq("row", "column", "sort"))
        .orderBy(col("doc_id")),
      Some("""
        WITH t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents),
        w AS (
          SELECT doc_id, pos, term,
                 lead(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
                 lead(term, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
          FROM t)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
               CAST(MIN(pos) AS BIGINT) AS first_pos
        FROM w
        WHERE term = 'row' AND t1 = 'column' AND t2 = 'sort'
        GROUP BY doc_id
        ORDER BY doc_id"""),
      "Positional phrase search (Retrieval.phraseSearch): documents " +
        "containing the exact consecutive sequence 'row column sort' " +
        "with occurrence counts and first position — the proximity " +
        "semantics q97's bag-of-words BM25 structurally cannot " +
        "express. The classic positional-index plan (k-1 self-joins on " +
        "pos+i) collapses into ONE per-document window pass over the " +
        "tokenized stream; match work is linear in tokens and only " +
        "(doc, count, min-pos) leave the scan. Integer outputs."),

    // ---- q257: boolean retrieval (AND / NOT) -------------------------------
    "q257_boolean_search" -> Q(
      (s, d) => graft.operators.Retrieval.booleanSearch(
          Tables.documents(s, d), "doc_id", "text",
          must = Seq("table", "hash"), mustNot = Seq("slow"))
        .orderBy(col("doc_id")),
      Some("""
        WITH t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
        c AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN term = 'table' THEN 1 ELSE 0 END)
                   AS BIGINT) AS tf_table,
                 CAST(SUM(CASE WHEN term = 'hash' THEN 1 ELSE 0 END)
                   AS BIGINT) AS tf_hash,
                 CAST(SUM(CASE WHEN term = 'slow' THEN 1 ELSE 0 END)
                   AS BIGINT) AS nslow
          FROM t GROUP BY doc_id)
        SELECT doc_id, tf_table, tf_hash
        FROM c
        WHERE tf_table > 0 AND tf_hash > 0 AND nslow = 0
        ORDER BY doc_id"""),
      "Boolean retrieval ('table' AND 'hash' AND NOT 'slow') with " +
        "per-term frequencies (Retrieval.booleanSearch): the filter " +
        "algebra that precedes ranked retrieval — q97's BM25 ranks " +
        "what this admits. The classic per-term inverted-index " +
        "intersections/differences collapse into ONE tokenize pass " +
        "and a partial-aggregatable conditional HAVING — no per-term " +
        "join, integer outputs.")
  )
}
