package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Tables}
import graft.operators.Similarity
import graft.functions.VectorFunctions.{asDoubleVec, fastSquaredL2}

/** Similarity-search queries over `embeddings.parquet` (64-d unit
  * vectors, labels 0-9). q30 is the reference's flagship semantic:
  * "which probes match a broadcast target set, first match wins, else
  * Unknown" (/root/reference/src/prediction_producer.py:305-325 +
  * web/views.py:187-192).
  *
  * Parity note: both sides cast the float vectors to double first
  * (lossless) so DuckDB's list_distance / list_inner_product loops and
  * Spark's aggregate() folds run the same double arithmetic.
  */
object SimilarityQueries {

  /** Probes with double-cast vectors. */
  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), asDoubleVec(col("embedding")).as("emb"), col("label"))

  /** First vector (min vec_id) per label 0..4 — the "broadcast known
    * faces" stand-in. */
  private def targets(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    e.filter(col("label") <= 4)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id").as("t_id"), col("emb").as("t_emb"), col("label").as("t_label"))
  }

  /** The composed RAG pipeline behind q93: stride-chunk the corpus,
    * embed each chunk (content-derived stub — the model slot), top-3
    * chunks per query with (doc, chunk) provenance. Scoring goes
    * through [[Similarity.topKAuto]] — the size-routed entry — so the
    * SAME registered path that the oracle checks at sf0.01 (below the
    * cap → exact) routes to the kMeans-quantized IVF equi-join past
    * `exactLimit` instead of refusing; the plan pin in PlanSpec forces
    * the scale path by shrinking the cap. */
  private[graft] def ragRetrieval(s: SparkSession, d: String,
      exactLimit: Long = Similarity.DefaultExactLimit): DataFrame = {
    import graft.operators.TextAnalysis
    val chunks = TextAnalysis.chunkDocs(Tables.documents(s, d),
        "doc_id", "text", chunkSize = 32, stride = 24)
      .select(col("doc_id"), col("chunk_idx"), md5(col("chunk")).as("h"))
    // content-derived stub chunk embedding (no model in the sandbox;
    // the q60 pattern): ONE md5 per chunk, dim j = hex digits
    // [4j+1..4j+4] / 2^16 — eight substrings of one digest, not eight
    // digests (the hash stage is the corpus-wide hot loop at scale)
    def enc(h: org.apache.spark.sql.Column) = array((0 until 8).map(j =>
      conv(substring(h, 1 + 4 * j, 4), 16, 10)
        .cast("double") / lit(65536.0)): _*)
    val embedded = chunks.withColumn("emb", enc(col("h")))
    val probes = embedded.filter(col("doc_id") < 5 && col("chunk_idx") === 0)
      .select(col("doc_id").as("q_id"), col("emb").as("p_vec"))
    // provenance rides INSIDE the target id — 1e6 chunk space per doc
    // (stride-24 chunks collide only past a 24M-word document), decoded
    // arithmetically after scoring, so no corpus-wide join-back and the
    // chunk+embed pipeline is planned once on the target side (the
    // probe branch prunes to the 5 query docs at the scan)
    val targets = embedded.select(
      (col("doc_id") * 1000000L + col("chunk_idx")).as("t_id"),
      col("emb").as("t_vec"))
    Similarity.topKAuto(probes, "q_id", "p_vec", targets, "t_id", "t_vec",
        k = 3, exactLimit = exactLimit)
      .select(col("q_id"),
        floor(col("t_id") / 1000000L).cast("long").as("doc_id"),
        (col("t_id") % 1000000L).cast("int").as("chunk_idx"),
        col("sim"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  private val SqlEmb =
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings"
  private val SqlEmbBare =
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings"
  private val SqlTargets = s"""
    SELECT vec_id AS t_id, emb AS t_emb, label AS t_label FROM (
      SELECT vec_id, emb, label,
             ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
      FROM e WHERE label <= 4) WHERE rn = 1"""

  /** Top 3 of `sims` (p_id, t_id, sim) per probe, by sim then t_id. */
  private val SqlTop3 = """ranked AS (
          SELECT p_id, t_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY sim DESC, t_id) AS rank
          FROM sims)
        SELECT p_id, t_id, sim, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 3
        ORDER BY p_id, rank"""

  /** q31's oracle, which q127 shares: the exact cosine top 3 of the
    * probes vec_id < 100 over the targets label >= 5. */
  private val SqlCosineTop3 = s"""
        WITH e AS ($SqlEmb),
        sims AS (
          SELECT p.vec_id AS p_id, t.vec_id AS t_id,
            round(list_inner_product(p.emb, t.emb) /
              (sqrt(list_inner_product(p.emb, p.emb)) * sqrt(list_inner_product(t.emb, t.emb))),
              6) AS sim
          FROM e p, e t
          WHERE p.vec_id < 100 AND t.label >= 5),
        $SqlTop3"""

  /** q35's coarse quantizer: the label centroids of `e` as `cent` (cell, cv). */
  private val SqlLabelCent = """cent AS (
          SELECT cell, list(c ORDER BY dim) AS cv FROM (
            SELECT label AS cell, dim, round(AVG(v), 9) AS c
            FROM (SELECT label, unnest(emb) AS v,
                         generate_subscripts(emb, 1) AS dim FROM e)
            GROUP BY label, dim)
          GROUP BY cell)"""

  /** IVF routing over `e` and `cent` (cell, cv): each vector's nearest
    * cell (`asg`), the `nProbe` nearest cells of each probe vec_id < 100
    * (`pc`), and the in-cell cosines (`sims`). */
  private def sqlIvfSims(nProbe: Int): String = s"""asg AS (
          SELECT vec_id AS t_id, emb AS t_vec, cell FROM (
            SELECT e.vec_id, e.emb, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY ${OracleGen.sqDist("e.emb", "c.cv", 64)}, c.cell) AS rn
            FROM e CROSS JOIN cent c) WHERE rn = 1),
        pc AS (
          SELECT p_id, p_vec, cell FROM (
            SELECT e.vec_id AS p_id, e.emb AS p_vec, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY ${OracleGen.sqDist("e.emb", "c.cv", 64)}, c.cell) AS rn
            FROM e CROSS JOIN cent c WHERE e.vec_id < 100) WHERE rn <= $nProbe),
        sims AS (
          SELECT pc.p_id, a.t_id,
                 round(list_inner_product(pc.p_vec, a.t_vec) /
                   (sqrt(list_inner_product(pc.p_vec, pc.p_vec)) *
                    sqrt(list_inner_product(a.t_vec, a.t_vec))), 6) AS sim
          FROM pc JOIN asg a USING (cell))"""

  private val Recall = ((col("n_exact") - col("n_missed")).cast("double") /
    col("n_exact").cast("double")).as("recall")

  /** The summary row of an ANN recall audit: `approx` (p_id, t_id) is
    * the path under audit, `exact` (p_id, t_id, metric) the exact
    * top-k; `worst` aggregates the metric of the pairs `approx` missed
    * into the last column, and `reported` (name -> value) names the
    * audited settings after n_probes. */
  private def recallRow(exact: DataFrame, approx: DataFrame,
      worstName: String, worst: Column, reported: (String, Int)*): DataFrame = {
    val missed = exact.join(approx, Seq("p_id", "t_id"), "left_anti")
    val ne = exact.agg(count(lit(1)).as("n_exact"),
      countDistinct(col("p_id")).as("n_probes"))
    val nm = missed.agg(count(lit(1)).as("n_missed"), worst.as(worstName))
    ne.crossJoin(nm).select(col("n_probes") +: reported.map { case (n, v) => lit(v).as(n) } :+
      col("n_exact") :+ col("n_missed") :+ Recall :+ col(worstName): _*)
  }

  /** The oracle of [[recallRow]]: `ex` is the exact top-k CTE and
    * `approx` the audited one; `worst` is the SQL aggregate. */
  private def sqlRecall(approx: String, worstName: String, worst: String,
      reported: (String, Int)*): String =
    s"""missed AS (
          SELECT ex.* FROM ex
          ANTI JOIN $approx ON $approx.p_id = ex.p_id AND $approx.t_id = ex.t_id),
        ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
                      CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_probes
               FROM ex),
        nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_missed,
                      $worst AS $worstName FROM missed)
        SELECT n_probes, ${reported.map { case (n, v) => s"$v AS $n, " }.mkString}n_exact, n_missed,
               CAST(n_exact - n_missed AS DOUBLE) /
                 CAST(n_exact AS DOUBLE) AS recall,
               $worstName
        FROM ne CROSS JOIN nm"""

  /** q208/q209: q35's IVF top 3 at `nProbe`, audited against the exact
    * cosine top 3 of the same probes and targets. */
  private def ivfRecall(nProbe: Int, reported: (String, Int), doc: String): Q = Q(
    (s, d) => {
      val e = emb(s, d)
      val probes = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("p_id"), col("emb").as("p_vec"))
      val tg = e.select(col("vec_id").as("t_id"), col("emb").as("t_vec"))
      val quantizer = Similarity.centroidsAsQuantizer(e, "label", "emb")
      val ivf = Similarity.ivfTopK(probes, "p_id", "p_vec",
          tg, "t_id", "t_vec", quantizer, "cell", "centroid_vec",
          k = 3, nProbe = nProbe)
        .select(col("p_id"), col("t_id")).localCheckpoint()
      val exact = Similarity.topK(probes, "p_id", "p_vec",
          tg, "t_id", "t_vec", k = 3)
        .select(col("p_id"), col("t_id"), col("sim"))
      recallRow(exact, ivf, "max_missed_sim", max(col("sim")), reported)
    },
    Some(s"""
        WITH e AS ($SqlEmb),
        $SqlLabelCent,
        ${sqlIvfSims(nProbe)},
        ivf AS (
          SELECT p_id, t_id FROM (
            SELECT p_id, t_id,
                   ROW_NUMBER() OVER (PARTITION BY p_id
                     ORDER BY sim DESC, t_id) AS rank
            FROM sims) WHERE rank <= 3),
        ex AS (
          SELECT p_id, t_id, sim FROM (
            SELECT p.vec_id AS p_id, t.vec_id AS t_id,
                   round(list_inner_product(p.emb, t.emb) /
                     (sqrt(list_inner_product(p.emb, p.emb)) *
                      sqrt(list_inner_product(t.emb, t.emb))), 6) AS sim,
                   ROW_NUMBER() OVER (PARTITION BY p.vec_id
                     ORDER BY round(list_inner_product(p.emb, t.emb) /
                       (sqrt(list_inner_product(p.emb, p.emb)) *
                        sqrt(list_inner_product(t.emb, t.emb))), 6) DESC,
                       t.vec_id) AS rank
            FROM e p, e t WHERE p.vec_id < 100) WHERE rank <= 3),
        ${sqlRecall("ivf", "max_missed_sim", "MAX(sim)", reported)}"""),
    doc)

  /** q192/q193: the q34 LSH pairs at (`nBits`, `nTables`), audited
    * against the q33 exact pair space; `reported` columns lead. */
  private def lshRecall(e: DataFrame, nBits: Int, nTables: Int,
      reported: (String, Int)*): DataFrame = {
    val exact = Similarity.nearDupPairs(e, "vec_id", "emb", threshold = 0.4)
      .select(col("a_id"), col("b_id"), col("sim"))
    val lsh = Similarity.lshNearDup(e, "vec_id", "emb",
        threshold = 0.4, nBits = nBits, nTables = nTables)
      .select(col("a_id"), col("b_id")).localCheckpoint()
    val missed = exact.join(lsh, Seq("a_id", "b_id"), "left_anti")
    val ne = exact.agg(count(lit(1)).as("n_exact"))
    val nl = lsh.agg(count(lit(1)).as("n_lsh"))
    val nm = missed.agg(count(lit(1)).as("n_missed"),
      max(col("sim")).as("max_missed_sim"))
    ne.crossJoin(nl).crossJoin(nm)
      .select(reported.map { case (n, v) => lit(v).as(n) } ++ Seq(
        col("n_exact"), col("n_lsh"), col("n_missed"), Recall,
        col("max_missed_sim")): _*)
  }

  /** PQ over `e`: `m` × `k`-cell codebooks trained on vec_id < 200, the
    * codes of every vector (t_id, codes), and the probes vec_id < 50
    * (p_id, p_vec) — the q73 set-up. */
  private def pqIndex(e: DataFrame, m: Int, k: Int): (DataFrame, DataFrame, DataFrame) = {
    val books = Similarity.pqCodebooks(
      e.filter(col("vec_id") < 200), "vec_id", "emb", m = m, k = k, iters = 2)
    val coded = Similarity.pqEncode(e, "vec_id", "emb", books)
      .select(col("vec_id").as("t_id"), col("codes"))
    val probes = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("p_id"), col("emb").as("p_vec"))
    (books, coded, probes)
  }

  /** The oracle of [[pqIndex]] followed by each probe's ADC distance to
    * every coded target (`scored` p_id, t_id, adc). */
  private def sqlPqScored(m: Int, k: Int): String = {
    val sd = 64 / m
    s"""
        WITH e AS ($SqlEmbBare),
        samp AS (SELECT vec_id, emb FROM e WHERE vec_id < 200),
        ${OracleGen.pqBooksCtes("", "samp", m = m, subDim = sd, k = k, iters = 2)}
        ${OracleGen.pqEncodeCte("enc", "", "e", m = m, subDim = sd)}
        probes AS (SELECT vec_id AS p_id, emb FROM e WHERE vec_id < 50),
        dtab AS (
          SELECT p.p_id, b.sub, b.cell,
                 ${OracleGen.sqDist(s"p.emb[(b.sub*$sd+1):(b.sub*$sd+$sd)]", "b.c_vec", sd)} AS d
          FROM probes p CROSS JOIN books b),
        tc AS (SELECT vec_id AS t_id, unnest(codes) AS cell,
                      generate_subscripts(codes, 1) - 1 AS sub FROM enc),
        scored AS (
          SELECT dt.p_id, tc.t_id, round(SUM(dt.d), 6) AS adc
          FROM tc JOIN dtab dt ON dt.sub = tc.sub AND dt.cell = tc.cell
          GROUP BY dt.p_id, tc.t_id)"""
  }

  /** The exact squared-L2 top 3 of each probe over `tg`
    * (p_id, t_id, d2) — the baseline of the PQ audits. */
  private def exactL2Top3(probes: DataFrame, tg: DataFrame): DataFrame =
    rankL2(probes.crossJoin(tg)).select(col("p_id"), col("t_id"), col("d2"))

  /** Rank (p_id, p_vec, t_id, t_vec) rows by rounded squared L2 per
    * probe and keep the top 3. */
  private def rankL2(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("p_id")).orderBy(col("d2"), col("t_id"))
    pairs.select(col("p_id"), col("t_id"),
        round(fastSquaredL2(col("p_vec"), col("t_vec")), 6).as("d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
  }

  /** The oracle of [[exactL2Top3]] as `ex`. */
  private val SqlExactL2Top3 = s"""ex AS (
          SELECT p_id, t_id, d2 FROM (
            SELECT p.p_id, t.vec_id AS t_id,
                   round(${OracleGen.sqDist("p.emb", "t.emb", 64)}, 6) AS d2,
                   ROW_NUMBER() OVER (PARTITION BY p.p_id
                     ORDER BY round(${OracleGen.sqDist("p.emb", "t.emb", 64)}, 6),
                       t.vec_id) AS rank
            FROM probes p CROSS JOIN e t) WHERE rank <= 3)"""

  def all: Seq[(String, Q)] = Seq(

    // ---- q30: broadcast threshold match, first-match-wins ----------------
    "q30_broadcast_match" -> Q(
      (s, d) => {
        val e = emb(s, d)
        Similarity.thresholdMatch(
            e, "vec_id", "emb", targets(e), "t_id", "t_emb", "t_label", tolerance = 1.2)
          .select(col("vec_id"),
                  coalesce(concat(lit("person_"), col("match_label")), lit("Unknown")).as("match_name"),
                  col("n_matches"))
          .orderBy(col("vec_id"))
      },
      Some(s"""
        WITH e AS ($SqlEmb),
        t AS ($SqlTargets),
        m AS (
          SELECT e.vec_id,
                 min_by(t.t_label, t.t_id) AS match_label,
                 COUNT(*) AS n_matches
          FROM e, t
          WHERE list_distance(e.emb, t.t_emb) <= 1.2
          GROUP BY e.vec_id)
        SELECT e.vec_id,
               COALESCE('person_' || CAST(m.match_label AS VARCHAR), 'Unknown') AS match_name,
               COALESCE(CAST(m.n_matches AS BIGINT), 0) AS n_matches
        FROM e LEFT JOIN m ON e.vec_id = m.vec_id
        ORDER BY e.vec_id"""),
      "Flagship: broadcast NLJ similarity join, L2<=tol, first match wins."),

    // ---- q31: brute-force cosine top-k ----------------------------------
    "q31_cosine_topk" -> Q(
      (s, d) => {
        val e = emb(s, d)
        val probes = e.filter(col("vec_id") < 100)
          .select(col("vec_id").as("p_id"), col("emb").as("p_vec"))
        val tg = e.filter(col("label") >= 5)
          .select(col("vec_id").as("t_id"), col("emb").as("t_vec"))
        Similarity.topK(probes, "p_id", "p_vec", tg, "t_id", "t_vec", k = 3)
          .orderBy(col("p_id"), col("rank"))
      },
      Some(SqlCosineTop3),
      "ANN baseline: exact cosine top-3 per probe via broadcast + window."),

    // ---- q201: embedding centroid drift ----------------------------------
    "q201_embedding_drift" -> Q(
      (s, d) =>
        graft.operators.Similarity.centroidDrift(emb(s, d), "emb",
          isRef = col("vec_id") % 2 === 0),
      Some(s"""
        WITH e AS ($SqlEmb),
        x AS (
          SELECT vec_id % 2 = 0 AS is_ref,
                 CAST(floor(unnest(emb) * 1e6 + 0.5) AS BIGINT) AS g,
                 generate_subscripts(emb, 1) AS dim
          FROM e),
        bd AS (
          SELECT dim,
                 CAST(SUM(CASE WHEN is_ref THEN g ELSE 0 END) AS BIGINT) AS sr,
                 CAST(SUM(CASE WHEN NOT is_ref THEN g ELSE 0 END) AS BIGINT) AS sc,
                 CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cr,
                 CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cc
          FROM x GROUP BY dim),
        d2 AS (
          SELECT sr, sc, cr, cc,
                 CAST(round((CAST(sr AS DOUBLE) / nullif(CAST(cr AS DOUBLE), 0.0) / 1e6 -
                             CAST(sc AS DOUBLE) / nullif(CAST(cc AS DOUBLE), 0.0) / 1e6) *
                            (CAST(sr AS DOUBLE) / nullif(CAST(cr AS DOUBLE), 0.0) / 1e6 -
                             CAST(sc AS DOUBLE) / nullif(CAST(cc AS DOUBLE), 0.0) / 1e6),
                        14) AS DECIMAL(38,14)) AS d2
          FROM bd),
        agg AS (
          SELECT MAX(cr) AS n_ref, MAX(cc) AS n_cur,
                 SUM(CAST(sr AS HUGEINT) * CAST(sc AS HUGEINT)) AS dot,
                 SUM(CAST(sr AS HUGEINT) * CAST(sr AS HUGEINT)) AS r2,
                 SUM(CAST(sc AS HUGEINT) * CAST(sc AS HUGEINT)) AS c2,
                 SUM(d2) AS l2sq
          FROM d2)
        SELECT n_ref, n_cur,
               CAST(dot AS DOUBLE) /
                 nullif(sqrt(CAST(r2 AS DOUBLE)) * sqrt(CAST(c2 AS DOUBLE)),
                   0.0) AS cosine,
               sqrt(CAST(l2sq AS DOUBLE)) AS l2_centroids
        FROM agg"""),
      "Embedding-space drift between the even- and odd-id slices: " +
        "values snap to a 1e-6 grid so each slice's per-dim SUM vector " +
        "is an exact integer; centroid cosine equals sum-vector cosine " +
        "(1/n cancels) — one unrounded IEEE chain over exact dot/norms " +
        "— and the centroid L2 accumulates round(diff^2,14) terms in " +
        "DECIMAL(38,14) (order-independent). The vector-modality " +
        "monitor beside q187's PSI and q197's KS: 'did the encoder or " +
        "corpus move?' before an IVF/PQ index is trusted across " +
        "batches. State: 5 numbers per dimension at any corpus size."),

    // ---- q32: per-label centroids ---------------------------------------
    "q32_label_centroids" -> Q(
      (s, d) => Similarity.labelCentroids(emb(s, d), "label", "emb")
        .orderBy(col("label"), col("dim")),
      Some(s"""
        WITH e AS ($SqlEmb)
        SELECT label, CAST(dim AS INT) AS dim,
               round(AVG(v), 6) AS centroid, COUNT(*) AS n
        FROM (SELECT label, unnest(emb) AS v,
                     generate_subscripts(emb, 1) AS dim FROM e)
        GROUP BY label, dim
        ORDER BY label, dim"""),
      "UDAF-shaped centroid agg, dimension-exploded for SQL parity."),

    // ---- q33: embedding near-duplicate pairs -----------------------------
    "q33_embedding_neardup" -> Q(
      (s, d) => Similarity.nearDupPairs(emb(s, d), "vec_id", "emb", threshold = 0.4)
        .orderBy(col("a_id"), col("b_id")),
      Some(s"""
        WITH e AS ($SqlEmb)
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          round(list_inner_product(a.emb, b.emb) /
            (sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(b.emb, b.emb))),
            6) AS sim
        FROM e a, e b
        WHERE a.vec_id < b.vec_id
          AND list_inner_product(a.emb, b.emb) /
            (sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(b.emb, b.emb)))
            >= 0.4
        ORDER BY a_id, b_id"""),
      "Exact embedding near-dup pairs (cosine >= 0.4); LSH path in tests."),

    // ---- q35: IVF approximate top-k (oracle: full routing recomputed) ----
    "q35_ivf_topk" -> Q(
      (s, d) => {
        val e = emb(s, d)
        val probes = e.filter(col("vec_id") < 100)
          .select(col("vec_id").as("p_id"), col("emb").as("p_vec"))
        val tg = e.select(col("vec_id").as("t_id"), col("emb").as("t_vec"))
        val quantizer = Similarity.centroidsAsQuantizer(e, "label", "emb")
        Similarity.ivfTopK(probes, "p_id", "p_vec", tg, "t_id", "t_vec",
            quantizer, "cell", "centroid_vec", k = 3, nProbe = 4)
          .orderBy(col("p_id"), col("rank"))
      },
      Some(s"""
        WITH e AS ($SqlEmb),
        $SqlLabelCent,
        ${sqlIvfSims(4)},
        $SqlTop3"""),
      "IVF scale path: coarse-quantized cells, nProbe-bounded search — " +
        "the whole cell routing is recomputed by the oracle; recall vs " +
        "exact q31 in tests."),

    // ---- q208: IVF recall audit (the ANN path measures itself) -----------
    "q208_ivf_recall" -> ivfRecall(nProbe = 4, "k" -> 3,
      "Recall audit of the q35 IVF path against the exact cosine top-k " +
        "over the SAME probe/target sets — the ANN operator measuring " +
        "its own quality like q192 does for LSH (run per corpus before " +
        "trusting a nProbe setting at scale): recall@k as one IEEE " +
        "division of exact counts, max_missed_sim naming the worst " +
        "false negative. It has teeth: q35's nProbe=4 recalls only " +
        "78% of exact top-3 on this corpus (q209 closes the loop). At " +
        "100 TB the exact arm is the input-capped audit baseline on a " +
        "sample slice; the IVF arm is the production path."),

    // ---- q209: recall-tuned IVF (audited) ---------------------------------
    "q209_ivf_tuned" -> ivfRecall(nProbe = 8, "n_probe" -> 8,
      "The q208 audit closed into a fix: widening nProbe 4 -> 8 (of 10 " +
        "cells) re-audits recall on the same exact baseline — the " +
        "audit-then-tune loop q192/q193 established for LSH, applied " +
        "to IVF. Probing more cells costs a linear candidate-count " +
        "increase, never a different plan shape."),

    // ---- q34: LSH-bucketed near-dup (oracle: md5 hyperplane signs) -------
    "q34_lsh_neardup" -> Q(
      (s, d) => Similarity.lshNearDup(emb(s, d), "vec_id", "emb",
          threshold = 0.4, nBits = 6, nTables = 6)
        .orderBy(col("a_id"), col("b_id")),
      Some(OracleGen.q34Sql(dim = 64, threshold = 0.4, nBits = 6, nTables = 6,
        seed = 1000)),
      "LSH candidate generation + exact rescoring; md5-parity " +
        "hyperplane signs make buckets, candidates and rescored sims " +
        "all oracle-checkable; recall vs q33 in tests."),

    // ---- q192: LSH recall audit (the operator measures itself) ----------
    "q192_lsh_recall" -> Q(
      (s, d) => lshRecall(emb(s, d), nBits = 6, nTables = 6),
      Some(OracleGen.q192Sql(dim = 64, threshold = 0.4, nBits = 6,
        nTables = 6, seed = 1000)),
      "Recall audit of the q34 LSH path against the q33 exact pair " +
        "space — the near-dup operator MEASURING ITS OWN quality as a " +
        "registered relation (run it per corpus before trusting the " +
        "banded path at scale): pairs the exact space misses nothing, " +
        "recall = surviving fraction, max_missed_sim names the worst " +
        "false negative. Recall is one IEEE division of exact counts; " +
        "at 100 TB the exact arm is the input-capped baseline, so the " +
        "audit runs on a sample slice while the LSH path runs on the " +
        "corpus."),

    // ---- q193: recall-tuned LSH (audited) --------------------------------
    "q193_lsh_tuned" -> Q(
      (s, d) => {
        val e = emb(s, d)
        // closed-form config: 4-bit bands, tables solved for a 90%
        // recall floor AT the 0.4 threshold (14 tables)
        val tables = Similarity.lshTablesFor(0.4, 0.9, nBits = 4)
        lshRecall(e, nBits = 4, nTables = tables, "n_tables" -> tables)
      },
      Some {
        val tables = Similarity.lshTablesFor(0.4, 0.9, nBits = 4)
        s"""WITH audit AS (${OracleGen.q192Sql(dim = 64, threshold = 0.4,
          nBits = 4, nTables = tables, seed = 1000)})
        SELECT CAST($tables AS INT) AS n_tables, n_exact, n_lsh,
               n_missed, recall, max_missed_sim
        FROM audit"""
      },
      "The q192 audit closed into a fix: lshTablesFor solves the " +
        "hyperplane collision formula 1-(1-p^b)^T for the smallest T " +
        "with recall >= 90% AT the threshold (p = 1 - arccos(s)/pi — a " +
        "recall FLOOR, since pairs above the threshold collide more " +
        "often), and the tuned 4-bit x 14-table config is re-audited " +
        "through the same exact-join relation. Config is " +
        "data-independent driver arithmetic, so it embeds in the " +
        "oracle as constants."),

    // ---- q59: int8 embedding quantization --------------------------------
    "q59_quantize_int8" -> Q(
      (s, d) => {
        import graft.functions.VectorFunctions._
        emb(s, d)
          .withColumn("scale", int8Scale(col("emb")))
          .withColumn("q", quantizeInt8(col("emb"), col("scale")))
          .select(col("vec_id"),
            size(col("q")).as("n_dims"),
            col("scale"),
            concat_ws(",", col("q").cast("array<string>")).as("q_csv"),
            dequantMaxErr(col("emb"), col("q"), col("scale")).as("max_abs_err"))
          .orderBy(col("vec_id"))
      },
      Some(s"""
        WITH e AS ($SqlEmb),
        sc AS (
          SELECT vec_id, emb,
                 list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
          FROM e
        ), qz AS (
          SELECT vec_id, emb, scale,
                 list_transform(emb, x -> CAST(
                   CASE WHEN scale = 0.0 THEN 0.0 ELSE round(x / scale) END AS INT)) AS q
          FROM sc
        )
        SELECT vec_id, CAST(len(q) AS INT) AS n_dims, scale,
               array_to_string(q, ',') AS q_csv,
               list_max(list_transform(range(1, len(emb) + 1),
                 i -> abs(emb[i] - q[i] * scale))) AS max_abs_err
        FROM qz ORDER BY vec_id"""),
      "Max-abs int8 quantization with reconstruction-error audit: 8x " +
        "smaller vectors through every shuffle/broadcast at 100 TB; " +
        "round-half-away parity makes the full q vector hash-checkable."),

    // ---- q61: k-means trainer (oracle: unrolled Lloyd's CTE chain) --------
    "q61_kmeans" -> Q(
      (s, d) => {
        val e = emb(s, d).select(col("vec_id"), col("emb"))
        Similarity.kMeans(e, "vec_id", "emb", k = 8, iters = 4)
          .select(col("cell"), col("n_members"),
            posexplode(col("centroid_vec")).as(Seq("pos", "c")))
          .select(col("cell"), col("n_members"), (col("pos") + 1).as("dim"),
            round(col("c"), 9).as("centroid"))
          .orderBy(col("cell"), col("dim"))
      },
      Some(OracleGen.q61Sql(k = 8, iters = 4, dim = 64)),
      "Lloyd's k-means: projection-only assignment (model ships inside " +
        "the NearestCell expression — zero full-data shuffles per " +
        "iteration), 1e-9-grid integer means make the full training " +
        "run hash-checkable against an unrolled SQL oracle."),

    // ---- q72: product quantization (oracle: per-subspace kMeans chain) ----
    "q72_product_quantize" -> Q(
      (s, d) => {
        val e = emb(s, d).select(col("vec_id"), col("emb"))
        Similarity.productQuantize(e, "vec_id", "emb", m = 2, k = 8, iters = 2,
            trainSample = _.filter(col("vec_id") < 200))
          .select(col("vec_id"),
            concat_ws(",", col("codes").cast("array<string>")).as("codes_csv"),
            round(col("recon_err"), 6).as("recon_err"))
          .orderBy(col("vec_id"))
      },
      Some(s"""
        WITH e AS ($SqlEmbBare),
        samp AS (SELECT vec_id, emb FROM e WHERE vec_id < 200),
        ${OracleGen.pqBooksCtes("", "samp", m = 2, subDim = 32, k = 8, iters = 2)}
        ${OracleGen.pqEncodeCte("enc", "", "e", m = 2, subDim = 32)}
        out AS (
          SELECT vec_id, array_to_string(codes, ',') AS codes_csv,
                 round(recon_err, 6) AS recon_err
          FROM enc)
        SELECT * FROM out ORDER BY vec_id"""),
      "PQ codebooks (sample-trained subspace k-means) + m-byte codes: " +
        "the compression half of IVF-PQ; the grid-mean trainer makes " +
        "codes AND reconstruction errors oracle-checkable."),

    // ---- q73: ADC search over PQ codes (oracle: chained through q72) ------
    "q73_pq_adc_topk" -> Q(
      (s, d) => {
        val (books, coded, probes) =
          pqIndex(emb(s, d).select(col("vec_id"), col("emb")), m = 2, k = 8)
        Similarity.pqTopK(probes, "p_id", "p_vec", coded, "t_id", books, k = 3)
          .orderBy(col("p_id"), col("rank"))
      },
      Some(s"""${sqlPqScored(m = 2, k = 8)},
        ranked AS (
          SELECT p_id, t_id, adc,
                 ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY adc, t_id) AS rank
          FROM scored)
        SELECT p_id, t_id, adc, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 3
        ORDER BY p_id, rank"""),
      "Asymmetric-distance top-k over PQ codes: probe distance tables " +
        "broadcast, scoring join carries (id, sub, cell) ints only — " +
        "the in-cell scan of IVF-PQ; oracle chains through the " +
        "deterministic PQ training."),

    // ---- q210: PQ/ADC recall audit ----------------------------------------
    "q210_pq_recall" -> Q(
      (s, d) => {
        val e = emb(s, d).select(col("vec_id"), col("emb"))
        val (books, coded, probes) = pqIndex(e, m = 2, k = 8)
        val pq = Similarity.pqTopK(probes, "p_id", "p_vec", coded, "t_id",
            books, k = 3)
          .select(col("p_id"), col("t_id")).localCheckpoint()
        // the exact arm ranks by the metric ADC approximates: squared L2
        val tg = e.select(col("vec_id").as("t_id"), col("emb").as("t_vec"))
        recallRow(exactL2Top3(probes, tg), pq, "min_missed_d2", min(col("d2")),
          "k" -> 3)
      },
      Some(s"""${sqlPqScored(m = 2, k = 8)},
        pqtop AS (
          SELECT p_id, t_id FROM (
            SELECT p_id, t_id,
                   ROW_NUMBER() OVER (PARTITION BY p_id
                     ORDER BY adc, t_id) AS rank
            FROM scored) WHERE rank <= 3),
        $SqlExactL2Top3,
        ${sqlRecall("pqtop", "min_missed_d2", "MIN(d2)", "k" -> 3)}"""),
      "Recall audit of the q73 PQ/ADC path against the exact squared-L2 " +
        "top-k — the m-byte-code path carries BOTH coarse and " +
        "quantization error, so it audits like q208 does for IVF and " +
        "q192 for LSH (the whole approximate family now measures " +
        "itself): recall@k as one IEEE division of exact counts, " +
        "min_missed_d2 naming the nearest neighbor the codes lost. It " +
        "has SERIOUS teeth: q73's 2x8 config spans only 64 distinct " +
        "codes for 500 vectors — 35% recall, and min_missed_d2 = 0 " +
        "shows it losing exact matches (q211 closes the loop). The " +
        "exact arm is the documented sample-slice baseline at scale."),

    // ---- q211: recall-tuned PQ (audited) ----------------------------------
    "q211_pq_tuned" -> Q(
      (s, d) => {
        val e = emb(s, d).select(col("vec_id"), col("emb"))
        // 4 subspaces x 16 cells: 65536 distinct codes where the 2x8
        // config had 64 — code capacity must exceed the corpus for the
        // ADC ordering to separate near neighbors
        val (books, coded, probes) = pqIndex(e, m = 4, k = 16)
        val tg = e.select(col("vec_id").as("t_id"), col("emb").as("t_vec"))
        // stage 1: ADC shortlist (30 candidates/probe on m-byte codes);
        // stage 2: exact squared-L2 re-rank of ONLY the shortlist — raw
        // vectors are touched 30 rows/probe, never |corpus| rows
        val refined = rankL2(Similarity.pqTopK(probes, "p_id", "p_vec", coded,
            "t_id", books, k = 30)
          .select(col("p_id"), col("t_id"))
          .join(probes, "p_id").join(tg, "t_id"))
          .select(col("p_id"), col("t_id")).localCheckpoint()
        recallRow(exactL2Top3(probes, tg), refined, "min_missed_d2",
          min(col("d2")), "m" -> 4, "k_cells" -> 16)
      },
      Some(s"""${sqlPqScored(m = 4, k = 16)},
        shortlist AS (
          SELECT p_id, t_id FROM (
            SELECT p_id, t_id,
                   ROW_NUMBER() OVER (PARTITION BY p_id
                     ORDER BY adc, t_id) AS rank
            FROM scored) WHERE rank <= 30),
        refined AS (
          SELECT p_id, t_id FROM (
            SELECT s.p_id, s.t_id,
                   ROW_NUMBER() OVER (PARTITION BY s.p_id
                     ORDER BY round(${OracleGen.sqDist("p.emb", "t.emb", 64)}, 6),
                       s.t_id) AS rank
            FROM shortlist s
            JOIN probes p ON p.p_id = s.p_id
            JOIN e t ON t.vec_id = s.t_id) WHERE rank <= 3),
        $SqlExactL2Top3,
        ${sqlRecall("refined", "min_missed_d2", "MIN(d2)", "m" -> 4, "k_cells" -> 16)}"""),
      "The q210 audit closed into a fix — the production ADC shape: " +
        "bigger code capacity (4x16 = 65536 codes vs the audited 64) " +
        "PLUS exact re-rank of a 30-candidate ADC shortlist, so raw " +
        "vectors are touched 30 rows per probe instead of |corpus|. " +
        "Same exact-squared-L2 baseline, same summary row; the audit-" +
        "then-tune loop now covers LSH (q192/q193), IVF (q208/q209), " +
        "and PQ (q210/q211)."),

    // ---- q76: size-routed top-k (forced onto the IVF scale path) ---------
    "q76_ann_autoroute" -> Q(
      (s, d) => {
        val e = emb(s, d).select(col("vec_id"), col("emb"))
        val probes = e.filter(col("vec_id") < 100)
          .select(col("vec_id").as("p_id"), col("emb").as("p_vec"))
        val tg = e.select(col("vec_id").as("t_id"), col("emb").as("t_vec"))
        Similarity.topKAuto(probes, "p_id", "p_vec", tg, "t_id", "t_vec",
            k = 3, exactLimit = 100, kCells = 8, kmIters = 2, nProbe = 4,
            trainSample = _.filter(col("t_id") < 200))
          .orderBy(col("p_id"), col("rank"))
      },
      Some(s"""
        WITH e AS ($SqlEmbBare),
        samp AS (SELECT vec_id, emb FROM e WHERE vec_id < 200),
        ${OracleGen.kmeansCtes("km", "samp", k = 8, iters = 2, dim = 64)}
        cent AS (SELECT cell, c_vec AS cv FROM kmc2),
        ${sqlIvfSims(4)},
        $SqlTop3"""),
      "Size-routed ANN entry point: exact below the cap, kMeans-" +
        "quantized IVF above it (forced here) — one call site, never " +
        "quadratic-unbounded; training AND routing hash-proved."),

    // ---- q77: size-routed near-dup (forced onto the LSH scale path) ------
    "q77_neardup_autoroute" -> Q(
      (s, d) => Similarity.nearDupAuto(emb(s, d), "vec_id", "emb",
          threshold = 0.35, exactLimit = 100, nTables = 8, seed = 2000)
        .orderBy(col("a_id"), col("b_id")),
      // nBits auto-sizes from the corpus (2^bits ≈ n/48): the driver's
      // oracle runs at sf0.01 where n = 500 → 4 bits, baked here. At
      // other scales the bucket space grows with log2(n), which is what
      // keeps this path near-linear (the fixed-width variant measured
      // 58× super-linear in the 10× slope bench).
      Some(OracleGen.q34Sql(dim = 64, threshold = 0.35, nBits = 4, nTables = 8,
        seed = 2000)),
      "Size-routed near-dup entry point: exact below the cap, " +
        "corpus-sized LSH banding + exact rescoring above it (forced " +
        "here); hash-proved through the md5-parity hyperplanes."),

    // ---- q80: matryoshka coarse-to-fine top-k ----------------------------
    "q80_matryoshka_topk" -> Q(
      (s, d) => {
        val e = emb(s, d)
        val probes = e.filter(col("vec_id") < 100)
          .select(col("vec_id").as("p_id"), col("emb").as("p_vec"))
        val tg = e.filter(col("label") >= 5)
          .select(col("vec_id").as("t_id"), col("emb").as("t_vec"))
        Similarity.truncatedTopK(probes, "p_id", "p_vec", tg, "t_id", "t_vec",
            dPrefix = 16, mCand = 10, k = 3)
          .orderBy(col("p_id"), col("rank"))
      },
      Some(s"""
        WITH e AS ($SqlEmb),
        p AS (SELECT vec_id AS p_id, emb AS p_vec, emb[1:16] AS p_pre
              FROM e WHERE vec_id < 100),
        t AS (SELECT vec_id AS t_id, emb AS t_vec, emb[1:16] AS t_pre
              FROM e WHERE label >= 5),
        coarse AS (
          SELECT p.p_id, p.p_vec, t.t_id, t.t_vec,
                 round(list_inner_product(p.p_pre, t.t_pre) /
                   (sqrt(list_inner_product(p.p_pre, p.p_pre)) *
                    sqrt(list_inner_product(t.t_pre, t.t_pre))), 6) AS coarse
          FROM p CROSS JOIN t),
        cand AS (
          SELECT p_id, p_vec, t_id, t_vec FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY p_id
              ORDER BY coarse DESC, t_id) AS rn
            FROM coarse) WHERE rn <= 10),
        fine AS (
          SELECT p_id, t_id,
                 round(list_inner_product(p_vec, t_vec) /
                   (sqrt(list_inner_product(p_vec, p_vec)) *
                    sqrt(list_inner_product(t_vec, t_vec))), 6) AS sim
          FROM cand),
        ranked AS (
          SELECT p_id, t_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY sim DESC, t_id) AS rank
          FROM fine)
        SELECT p_id, t_id, sim, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 3
        ORDER BY p_id, rank"""),
      "Matryoshka funnel: rank on 16-dim prefixes (d/4 cost per pair), " +
        "exact re-rank of the 10 survivors at full dimension — both " +
        "stages hash-proved; the coarse stage routes through IVF/LSH " +
        "at corpus scale."),

    // ---- q87: semantic dedup (SemDeDup: cluster, then prune in-cell) ------
    "q87_semdedup" -> Q(
      (s, d) => {
        val e = emb(s, d).select(col("vec_id"), col("emb"))
        // k auto-sizes from the budget (n / targetCellSize, floor 8):
        // at the driver's fixed sf0.01 (n = 500) that resolves to
        // k = 8, which is what the oracle's unrolled CTE chain trains —
        // so the REGISTERED query is the scale path, not a pinned twin.
        // The oracle SQL hard-codes that k=8 chain, and the parity
        // harness always evaluates it against the sf0.01 dir — so AT
        // THAT DIR a drifted auto-k must fail LOUDLY here instead of
        // surfacing as a baffling hash mismatch (any other dir — bench
        // at sf0.1, slope captures — legitimately auto-sizes k and is
        // never oracle-compared)
        if (d.stripSuffix("/").endsWith("sf0.01")) {
          val autoK = Similarity.semDedupAutoK(e.count())
          require(autoK == 8L,
            s"q87's oracle chains a k=8 trainer but the fixture auto-sizes " +
              s"k=$autoK; regenerate the oracle (OracleGen.kmeansCtes k)")
        }
        Similarity.semDedup(e, "vec_id", "emb", threshold = 0.4, iters = 2)
          .orderBy(col("vec_id"))
      },
      Some(s"""
        WITH e AS ($SqlEmbBare),
        ${OracleGen.kmeansCtes("", "e", k = 8, iters = 2, dim = 64)}
        ${OracleGen.assignCte("fin", "e", "c2", dim = 64)}
        drops AS (
          SELECT DISTINCT b.vec_id
          FROM fin a JOIN fin b ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE list_inner_product(a.emb, b.emb) /
            (sqrt(list_inner_product(a.emb, a.emb)) *
             sqrt(list_inner_product(b.emb, b.emb))) >= 0.4)
        SELECT f.vec_id, CAST(f.cell AS INT) AS cell,
               (d.vec_id IS NULL) AS keep
        FROM fin f LEFT JOIN drops d ON f.vec_id = d.vec_id
        ORDER BY f.vec_id"""),
      "SemDeDup: kMeans clusters bound the pair search to within-cell " +
        "(expected n/k per cell), junior near-dups dropped — training, " +
        "assignment and pruning all hash-proved through the " +
        "deterministic trainer; border-pair recall loss pinned in " +
        "VectorSpec."),

    // ---- q89: JL random projection (md5 signs, self-auditing) -------------
    "q89_random_projection" -> Q(
      (s, d) => {
        val e = emb(s, d).select(col("vec_id"), col("emb"))
        Similarity.randomProject(e, "vec_id", "emb", dOut = 16, seed = 7L)
          .select(col("vec_id"), posexplode(col("proj")).as(Seq("pos", "p")),
            col("norm_ratio"))
          .select(col("vec_id"), (col("pos") + 1).as("dim"),
            round(col("p"), 6).as("proj"), col("norm_ratio"))
          .orderBy(col("vec_id"), col("dim"))
      },
      Some(s"""
        WITH e AS ($SqlEmbBare),
        grid AS (
          SELECT ii.range AS i, jj.range AS j
          FROM range(0, 16) ii, range(0, 64) jj),
        signs AS (
          SELECT i,
                 list(CASE WHEN CAST(concat('0x', substr(md5(
                     '7:' || CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)
                   ), 1, 1)) AS INT) % 2 = 0 THEN 1.0 ELSE -1.0 END ORDER BY j) AS s
          FROM grid GROUP BY i),
        proj AS (
          SELECT e.vec_id, s.i,
                 list_aggregate(list_transform(range(1, 65),
                   j -> e.emb[j] * s.s[j]), 'sum') / sqrt(16.0) AS p
          FROM e CROSS JOIN signs s),
        nr AS (
          SELECT vec_id,
                 list_aggregate(list_transform(list(p ORDER BY i),
                   x -> x * x), 'sum') AS pn
          FROM proj GROUP BY vec_id),
        vn AS (SELECT vec_id, list_inner_product(emb, emb) AS vv FROM e)
        SELECT proj.vec_id, CAST(proj.i + 1 AS INT) AS dim,
               round(proj.p, 6) AS proj,
               round(nr.pn / vn.vv, 4) AS norm_ratio
        FROM proj JOIN nr USING (vec_id) JOIN vn USING (vec_id)
        ORDER BY proj.vec_id, dim"""),
      "JL random projection 64-d -> 16-d: md5-parity sign matrix makes " +
        "the compressed vectors hash-provable; per-row norm-ratio " +
        "audit rides along — the pre-ANN bandwidth cut for every " +
        "downstream shuffle/broadcast at 100 TB."),

    // ---- q93: composed RAG retrieval (chunk -> embed -> top-k) ------------
    "q93_rag_retrieval" -> Q(
      (s, d) => ragRetrieval(s, d),
      Some("""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        c AS (
          SELECT doc_id, w,
                 CASE WHEN len(w) <= 32 THEN 1
                      ELSE (len(w) - 32 + 24 - 1) // 24 + 1 END AS nc
          FROM w
        ), ex AS (
          SELECT doc_id, w, unnest(range(0, nc)) AS i FROM c
        ), ch AS (
          SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                 md5(array_to_string(w[(i*24+1):least(i*24+32, len(w))], ' ')) AS h
          FROM ex
        ), emb AS (
          SELECT doc_id, chunk_idx,
                 list_transform(range(0, 8), j ->
                   CAST(concat('0x', substr(h, CAST(j*4 + 1 AS INT), 4)) AS BIGINT)
                     / 65536.0) AS e
          FROM ch
        ), p AS (
          SELECT doc_id AS q_id, e AS pv FROM emb WHERE doc_id < 5 AND chunk_idx = 0
        ), t AS (
          SELECT doc_id * 1000000 + chunk_idx AS t_id, doc_id, chunk_idx, e AS tv FROM emb
        ), sims AS (
          SELECT p.q_id, t.t_id, t.doc_id, t.chunk_idx,
                 round(list_inner_product(p.pv, t.tv) /
                   (sqrt(list_inner_product(p.pv, p.pv)) *
                    sqrt(list_inner_product(t.tv, t.tv))), 6) AS sim
          FROM p CROSS JOIN t
        ), ranked AS (
          SELECT q_id, doc_id, chunk_idx, sim,
                 ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, t_id) AS rank
          FROM sims
        )
        SELECT q_id, doc_id, chunk_idx, sim, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 3
        ORDER BY q_id, rank"""),
      "Composed retrieval pipeline: stride-chunk the corpus, embed " +
        "each chunk (content-derived stub — the model slot at 100 TB), " +
        "top-3 chunks per query with (doc, chunk) provenance — " +
        "chunking, embedding and ranking hash-proved end to end; " +
        "scoring is size-routed (topKAuto), so past the cap it plans " +
        "the IVF equi-join instead of refusing."),

    // ---- q105: 1-bit binary quantization + Hamming funnel top-k -----------
    "q105_hamming_topk" -> Q(
      (s, d) => {
        val e = emb(s, d)
        val probes = e.filter(col("vec_id") < 100)
          .select(col("vec_id").as("p_id"), col("emb").as("p_vec"))
        val tg = e.filter(col("label") >= 5)
          .select(col("vec_id").as("t_id"), col("emb").as("t_vec"))
        Similarity.hammingTopK(probes, "p_id", "p_vec", tg, "t_id", "t_vec",
            d = 64, mCand = 10, k = 3)
          .orderBy(col("p_id"), col("rank"))
      },
      Some {
        // sign-pack: bit j of word w = (emb[32w + j + 1] > 0); distinct
        // powers of two, so list_sum == bitwise-or — same construction
        // as VectorFunctions.signPack
        def word(alias: String, w: Int) =
          s"CAST(list_sum([CASE WHEN $alias[$w*32 + x + 1] > 0 THEN (1::BIGINT << x) ELSE 0 END " +
            s"for x in generate_series(0, 31)]) AS BIGINT)"
        def pack(alias: String) = s"[${word(alias, 0)}, ${word(alias, 1)}]"
        s"""
        WITH e AS ($SqlEmb),
        p AS (SELECT vec_id AS p_id, emb AS p_vec, ${pack("emb")} AS p_code
              FROM e WHERE vec_id < 100),
        t AS (SELECT vec_id AS t_id, emb AS t_vec, ${pack("emb")} AS t_code
              FROM e WHERE label >= 5),
        coarse AS (
          SELECT p.p_id, p.p_vec, t.t_id, t.t_vec,
                 bit_count(xor(p.p_code[1], t.t_code[1])) +
                 bit_count(xor(p.p_code[2], t.t_code[2])) AS ham
          FROM p CROSS JOIN t),
        cand AS (
          SELECT p_id, p_vec, t_id, t_vec, ham FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY p_id
              ORDER BY ham, t_id) AS rn
            FROM coarse) WHERE rn <= 10),
        fine AS (
          SELECT p_id, t_id, CAST(ham AS BIGINT) AS ham,
                 round(list_inner_product(p_vec, t_vec) /
                   (sqrt(list_inner_product(p_vec, p_vec)) *
                    sqrt(list_inner_product(t_vec, t_vec))), 6) AS sim
          FROM cand),
        ranked AS (
          SELECT p_id, t_id, ham, sim,
                 ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY sim DESC, t_id) AS rank
          FROM fine)
        SELECT p_id, t_id, ham, sim, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 3
        ORDER BY p_id, rank"""
      },
      "Binary-quantization funnel: 1-bit sign codes (32x under " +
        "float32), Hamming shortlist by integer xor+popcount, exact " +
        "cosine re-rank of the 10 survivors — both stages hash-proved. " +
        "The coarse scan streams bits, not floats; probes broadcast."),

    // ---- q106: top principal component via power iteration ----------------
    "q106_pca_power" -> Q(
      (s, d) => Similarity.pcaPowerProject(emb(s, d), "vec_id", "emb",
          d = 64, iters = 5)
        .orderBy(col("vec_id")),
      Some(s"""
        WITH e AS MATERIALIZED ($SqlEmbBare),
        ${OracleGen.pcaCtes("q", "e", "vec_id", "emb", 64, 5)}
        fin AS (${OracleGen.pcaScoreSql("q", "vec_id", 64, 5)})
        SELECT * FROM fin ORDER BY vec_id"""),
      "PCA top component TRAINED by power iteration — the third " +
        "hash-proved iterative trainer (after kMeans and the logistic " +
        "classifier): grid-snapped centering and matvec means, max-abs " +
        "renormalization, unit-L2 final direction; one d-number " +
        "aggregation pass per iteration, zero corpus shuffles, scoring " +
        "a pure projection."),

    // ---- q117: prototypicality pruning -------------------------------------
    "q117_prototypicality" -> Q(
      (s, d) => Similarity.prototypicality(emb(s, d), "vec_id", "emb",
          "label", pruneFrac = 0.2)
        .orderBy(col("vec_id")),
      Some(s"""
        WITH e AS ($SqlEmb),
        c AS (
          SELECT label, CAST(dim AS INT) AS dim, round(AVG(v), 6) AS cv
          FROM (SELECT label, unnest(emb) AS v,
                       generate_subscripts(emb, 1) AS dim FROM e)
          GROUP BY label, dim
        ), cent AS (
          SELECT label, list(cv ORDER BY dim) AS cvec FROM c GROUP BY label
        ), sc AS (
          SELECT e.vec_id, e.label,
                 round(list_inner_product(e.emb, cent.cvec) /
                   (sqrt(list_inner_product(e.emb, e.emb)) *
                    sqrt(list_inner_product(cent.cvec, cent.cvec))), 6) AS proto_cos
          FROM e JOIN cent USING (label)
        ), r AS (
          SELECT vec_id, label, proto_cos,
                 ROW_NUMBER() OVER (PARTITION BY label
                                    ORDER BY proto_cos DESC, vec_id) AS rn,
                 COUNT(*) OVER (PARTITION BY label) AS n
          FROM sc
        )
        SELECT vec_id, label, proto_cos, rn > ceil(n * 0.2) AS keep
        FROM r ORDER BY vec_id"""),
      "Prototypicality pruning (SSL-prototypes, Sorscher et al. 2022): " +
        "cosine to own-label centroid, prune the easiest 20% per label. " +
        "Bounded centroid agg broadcast back — scoring is one projection " +
        "pass; ranking shuffles only (label, cos, id) triples."),

    // ---- q127: the SQL surface, end to end --------------------------------
    "q127_sql_topk" -> Q(
      (s, d) => {
        // pure spark.sql through the native expressions by name — the
        // surface a SQL-only user of the library sees (GraftExtensions,
        // here installed into the running session); same plan and hash
        // as the DataFrame q31 path
        graft.GraftExtensions.install(s)
        emb(s, d).createOrReplaceTempView("emb_v")
        s.sql("""
          WITH p AS (SELECT vec_id, emb FROM emb_v WHERE vec_id < 100),
          t AS (SELECT vec_id, emb FROM emb_v WHERE label >= 5),
          sims AS (
            SELECT p.vec_id AS p_id, t.vec_id AS t_id,
                   round(vec_dot(p.emb, t.emb) /
                     (sqrt(vec_dot(p.emb, p.emb)) * sqrt(vec_dot(t.emb, t.emb))),
                     6) AS sim
            FROM p CROSS JOIN t
          ), ranked AS (
            SELECT p_id, t_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY p_id
                                      ORDER BY sim DESC, t_id) AS rank
            FROM sims
          )
          SELECT p_id, t_id, sim, rank FROM ranked WHERE rank <= 3
          ORDER BY p_id, rank""")
      },
      Some(SqlCosineTop3),
      "The SQL-user surface end to end: a pure spark.sql program " +
        "through the injected codegen'd vec_dot expression, hash-equal " +
        "to the DataFrame path (q31). Proves SURVEY §2.12's SQL " +
        "registration is first-class, not decoration.")
    ,

    // ---- q171: mutual-kNN + margin scoring (bitext-mining shape) ----------
    "q171_mutual_knn" -> Q(
      (s, d) => {
        val e = emb(s, d)
        val x = e.filter(col("label") <= 4)
          .select(col("vec_id").as("x_id"), col("emb").as("x_vec"))
        val y = e.filter(col("label") >= 5)
          .select(col("vec_id").as("y_id"), col("emb").as("y_vec"))
        // mutualTopK scores each pair ONCE for both direction rankings
        // (exact below the cap — hash-equal to two brute-force topK
        // passes; two IVF-routed passes above it), so the mutual-top-1
        // test is a filter, not a fwd⋈bwd join. The either-direction
        // top-k result is (|x|+|y|)·k rows — checkpoint that, not the
        // pair space.
        val mk = Similarity.mutualTopK(x, "x_id", "x_vec", y, "y_id",
          "y_vec", k = 4).localCheckpoint()
        val fx = mk.filter(col("rank_f") <= 4).groupBy(col("x_id"))
          .agg(sum(col("sim").cast(DecimalType(27, 6))).cast("double")
            .as("sx"), count(lit(1)).as("kx"))
        val by = mk.filter(col("rank_b") <= 4).groupBy(col("y_id"))
          .agg(sum(col("sim").cast(DecimalType(27, 6))).cast("double")
            .as("sy"), count(lit(1)).as("ky"))
        mk.filter(col("rank_f") === 1 && col("rank_b") === 1)
          .select(col("x_id"), col("y_id"), col("sim"))
          .join(fx, Seq("x_id")).join(by, Seq("y_id"))
          .select(col("x_id"), col("y_id"), col("sim"),
            round(col("sim") * lit(2.0) /
              (col("sx") / col("kx").cast("double") +
               col("sy") / col("ky").cast("double")), 6).as("margin"))
          .orderBy(col("x_id"))
      },
      Some(s"""
        WITH e AS ($SqlEmb),
        x AS (SELECT vec_id AS x_id, emb AS x_vec FROM e WHERE label <= 4),
        y AS (SELECT vec_id AS y_id, emb AS y_vec FROM e WHERE label >= 5),
        sims AS (
          SELECT x_id, y_id,
            round(list_inner_product(x_vec, y_vec) /
              (sqrt(list_inner_product(x_vec, x_vec)) *
               sqrt(list_inner_product(y_vec, y_vec))), 6) AS sim
          FROM x, y),
        fwd AS (SELECT *, row_number() OVER (PARTITION BY x_id
                  ORDER BY sim DESC, y_id) AS r FROM sims),
        bwd AS (SELECT *, row_number() OVER (PARTITION BY y_id
                  ORDER BY sim DESC, x_id) AS r FROM sims),
        fx AS (SELECT x_id,
                 CAST(SUM(CAST(sim AS DECIMAL(27,6))) AS DOUBLE) AS sx,
                 COUNT(*) AS kx
               FROM fwd WHERE r <= 4 GROUP BY x_id),
        byy AS (SELECT y_id,
                 CAST(SUM(CAST(sim AS DECIMAL(27,6))) AS DOUBLE) AS sy,
                 COUNT(*) AS ky
               FROM bwd WHERE r <= 4 GROUP BY y_id),
        fb AS (SELECT x_id, y_id, sim FROM fwd WHERE r = 1),
        bb AS (SELECT x_id, y_id FROM bwd WHERE r = 1)
        SELECT f.x_id, f.y_id, f.sim,
               round(f.sim * 2.0 /
                 (fx.sx / CAST(fx.kx AS DOUBLE) +
                  byy.sy / CAST(byy.ky AS DOUBLE)), 6) AS margin
        FROM fb f
        JOIN bb b ON f.x_id = b.x_id AND f.y_id = b.y_id
        JOIN fx ON f.x_id = fx.x_id
        JOIN byy ON f.y_id = byy.y_id
        ORDER BY f.x_id"""),
      "Mutual-kNN alignment with ratio-margin scoring — the bitext/" +
        "cross-source mining shape (Artetxe & Schwenk's margin " +
        "criterion): a pair survives only if each side is the OTHER's " +
        "top-1, and its margin normalizes the pair cosine by both " +
        "sides' average top-4 neighborhood — the local-density " +
        "correction that kills hub matches a raw cosine cutoff keeps. " +
        "Both direction rankings come from ONE mutualTopK pair pass " +
        "(exact fused-window form below the size cap, two IVF-routed " +
        "passes above it; checkpointed against the double-read), " +
        "neighborhood means accumulate on the decimal grid, and the " +
        "margin is two IEEE divisions in fixed order — hash-equal to " +
        "the quadratic oracle. The training-pair miner for parallel " +
        "corpora, cross-lingual alignment, and dedup-across-sources.")
  ) ++ Seq(

    // ---- q245: simplified silhouette over the q61 clustering ---------------
    "q245_silhouette" -> Q(
      (s, d) => {
        val e = emb(s, d).select(col("vec_id"), col("emb"))
        val model = Similarity.kMeans(e, "vec_id", "emb", k = 8, iters = 4)
          .select(col("cell"), col("centroid_vec"))
        // n×k pair space with k = 8: a broadcast projection, never a
        // shuffle — the model is k rows
        val pairs = e.crossJoin(broadcast(model))
          .withColumn("d2",
            fastSquaredL2(col("emb"), col("centroid_vec")))
          .withColumn("dst", sqrt(col("d2")))
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("d2"), col("cell"))
        val scored = pairs
          .withColumn("rn", row_number().over(w))
          .withColumn("a", first(col("dst")).over(
            Window.partitionBy(col("vec_id"))
              .orderBy(col("d2"), col("cell"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("own", first(col("cell")).over(
            Window.partitionBy(col("vec_id"))
              .orderBy(col("d2"), col("cell"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("rn") === 2) // second-nearest row carries b = dst
          .select(col("vec_id"), col("own").as("cell"),
            col("a"), col("dst").as("b"))
          .withColumn("sil",
            when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
              .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
        scored.groupBy(col("cell"))
          .agg(count(lit(1)).as("n"),
            ((sum(round(col("sil") * lit(1e9)).cast("long")
              .cast(DecimalType(38, 0))).cast("double") /
              count(lit(1)).cast("double")) / lit(1e9)).as("mean_sil"))
          .orderBy(col("cell"))
      },
      Some(s"""
        WITH e AS ($SqlEmbBare),
        ${OracleGen.kmeansCtes("", "e", 8, 4, 64)}
        pairs AS (
          SELECT e.vec_id, c.cell,
                 ${OracleGen.sqDist("e.emb", "c.c_vec", 64)} AS d2
          FROM e CROSS JOIN c4 c),
        ranked AS (
          SELECT vec_id, cell, d2,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2, cell) AS rn
          FROM pairs),
        ab AS (
          SELECT r2.vec_id, r1.cell,
                 sqrt(r1.d2) AS a, sqrt(r2.d2) AS b
          FROM ranked r1 JOIN ranked r2
            ON r1.vec_id = r2.vec_id AND r1.rn = 1 AND r2.rn = 2),
        sil AS (
          SELECT vec_id, cell,
                 CASE WHEN greatest(a, b) = 0 THEN CAST(0 AS DOUBLE)
                      ELSE (b - a) / greatest(a, b) END AS sil
          FROM ab)
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(sil * 1e9) AS BIGINT)) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) / 1e9 AS mean_sil
        FROM sil GROUP BY cell
        ORDER BY cell"""),
      "Simplified (centroid-based) silhouette for the q61 k-means " +
        "model — the standard clustering-quality score made linear: " +
        "a = distance to own centroid, b = distance to the runner-up " +
        "centroid, s = (b-a)/max(a,b), averaged per cell. The exact " +
        "silhouette's O(n²) point-to-point pass collapses to an n×k " +
        "broadcast projection (k model rows ship with the plan). " +
        "sqrt is correctly rounded so both engines score identical " +
        "doubles; per-cell means snap each s to the 1e-9 grid and sum " +
        "exactly — no float accumulation order anywhere."),

    // ---- q269: mean reciprocal rank of the cosine retriever ----------------
    "q269_mrr" -> Q(
      (s, d) => {
        val e = emb(s, d)
        val probes = e.filter(col("vec_id") < 100)
          .select(col("vec_id").as("p_id"), col("emb").as("p_vec"))
        val tg = e.filter(col("vec_id") >= 100)
          .select(col("vec_id").as("t_id"), col("emb").as("t_vec"))
        val ranked = Similarity.topK(probes, "p_id", "p_vec",
          tg, "t_id", "t_vec", k = 10)
        val pLab = e.filter(col("vec_id") < 100)
          .select(col("vec_id").as("p_id"), col("label").as("p_label"))
        val tLab = e.filter(col("vec_id") >= 100)
          .select(col("vec_id").as("t_id"), col("label").as("t_label"))
        val labeled = ranked
          .join(broadcast(pLab), "p_id")
          .join(tLab, "t_id")
        graft.operators.Quality.mrrReport(labeled, col("p_id"),
            col("rank"), col("p_label") === col("t_label"))
          .select(col("probe").as("p_id"), col("hit_rank"), col("rr"),
            col("mrr"))
          .orderBy(col("p_id"))
      },
      Some(s"""
        WITH e AS ($SqlEmb),
        sims AS (
          SELECT p.vec_id AS p_id, p.label AS p_label,
                 t.vec_id AS t_id, t.label AS t_label,
            round(list_inner_product(p.emb, t.emb) /
              (sqrt(list_inner_product(p.emb, p.emb)) *
               sqrt(list_inner_product(t.emb, t.emb))), 6) AS sim
          FROM e p, e t
          WHERE p.vec_id < 100 AND t.vec_id >= 100),
        ranked AS (
          SELECT p_id, p_label, t_label, sim,
            ROW_NUMBER() OVER (PARTITION BY p_id
              ORDER BY sim DESC, t_id) AS rank
          FROM sims),
        hits AS (
          SELECT p_id, MIN(rank) AS hit_rank
          FROM ranked WHERE rank <= 10 AND p_label = t_label
          GROUP BY p_id),
        base AS (
          SELECT p.vec_id AS p_id, h.hit_rank,
                 coalesce(CAST(1 AS DOUBLE) / h.hit_rank,
                   CAST('0.0' AS DOUBLE)) AS rr
          FROM e p LEFT JOIN hits h ON h.p_id = p.vec_id
          WHERE p.vec_id < 100)
        SELECT p_id, CAST(hit_rank AS INT) AS hit_rank, rr,
               round(CAST(SUM(CAST(round(rr, 12) AS DECIMAL(28,12)))
                   OVER () AS DOUBLE)
                 / CAST(COUNT(*) OVER () AS DOUBLE), 6) AS mrr
        FROM base ORDER BY p_id"""),
      "Mean reciprocal rank of the exact cosine retriever: where does " +
        "the first same-label hit land in each probe's top-10? — the " +
        "first-hit eval completing the retrieval scorecard beside " +
        "NDCG's graded gains (q189) and the recall@k audits " +
        "(q208/q210). Rides the SAME rounded-sim ranking the q31 " +
        "oracle pins; per-probe reduction then one window over the " +
        "bounded probe relation; reciprocal ranks are pure integer " +
        "ratios (unrounded), the corpus MRR a 1e-12-grid exact mean. " +
        "No-hit probes contribute rr = 0, the truncated-MRR " +
        "convention.")
  )
}
