package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.operators.EntityResolution
import graft.operators.EntityResolution.LinkField
import graft.functions.TextFunctions.jaroWinkler

/** Probabilistic record linkage tier ([[EntityResolution]] §Fellegi–
  * Sunter): blocked candidate generation, per-field agreement scoring,
  * entity resolution via connected components, and field-level
  * golden-record survivorship. The corpus is the customer table plus
  * two DETERMINISTIC perturbed copies (the standard ER benchmark
  * construction — corrupted duplicates with known ground truth):
  * copy A (every 3rd customer) keeps the balance but uppercases the
  * name and loses the segment; copy B (every 5th) typos the name but
  * keeps balance and segment. With the field weights below, A-copies
  * score 5.5 (match at threshold 4), B-copies 2.0 (candidate,
  * rejected), unrelated in-block pairs go negative — so the expected
  * entity structure is exact and BOTH engines derive it from scratch.
  */
object LinkageQueries {

  /** The messy-records corpus: base + two perturbed copies. */
  private def messy(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val base = c.select(col("c_custkey").as("rec_id"),
      col("c_name").as("name"), col("c_nationkey").as("nation"),
      col("c_acctbal").as("bal"), col("c_mktsegment").as("segment"))
    val copyA = c.filter(col("c_custkey") % 3 === 0).select(
      (col("c_custkey") + 100000).as("rec_id"),
      upper(col("c_name")).as("name"), col("c_nationkey").as("nation"),
      col("c_acctbal").as("bal"), lit("UNKNOWN").as("segment"))
    val copyB = c.filter(col("c_custkey") % 5 === 0).select(
      (col("c_custkey") + 200000).as("rec_id"),
      regexp_replace(col("c_name"), "Customer", "Custmer").as("name"),
      col("c_nationkey").as("nation"), col("c_acctbal").as("bal"),
      col("c_mktsegment").as("segment"))
    base.unionByName(copyA).unionByName(copyB)
  }

  private val sqlMessy = """
        recs AS (
          SELECT c_custkey AS rec_id, c_name AS name,
                 c_nationkey AS nation, c_acctbal AS bal,
                 c_mktsegment AS segment
          FROM customer
          UNION ALL
          SELECT c_custkey + 100000, upper(c_name), c_nationkey,
                 c_acctbal, 'UNKNOWN'
          FROM customer WHERE c_custkey % 3 = 0
          UNION ALL
          SELECT c_custkey + 200000, replace(c_name, 'Customer', 'Custmer'),
                 c_nationkey, c_acctbal, c_mktsegment
          FROM customer WHERE c_custkey % 5 = 0)"""

  /** Fellegi–Sunter field weights (log-likelihood literals, estimated
    * offline in a real pipeline): name is the strong identifier,
    * balance the precise-but-brittle one, segment weak. All dyadic
    * doubles, so the score fold is exact. */
  private def fields = Seq(
    // each agreement is equality on a derived key, so the minScore
    // candidate pushdown can turn "all in-block pairs then filter"
    // into equi-joins on the minimal satisfying patterns
    LinkField("name", (a, b) => lower(a) === lower(b), 3.5, -1.5,
      key = Some(c => lower(c))),
    LinkField("bal", (a, b) => a === b, 2.5, -0.75,
      key = Some(identity)),
    LinkField("segment", (a, b) => a === b, 1.0, -0.5,
      key = Some(identity)))

  /** Re-blocking budget: a nation block past this size splits into
    * ceil(size/512) md5-parity sub-blocks on the name's digit tail
    * (stable across the perturbed copies, so true pairs always
    * co-bucket). At sf0.01 every block is under budget — results
    * identical to exhaustive in-block pairing; at 10×/100× in-block
    * pair work stays ~512 × n instead of n². */
  private val BlockBudget = 512L

  private val sqlScored = sqlMessy + """,
        blksz AS (
          SELECT nation, CAST(COUNT(*) AS BIGINT) AS csz
          FROM recs GROUP BY nation),
        subbed AS (
          SELECT r.*,
                 CAST(concat('0x', substr(md5(right(r.name, 9)), 25, 8))
                   AS BIGINT)
                 % CAST(CEIL(CAST(b.csz AS DOUBLE) / 512.0) AS BIGINT) AS sub
          FROM recs r JOIN blksz b ON b.nation = r.nation),
        scored AS (
          SELECT a.rec_id AS a_id, b.rec_id AS b_id,
                 coalesce(lower(a.name) = lower(b.name), false) AS agree_name,
                 coalesce(a.bal = b.bal, false) AS agree_bal,
                 coalesce(a.segment = b.segment, false) AS agree_segment,
                 (CASE WHEN coalesce(lower(a.name) = lower(b.name), false)
                       THEN CAST('3.5' AS DOUBLE)
                       ELSE CAST('-1.5' AS DOUBLE) END
                  + CASE WHEN coalesce(a.bal = b.bal, false)
                         THEN CAST('2.5' AS DOUBLE)
                         ELSE CAST('-0.75' AS DOUBLE) END
                  + CASE WHEN coalesce(a.segment = b.segment, false)
                         THEN CAST('1.0' AS DOUBLE)
                         ELSE CAST('-0.5' AS DOUBLE) END) AS score
          FROM subbed a JOIN subbed b
            ON a.nation = b.nation AND a.sub = b.sub
           AND a.rec_id < b.rec_id)"""

  private val sqlEntities = sqlScored + """,
        edges AS (
          SELECT a_id AS src, b_id AS dst FROM scored WHERE score >= 4.0
          UNION
          SELECT b_id, a_id FROM scored WHERE score >= 4.0),
        walk(v, comp) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.v),
        comp AS (SELECT v, MIN(comp) AS comp FROM walk GROUP BY v),
        ent AS (
          SELECT r.rec_id, COALESCE(c.comp, r.rec_id) AS entity
          FROM recs r LEFT JOIN comp c ON c.v = r.rec_id)"""

  def all: Seq[(String, Q)] = Seq(

    // ---- q219: Fellegi-Sunter linkage scores -------------------------------
    "q219_linkage_scores" -> Q(
      (s, d) => EntityResolution.linkageScores(messy(s, d), "rec_id",
          col("nation"), fields, subKey = expr("right(name, 9)"),
          blockBudget = BlockBudget,
          // the review floor, pushed into candidate generation: score
          // >= 2.0 requires name agreement OR (bal AND segment)
          // agreement, so candidates come from those two equi-joins
          // instead of the full in-block pair stream (identical output
          // — score is a pure function of the agreement pattern)
          minScore = Some(2.0))
        .orderBy(col("a_id"), col("b_id")),
      Some(s"""
        WITH $sqlScored
        SELECT a_id, b_id, agree_name, agree_bal, agree_segment, score
        FROM scored
        WHERE score >= CAST('2.0' AS DOUBLE)
        ORDER BY a_id, b_id"""),
      "Fellegi-Sunter probabilistic record linkage over the " +
        "messy-customer corpus: candidates ONLY from the nation " +
        "blocking equi-join (never a cross join — per-block fan-out is " +
        "the documented scale contract), each pair scored by literal " +
        "log-likelihood field weights and reported above the manual-" +
        "review floor (2.0 — the gray zone plus the matches). The " +
        "score is a fixed-length fold of exact dyadic doubles — " +
        "hash-portable with no cross-row float sum."),

    // ---- q220: entity resolution via components ----------------------------
    "q220_linkage_entities" -> Q(
      (s, d) => {
        val recs = messy(s, d)
        // entities() keeps only score >= 4.0 edges, so candidate
        // generation can push that floor down (name AND bal must
        // agree); the downstream filter is then a no-op
        val scored = EntityResolution.linkageScores(recs, "rec_id",
          col("nation"), fields, subKey = expr("right(name, 9)"),
          blockBudget = BlockBudget, minScore = Some(4.0))
        EntityResolution.entities(recs, "rec_id", scored, 4.0)
          .orderBy(col("rec_id"))
      },
      Some(s"""
        WITH RECURSIVE $sqlEntities
        SELECT rec_id, entity, entity = rec_id AS is_canonical
        FROM ent
        ORDER BY rec_id"""),
      "Entity resolution on the q219 scores: pairs at or above " +
        "threshold 4 become edges, connected components label the " +
        "entities (min-id), singletons stay their own entity. The " +
        "match graph is pairs of NEAR-duplicates — tiny relative to " +
        "the corpus — so the driver union-find fast path applies; " +
        "larger graphs take the distributed min-label loop."),

    // ---- q221: golden-record survivorship ----------------------------------
    "q221_golden_record" -> Q(
      (s, d) => {
        val recs = messy(s, d)
        // same threshold pushdown as q220 (the entities() floor)
        val scored = EntityResolution.linkageScores(recs, "rec_id",
          col("nation"), fields, subKey = expr("right(name, 9)"),
          blockBudget = BlockBudget, minScore = Some(4.0))
        val ent = EntityResolution.entities(recs, "rec_id", scored, 4.0)
        val withEnt = recs.join(ent,
          recs("rec_id") === ent("rec_id"), "inner")
          .select(recs("rec_id"), col("entity"), col("name"),
            col("segment"))
        EntityResolution.goldenRecord(withEnt, "entity", "rec_id",
          Seq("name", "segment"))
          .orderBy(col("entity"))
      },
      Some(s"""
        WITH RECURSIVE $sqlEntities,
        m AS (
          SELECT e.entity, r.rec_id, r.name, r.segment
          FROM recs r JOIN ent e ON e.rec_id = r.rec_id),
        melted AS (
          SELECT entity, 'name' AS f, name AS v FROM m WHERE name IS NOT NULL
          UNION ALL
          SELECT entity, 'segment', segment FROM m WHERE segment IS NOT NULL),
        counted AS (
          SELECT entity, f, v, COUNT(*) AS n FROM melted GROUP BY 1, 2, 3),
        ranked AS (
          SELECT entity, f, v, ROW_NUMBER() OVER
            (PARTITION BY entity, f ORDER BY n DESC, v) AS rk
          FROM counted),
        sizes AS (
          SELECT entity, CAST(COUNT(DISTINCT rec_id) AS BIGINT) AS n_records
          FROM m GROUP BY entity)
        SELECT s.entity, s.n_records,
               max(CASE WHEN r.f = 'name' THEN r.v END) AS name,
               max(CASE WHEN r.f = 'segment' THEN r.v END) AS segment
        FROM sizes s JOIN ranked r ON r.entity = s.entity AND r.rk = 1
        GROUP BY s.entity, s.n_records
        ORDER BY s.entity"""),
      "Golden-record survivorship on the q220 entities: each FIELD " +
        "independently takes its modal non-null value across the " +
        "entity's members (ties to the smallest value — deterministic, " +
        "never arrival-order). The field-level complement of q175's " +
        "keep-one-document policy: keep-one discards losers whole; " +
        "survivorship fuses the best-attested value per column. One " +
        "melt + count + bounded top-1 window + explicit pivot."),

    // ---- q222: bipartite link prediction -----------------------------------
    "q222_link_prediction" -> Q(
      (s, d) => {
        val edges = Tables.orders(s, d)
          .join(Tables.lineitem(s, d),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey"), col("l_partkey"))
        graft.operators.Graph.linkPrediction(edges, "o_custkey",
            "l_partkey", maxDegree = 256, minCommon = 3)
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""
        WITH e AS (
          SELECT DISTINCT o_custkey AS l, l_partkey AS r
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        ld AS (SELECT l, CAST(COUNT(*) AS BIGINT) AS ldeg FROM e GROUP BY l),
        rd AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS rdeg FROM e GROUP BY r),
        capped AS (
          SELECT e.l, e.r, rd.rdeg FROM e JOIN rd ON rd.r = e.r
          WHERE rd.rdeg <= 256),
        w AS (
          SELECT a.l AS a_id, b.l AS b_id, a.rdeg
          FROM capped a JOIN capped b ON a.r = b.r AND a.l < b.l),
        p AS (
          SELECT a_id, b_id, CAST(COUNT(*) AS BIGINT) AS common,
                 SUM(CAST(round(1e9 / CAST(rdeg AS DOUBLE)) AS BIGINT)) AS ra_g
          FROM w GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        SELECT p.a_id, p.b_id, p.common,
               CAST(p.common AS DOUBLE) /
                 CAST(la.ldeg + lb.ldeg - p.common AS DOUBLE) AS jaccard,
               CAST(p.ra_g AS DOUBLE) / 1e9 AS ra
        FROM p JOIN ld la ON la.l = p.a_id JOIN ld lb ON lb.l = p.b_id
        ORDER BY a_id, b_id"""),
      "Neighborhood-overlap link prediction on the customer-part " +
        "bipartite graph — common neighbors, Jaccard, and resource-" +
        "allocation (RA = sum 1/deg over shared parts; Adamic-Adar's " +
        "ln is not bit-portable, RA is a pure integer-ratio sum and " +
        "typically ranks better). Hub parts past degree 256 are " +
        "dropped from candidate GENERATION (popularity predicts " +
        "nothing and C(deg,2) wedge work would dominate — the q147 " +
        "max-degree discipline); true degrees still score. RA terms " +
        "snap to the 1e-9 grid and sum exactly."),

    // ---- q222b: DOULION-sampled link prediction (100x scale path) ----------
    "q222b_link_prediction_sampled" -> Q(
      (s, d) => {
        val edges = Tables.orders(s, d)
          .join(Tables.lineitem(s, d),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey"), col("l_partkey"))
        graft.operators.Graph.linkPredictionSampled(edges, "o_custkey",
            "l_partkey", maxDegree = 256, minCommonSampled = 1,
            sampleDenom = 16)
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""
        WITH e AS MATERIALIZED (
          SELECT DISTINCT o_custkey AS l, l_partkey AS r
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        ld AS (SELECT l, CAST(COUNT(*) AS BIGINT) AS ldeg FROM e GROUP BY l),
        kept AS (
          SELECT l, r FROM e
          WHERE CAST(concat('0x', substr(md5(CAST(r AS VARCHAR)), 31, 2))
                AS BIGINT) < 16),
        rd AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS rdeg
               FROM kept GROUP BY r),
        capped AS (
          SELECT kept.l, kept.r, rd.rdeg FROM kept JOIN rd ON rd.r = kept.r
          WHERE rd.rdeg <= 256),
        w AS (
          SELECT a.l AS a_id, b.l AS b_id, a.rdeg
          FROM capped a JOIN capped b ON a.r = b.r AND a.l < b.l),
        p AS (
          SELECT a_id, b_id, CAST(COUNT(*) AS BIGINT) AS common_sampled,
                 SUM(CAST(round(1e9 / CAST(rdeg AS DOUBLE)) AS BIGINT)) AS ra_g
          FROM w GROUP BY 1, 2 HAVING COUNT(*) >= 1)
        SELECT p.a_id, p.b_id, p.common_sampled,
               CAST(p.common_sampled * 16 AS BIGINT) AS est_common,
               CAST(p.common_sampled * 16 AS DOUBLE) /
                 CAST(GREATEST(la.ldeg + lb.ldeg - p.common_sampled * 16, 1)
                   AS DOUBLE) AS est_jaccard,
               CAST(p.ra_g * 16 AS DOUBLE) / 1e9 AS est_ra,
               16 AS sample_denom
        FROM p JOIN ld la ON la.l = p.a_id JOIN ld lb ON lb.l = p.b_id
        ORDER BY a_id, b_id"""),
      "q222's 100x-capable twin (the q196 DOULION discipline applied " +
        "to wedges): a deterministic md5 coin keeps each shared PART " +
        "w.p. 1/16, exact common-neighbor/RA sums run on surviving " +
        "baskets only (complete baskets, so RA weights stay true), " +
        "and estimates scale back by 16 — unbiased per pair, wedge " +
        "work cut 16x, which keeps the 100x wedge stream (~870M rows " +
        "exact) inside one JVM. Left degrees stay exact."),

    // ---- q238: fuzzy string matching via native Jaro-Winkler ---------------
    "q240_jw_linkage" -> Q(
      (s, d) => {
        val p = Tables.part(s, d)
        val a = p.select(col("p_partkey").as("a_key"),
          col("p_name").as("a_name"), col("p_type"), col("p_size"))
        val b = p.select(col("p_partkey").as("b_key"),
          col("p_name").as("b_name"), col("p_type"), col("p_size"))
        a.join(b, Seq("p_type", "p_size"))
          .filter(col("a_key") < col("b_key"))
          .withColumn("jw",
            jaroWinkler(col("a_name"), col("b_name")))
          .filter(col("jw") >= 0.90 && col("jw") < 1.0)
          .select(col("a_key"), col("b_key"), col("a_name"), col("b_name"),
            col("jw"))
          .orderBy(col("a_key"), col("b_key"))
      },
      Some("""
        SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
               a.p_name AS a_name, b.p_name AS b_name,
               jaro_winkler_similarity(a.p_name, b.p_name) AS jw
        FROM part a JOIN part b
          ON a.p_type = b.p_type AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
        WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= CAST('0.90' AS DOUBLE)
          AND jaro_winkler_similarity(a.p_name, b.p_name) < CAST('1.0' AS DOUBLE)
        ORDER BY a_key, b_key"""),
      "Fuzzy name matching through the native codegen'd " +
        "expression (graft.plans.JaroWinkler — byte-level, integer-" +
        "halved transpositions, 0.7 boost gate: bit-identical to " +
        "DuckDB's jaro_winkler_similarity, fuzz-proved on 40k pairs). " +
        "Candidates come only from the (type, size) blocking equi-join " +
        "— the blocked-linkage scale contract (q154/q219) — and the " +
        "similarity filter keeps near-misses, dropping exact dupes " +
        "(jw = 1 pairs are q40's exact-dedup job, not fuzzy review).")
  )
}
