package graft.queries

/** DuckDB oracle-SQL generators for the iterative trainers.
  *
  * [[graft.operators.Similarity.kMeans]] is deliberately
  * engine-portable (lowest-id init, lower-cell ties, 1e-9-grid integer
  * means — see its scaladoc), so a fixed iteration count unrolls into a
  * plain CTE chain any SQL engine can run: assignment is a
  * ROW_NUMBER-over-distance argmin, the mean is an exact integer sum
  * divided once in double, and an emptied cell keeps its previous
  * centroid via LEFT JOIN + COALESCE. These generators build that chain
  * so the driver's DuckDB gate can hash-check the trainers (q61) and
  * everything layered on them (q72 product quantization, q73 ADC
  * search) instead of falling back to rows-only counts.
  */
object OracleGen {

  /** Strict left-to-right squared-L2 fold over 1-based list columns —
    * DuckDB's list_aggregate('sum') folds in element order, matching the
    * native [[graft.plans.SquaredL2]] loop bit-for-bit. */
  def sqDist(a: String, b: String, dim: Int): String =
    s"list_aggregate(list_transform(range(1, ${dim + 1}), j -> ($a[j]-$b[j])*($a[j]-$b[j])), 'sum')"

  /** The grid mean: round(x·1e9) summed exactly (DuckDB promotes
    * SUM(BIGINT) to HUGEINT — exact), one double division. Mirrors the
    * Spark side's DECIMAL(38,0) accumulation. */
  private val GridMean =
    "CAST(SUM(CAST(round(x * 1000000000.0) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000000.0"

  /** CTE chain for one kMeans(k, iters) training over `input` (must
    * expose columns vec_id, emb). Emits CTEs `${p}c0 .. ${p}c$iters`;
    * the final model lives in `${p}c$iters` as (cell, c_vec). Every CTE
    * fragment ends with a trailing comma so chains concatenate. */
  def kmeansCtes(p: String, input: String, k: Int, iters: Int, dim: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""${p}c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, emb AS c_vec
      FROM (SELECT vec_id, emb FROM $input ORDER BY vec_id LIMIT $k)),
    """
    for (t <- 1 to iters) {
      sb ++= s"""${p}a$t AS (
      SELECT vec_id, emb, cell FROM (
        SELECT e.vec_id, e.emb, c.cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY ${sqDist("e.emb", "c.c_vec", dim)}, c.cell) AS rn
        FROM $input e CROSS JOIN ${p}c${t - 1} c) WHERE rn = 1),
    ${p}m$t AS (
      SELECT cell, pos, $GridMean AS m
      FROM (SELECT cell, unnest(emb) AS x, generate_subscripts(emb, 1) AS pos FROM ${p}a$t)
      GROUP BY cell, pos),
    ${p}n$t AS (SELECT cell, list(m ORDER BY pos) AS c_vec FROM ${p}m$t GROUP BY cell),
    ${p}c$t AS (SELECT c.cell, COALESCE(n.c_vec, c.c_vec) AS c_vec
                FROM ${p}c${t - 1} c LEFT JOIN ${p}n$t n USING (cell)),
    """
    }
    sb.toString
  }

  /** Final assignment of `input` rows against model CTE `model` —
    * (vec_id, emb, cell), ties to the lower cell. */
  def assignCte(name: String, input: String, model: String, dim: Int): String =
    s"""$name AS (
      SELECT vec_id, emb, cell FROM (
        SELECT e.vec_id, e.emb, c.cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY ${sqDist("e.emb", "c.c_vec", dim)}, c.cell) AS rn
        FROM $input e CROSS JOIN $model c) WHERE rn = 1),
    """

  /** Full q61 oracle: train kMeans(k, iters) on the embeddings table,
    * output (cell, n_members, dim, centroid) dimension-exploded. */
  def q61Sql(k: Int, iters: Int, dim: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    ${kmeansCtes("", "e", k, iters, dim)}
    ${assignCte("fin", "e", s"c$iters", dim)}
    cnt AS (SELECT cell, COUNT(*) AS n_members FROM fin GROUP BY cell)
    SELECT c.cell, COALESCE(t.n_members, 0) AS n_members,
           CAST(generate_subscripts(c.c_vec, 1) AS INT) AS dim,
           round(unnest(c.c_vec), 9) AS centroid
    FROM c$iters c LEFT JOIN cnt t USING (cell)
    ORDER BY cell, dim"""

  /** CTE chain training all `m` PQ subspace codebooks on `sample` (must
    * expose vec_id, emb of width m·subDim). Emits per-subspace inputs
    * `${p}in0..` and models `${p}s0..${p}s${m-1}`, then a combined
    * `${p}books` CTE (sub, cell, c_vec). */
  def pqBooksCtes(p: String, sample: String, m: Int, subDim: Int, k: Int, iters: Int): String = {
    val sb = new StringBuilder
    for (s <- 0 until m) {
      val lo = s * subDim + 1
      val hi = s * subDim + subDim
      sb ++= s"""${p}in$s AS (SELECT vec_id, emb[$lo:$hi] AS emb FROM $sample),
    """
      sb ++= kmeansCtes(s"${p}s${s}_", s"${p}in$s", k, iters, subDim)
    }
    val union = (0 until m)
      .map(s => s"SELECT $s AS sub, cell, c_vec FROM ${p}s${s}_c$iters")
      .mkString(" UNION ALL ")
    sb ++= s"""${p}books AS ($union),
    """
    sb.toString
  }

  /** q45 oracle: MinHash + LSH banding over documents, mirroring
    * [[graft.operators.Dedup.minhashCandidates]]'s Kirsch–Mitzenmacher
    * family — h1/h2 = the two 52-bit md5 halves, permutation p =
    * h1 + p·h2 — and its md5-of-joined-minima band buckets.
    * `shinglesExpr` is the DuckDB distinct-shingle list expression. */
  def q45Sql(shinglesExpr: String, numPerm: Int, bands: Int): String = {
    val rows = numPerm / bands
    val mins = (0 until numPerm)
      .map(p => s"MIN(h1 + $p*h2) AS m$p").mkString(",\n                 ")
    val bandSelects = (0 until bands).map { b =>
      val joined = (0 until rows).map(r => s"CAST(m${b * rows + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc, $b AS band, md5($joined) AS bucket FROM sig"
    }.mkString("\n          UNION ALL ")
    s"""WITH sh AS (
          SELECT doc_id AS doc, unnest($shinglesExpr) AS sh FROM documents
        ), hh AS (
          SELECT doc,
                 CAST(concat('0x', substr(md5(sh), 1, 13)) AS BIGINT) AS h1,
                 CAST(concat('0x', substr(md5(sh), 14, 13)) AS BIGINT) AS h2
          FROM sh
        ), sig AS (
          SELECT doc, $mins
          FROM hh GROUP BY doc
        ), banded AS (
          $bandSelects
        )
        SELECT a.doc AS a_id, b.doc AS b_id, COUNT(*) AS n_shared_bands
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
        GROUP BY a.doc, b.doc
        ORDER BY a_id, b_id"""
  }

  /** q46 oracle: SimHash hamming pairs, exhaustive within a block —
    * provably identical to the banded Spark form (pigeonhole rescoring,
    * see [[graft.operators.Dedup.simhashPairs]]). Bit i of a token's
    * vote comes from md5 half h2 (i < 32) or h1 (i >= 32); the
    * signature is carried as a 64-char bit string and hamming is the
    * count of differing positions. */
  def q46Sql(maxHamming: Int): String = {
    val votes = (0 until 64).map { i =>
      val half = if (i < 32) "h2" else "h1"
      val shift = if (i < 32) i else i - 32
      s"SUM(CASE WHEN ($half >> $shift) & 1 = 1 THEN 1 ELSE -1 END) AS v$i"
    }.mkString(",\n                 ")
    val sigStr = (0 until 64)
      .map(i => s"CASE WHEN v$i >= 0 THEN '1' ELSE '0' END")
      .mkString("concat(", ", ", ")")
    s"""WITH tok AS (
          SELECT doc_id AS doc, source AS blk, unnest(string_split(text, ' ')) AS t
          FROM documents
        ), hh AS (
          SELECT doc, blk,
                 CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) AS h1,
                 CAST(concat('0x', substr(md5(t), 9, 8)) AS BIGINT) AS h2
          FROM tok
        ), v AS (
          SELECT doc, blk, $votes
          FROM hh GROUP BY doc, blk
        ), sig AS (
          SELECT doc, blk, $sigStr AS s FROM v
        )
        SELECT a_id, b_id, hamming FROM (
          SELECT a.doc AS a_id, b.doc AS b_id,
                 CAST(len(list_filter(range(1, 65),
                   i -> substr(a.s, CAST(i AS INT), 1) != substr(b.s, CAST(i AS INT), 1))) AS INT) AS hamming
          FROM sig a JOIN sig b ON a.blk = b.blk AND a.doc < b.doc)
        WHERE hamming <= $maxHamming
        ORDER BY a_id, b_id"""
  }

  /** The random-hyperplane LSH candidates of q34: `e` (vec_id, emb),
    * the md5 hyperplane signs, each vector's bucket per table, and the
    * pairs that share any (table, bucket) as `cand` (a_id, b_id). */
  private def lshCandCtes(dim: Int, nBits: Int, nTables: Int, seed: Long): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        grid AS (
          SELECT tt.range AS t, ii.range AS i, jj.range AS j
          FROM range(0, $nTables) tt, range(0, $nBits) ii, range(0, $dim) jj),
        signs AS (
          SELECT t, i,
                 list(CASE WHEN CAST(concat('0x', substr(md5(
                     '$seed:' || CAST(t AS VARCHAR) || ':' || CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)
                   ), 1, 1)) AS INT) % 2 = 0 THEN 1.0 ELSE -1.0 END ORDER BY j) AS s
          FROM grid GROUP BY t, i),
        proj AS (
          SELECT e.vec_id, s.t, s.i,
                 list_aggregate(list_transform(range(1, ${dim + 1}), j -> e.emb[j] * s.s[j]), 'sum') AS p
          FROM e CROSS JOIN signs s),
        buckets AS (
          SELECT vec_id, t,
                 SUM(CASE WHEN p >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS bucket
          FROM proj GROUP BY vec_id, t),
        cand AS (
          SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
          FROM buckets a JOIN buckets b
            ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)"""

  /** q34 oracle: random-hyperplane LSH near-dup, mirroring
    * [[graft.plans.LshBuckets]] — hyperplane sign = parity of the first
    * hex digit of md5("seed:t:i:j"), bucket = nBits projection sign
    * bits, candidates share any (table, bucket), rescored with exact
    * cosine. Filter on the raw similarity, round for output (same as
    * the Spark side). */
  def q34Sql(dim: Int, threshold: Double, nBits: Int, nTables: Int, seed: Long): String = {
    val cos = "list_inner_product(ea.emb, eb.emb) / " +
      "(sqrt(list_inner_product(ea.emb, ea.emb)) * sqrt(list_inner_product(eb.emb, eb.emb)))"
    s"""WITH ${lshCandCtes(dim, nBits, nTables, seed)}
        SELECT c.a_id, c.b_id, round($cos, 6) AS sim
        FROM cand c
        JOIN e ea ON ea.vec_id = c.a_id
        JOIN e eb ON eb.vec_id = c.b_id
        WHERE $cos >= $threshold
        ORDER BY a_id, b_id"""
  }

  /** q192 oracle: LSH recall audit — the q34 candidate chain and the
    * q33 exact pair space folded into one summary row. */
  def q192Sql(dim: Int, threshold: Double, nBits: Int, nTables: Int,
      seed: Long): String = {
    val cosAB = "list_inner_product(ea.emb, eb.emb) / " +
      "(sqrt(list_inner_product(ea.emb, ea.emb)) * sqrt(list_inner_product(eb.emb, eb.emb)))"
    val cosXY = "list_inner_product(a.emb, b.emb) / " +
      "(sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(b.emb, b.emb)))"
    s"""WITH ${lshCandCtes(dim, nBits, nTables, seed)},
        lsh AS (
          SELECT c.a_id, c.b_id
          FROM cand c
          JOIN e ea ON ea.vec_id = c.a_id
          JOIN e eb ON eb.vec_id = c.b_id
          WHERE $cosAB >= $threshold),
        exact AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id, round($cosXY, 6) AS sim
          FROM e a, e b
          WHERE a.vec_id < b.vec_id AND $cosXY >= $threshold),
        missed AS (
          SELECT ex.sim FROM exact ex
          LEFT JOIN lsh l ON ex.a_id = l.a_id AND ex.b_id = l.b_id
          WHERE l.a_id IS NULL)
        SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
               CAST((SELECT COUNT(*) FROM lsh) AS BIGINT) AS n_lsh,
               CAST((SELECT COUNT(*) FROM missed) AS BIGINT) AS n_missed,
               CAST((SELECT COUNT(*) FROM exact) -
                    (SELECT COUNT(*) FROM missed) AS DOUBLE) /
                 CAST((SELECT COUNT(*) FROM exact) AS DOUBLE) AS recall,
               (SELECT MAX(sim) FROM missed) AS max_missed_sim"""
  }

  /** q60 oracle: the full detect→match→route topology over the
    * documents-as-frames twin, recomputing
    * [[graft.streaming.SauronPipeline.stubDetectPortable]] from md5.
    * Only face 1's match is derived (the output's `prediction` is the
    * first face's name); `n_faces` needs just the face count. Matching
    * mirrors predictStage: squared L2 <= tol², first match = lowest
    * t_id, 'Unknown' when faces match nothing, NULL when no faces. */
  def q60Sql(dim: Int, tolerance: Double, topicPrefix: String): String = {
    def enc(iExpr: String) =
      s"""list_transform(range(0, $dim), d ->
           CAST(concat('0x', substr(md5(fh || ':e:' || $iExpr || ':' || CAST(d AS VARCHAR)), 1, 13)) AS BIGINT)
             / 4503599627370496.0)"""
    s"""WITH f AS (
          SELECT doc_id,
                 CAST(doc_id % 6 AS INT) AS camera,
                 doc_id // 6 AS frame_num,
                 md5(text) AS fh
          FROM documents
        ), det AS (
          SELECT f.*, CAST(concat('0x', substr(fh, 1, 4)) AS BIGINT) % 3 AS nf FROM f
        ), tf AS (
          SELECT doc_id, fh, unnest(range(1, nf + 1)) AS i FROM det WHERE doc_id < 10
        ), targets AS (
          SELECT doc_id * 4 + (i - 1) AS t_id, ${enc("CAST(i AS VARCHAR)")} AS t_enc
          FROM tf
        ), p1 AS (
          SELECT doc_id, ${enc("'1'")} AS enc
          FROM det WHERE nf > 0
        ), m AS (
          SELECT p.doc_id, MIN(t.t_id) AS t_id
          FROM p1 p JOIN targets t
            ON ${sqDist("p.enc", "t.t_enc", dim)} <= ($tolerance * $tolerance)
          GROUP BY p.doc_id
        )
        SELECT d.camera, d.frame_num,
               CASE WHEN d.nf = 0 THEN NULL
                    WHEN m.t_id IS NOT NULL THEN 'person_' || CAST(m.t_id AS VARCHAR)
                    ELSE 'Unknown' END AS prediction,
               '${topicPrefix}_' || CAST(d.camera AS VARCHAR) AS topic,
               CAST(d.nf AS INT) AS n_faces,
               CAST(d.camera AS VARCHAR) || '_' || CAST(d.frame_num AS VARCHAR) AS key
        FROM det d LEFT JOIN m ON m.doc_id = d.doc_id
        ORDER BY d.camera, d.frame_num"""
  }

  /** PQ encoding of `input` (vec_id, emb) against `${p}books`: per
    * subspace the nearest codebook cell (ties lower), codes in subspace
    * order, recon_err = total squared reconstruction error. Emits
    * `$name` = (vec_id, codes, recon_err). */
  def pqEncodeCte(name: String, p: String, input: String, m: Int, subDim: Int): String =
    s"""${name}_best AS (
      SELECT vec_id, sub, cell, err FROM (
        SELECT v.vec_id, b.sub, b.cell,
               ${sqDist(s"v.emb[(b.sub*$subDim+1):(b.sub*$subDim+$subDim)]", "b.c_vec", subDim)} AS err,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id, b.sub
                 ORDER BY ${sqDist(s"v.emb[(b.sub*$subDim+1):(b.sub*$subDim+$subDim)]", "b.c_vec", subDim)}, b.cell) AS rn
        FROM $input v CROSS JOIN ${p}books b) WHERE rn = 1),
    $name AS (
      SELECT vec_id, list(cell ORDER BY sub) AS codes,
             list_aggregate(list(err ORDER BY sub), 'sum') AS recon_err
      FROM ${name}_best GROUP BY vec_id),
    """

  /** CTE chain for [[graft.operators.Similarity.pcaPowerProject]]:
    * mean-center `input` (must expose `$idCol` and a d-dim DOUBLE[]
    * `$vecCol`), then `iters` unrolled power-iteration steps from
    * w = (1,…,1). Mirrors the operator bit-for-bit: grid-snapped
    * cross-row means, strict left-assoc per-row dots (explicit
    * `(xc[1]*w0 + xc[2]*w1 + …)` chains — DuckDB and the native
    * vec_dot fold identically), max-abs renormalization (exact MAX,
    * no float fold). Emits `${p}mean`, `${p}c` (centered rows) and
    * `${p}w0..${p}w$iters` (single-row weight CTEs w0..w{d-1});
    * score with [[pcaScoreSql]]. */
  def pcaCtes(p: String, input: String, idCol: String, vecCol: String,
      d: Int, iters: Int): String = {
    def grid(v: String): String =
      s"CAST(SUM(CAST(round(($v) * 1000000000.0) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000000.0"
    def fold(terms: Seq[String]): String =
      terms.tail.foldLeft(terms.head)((a, b) => s"$a + $b")
    val sb = new StringBuilder
    sb ++= s"""${p}mean AS (
      SELECT ${(0 until d).map(j => s"${grid(s"$vecCol[${j + 1}]")} AS m$j").mkString(",\n             ")}
      FROM $input),
    ${p}c AS MATERIALIZED (
      SELECT f.$idCol,
             [${(0 until d).map(j => s"f.$vecCol[${j + 1}] - m.m$j").mkString(", ")}] AS xc
      FROM $input f CROSS JOIN ${p}mean m),
    ${p}w0 AS (SELECT ${(0 until d).map(j => s"CAST(1 AS DOUBLE) AS w$j").mkString(", ")}),
    """
    for (t <- 1 to iters) {
      val dotW = fold((0 until d).map(j => s"xc[${j + 1}] * w.w$j"))
      sb ++= s"""${p}s$t AS (
      SELECT xc, ($dotW) AS s FROM ${p}c CROSS JOIN ${p}w${t - 1} w),
    ${p}y$t AS (
      SELECT ${(0 until d).map(j => s"${grid(s"s * xc[${j + 1}]")} AS y$j").mkString(",\n             ")}
      FROM ${p}s$t),
    ${p}w$t AS (
      SELECT ${(0 until d).map(j => s"y.y$j / m.mx AS w$j").mkString(", ")}
      FROM ${p}y$t y CROSS JOIN
        (SELECT greatest(${(0 until d).map(j => s"abs(y$j)").mkString(", ")}) AS mx
         FROM ${p}y$t) m),
    """
    }
    sb.toString
  }

  /** Final scoring select for [[pcaCtes]]: the unit-L2 direction from
    * `${p}w$iters` (norm = ascending-j left-assoc fold, matching the
    * driver-side Scala fold), per-row projection rounded to 1e-6. */
  def pcaScoreSql(p: String, idCol: String, d: Int, iters: Int): String = {
    val nrmFold = (0 until d).map(j => s"w$j * w$j")
      .foldLeft("0.0")((a, b) => s"$a + $b")
    val proj = (0 until d).map(j => s"c.xc[${j + 1}] * (w.w$j / n.nrm)")
      .reduceLeft((a, b) => s"$a + $b")
    s"""SELECT c.$idCol, round(($proj), 6) AS pc1
    FROM ${p}c c CROSS JOIN ${p}w$iters w CROSS JOIN
      (SELECT sqrt($nrmFold) AS nrm FROM ${p}w$iters) n"""
  }

  /** CTE chain for [[graft.operators.TextAnalysis.qualityClassifier]]:
    * `iters` unrolled full-batch gradient steps from w = 0 over
    * `input` (must expose doc, the named feature columns, and y as
    * DOUBLE). The link is the rational fast sigmoid and every gradient
    * component is the 1e-9-grid integer mean, mirroring the operator
    * bit-for-bit (see its scaladoc for why that makes an iterative
    * float trainer hash-checkable). `lrSql` must be an exactly-
    * representable literal ('0.125'). Emits `${p}w0..${p}w$iters`
    * (weight rows w0..wd); score with [[logitScoreSql]]. */
  def logitCtes(p: String, input: String, featNames: Seq[String],
      iters: Int, lrSql: String): String = {
    val d = featNames.length
    def grid(v: String): String =
      s"CAST(SUM(CAST(round(($v) * 1000000000.0) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000000.0"
    def z(wAlias: String, fAlias: String): String =
      featNames.zipWithIndex.map { case (n, j) => s"$wAlias.w${j + 1} * $fAlias.$n" }
        .foldLeft(s"$wAlias.w0")((a, b) => s"$a + $b")
    val sb = new StringBuilder
    sb ++= s"""${p}w0 AS (SELECT ${(0 to d).map(j => s"CAST(0 AS DOUBLE) AS w$j").mkString(", ")}),
    """
    for (t <- 1 to iters) {
      val zz = z("w", "f")
      sb ++= s"""${p}p$t AS MATERIALIZED (
      SELECT f.doc, ${featNames.map(n => s"f.$n").mkString(", ")}, f.y,
             0.5 + ($zz) / (2.0 * (1.0 + abs($zz))) AS p
      FROM $input f CROSS JOIN ${p}w${t - 1} w),
    ${p}g$t AS (
      SELECT ${grid("p - y")} AS g0,
             ${featNames.zipWithIndex.map { case (n, j) =>
               s"${grid(s"(p - y) * $n")} AS g${j + 1}" }.mkString(",\n             ")}
      FROM ${p}p$t),
    ${p}w$t AS (
      SELECT ${(0 to d).map(j => s"w.w$j - $lrSql * g.g$j AS w$j").mkString(", ")}
      FROM ${p}w${t - 1} w CROSS JOIN ${p}g$t g),
    """
    }
    sb.toString
  }

  /** The CTEs `feats`, `q*` and `sc` (doc, y, score, pred) of q104's
    * scored documents, y = the SQL predicate `label`; the Spark twin is
    * `TrainingQueries.qualityScored`. No trailing comma. */
  def qualityScoredCtes(label: String = "length(text) > 300"): String = {
    val w = "string_split(text, ' ')"
    val x = Seq("x1", "x2", "x3")
    s"""feats AS MATERIALIZED (
          SELECT doc_id AS doc,
                 CAST(len($w) AS DOUBLE) / 64.0 AS x1,
                 CAST(len(list_distinct($w)) AS DOUBLE) / CAST(len($w) AS DOUBLE) AS x2,
                 CAST(length(text) AS DOUBLE) / CAST(len($w) AS DOUBLE) AS x3,
                 CASE WHEN $label THEN CAST(1 AS DOUBLE)
                      ELSE CAST(0 AS DOUBLE) END AS y
          FROM documents),
        ${logitCtes("q", "feats", x, 4, "0.125")}
        sc AS (${logitScoreSql("q", "feats", x, 4)})"""
  }

  /** Final scoring select for [[logitCtes]]: per-doc fast-sigmoid score
    * under the trained weights `${p}w$iters`, rounded to 1e-6, with
    * the 0.5-threshold prediction. */
  def logitScoreSql(p: String, input: String, featNames: Seq[String], iters: Int): String = {
    val zz = featNames.zipWithIndex.map { case (n, j) => s"w.w${j + 1} * f.$n" }
      .foldLeft("w.w0")((a, b) => s"$a + $b")
    s"""SELECT f.doc, CAST(f.y AS INT) AS y,
           round(0.5 + ($zz) / (2.0 * (1.0 + abs($zz))), 6) AS score,
           CAST((0.5 + ($zz) / (2.0 * (1.0 + abs($zz)))) >= 0.5 AS INT) AS pred
    FROM $input f CROSS JOIN ${p}w$iters w"""
  }

  /** CTE chain for [[graft.operators.TextAnalysis.bpeMerges]]: `merges`
    * unrolled rounds of (adjacent-pair count → argmax by (cnt DESC,
    * pair) → greedy rewrite). The rewrite is the operator's exact
    * triple-replace — double separators, replace the delimited
    * " lhs  rhs " window, halve — so DuckDB's left-to-right literal
    * replace() reproduces the greedy scan byte-for-byte. Every
    * intermediate is AS MATERIALIZED: t(i-1) is referenced by both
    * m(i) and t(i) (plus two scalar subqueries on m(i)), and an
    * inlined chain re-evaluates the whole prefix per reference —
    * 2^merges corpus rewrites instead of `merges`. Emits
    * `${p}t0..${p}t$merges` (the corpus after i merges, (doc_id, t))
    * and `${p}m1..${p}m$merges` (the merge rows). */
  def bpeCtes(p: String, input: String, merges: Int, joiner: String): String = {
    val sb = new StringBuilder
    sb ++= s"""${p}t0 AS MATERIALIZED (SELECT doc_id, text AS t FROM $input),
    """
    for (i <- 1 to merges) {
      sb ++= s"""${p}m$i AS MATERIALIZED (
      SELECT $i AS it, split_part(pair, ' ', 1) AS lhs,
             split_part(pair, ' ', 2) AS rhs, cnt FROM (
        SELECT pair, COUNT(*) AS cnt FROM (
          SELECT unnest(list_transform(range(1, len(w)), j -> w[j] || ' ' || w[j+1])) AS pair
          FROM (SELECT string_split(t, ' ') AS w FROM ${p}t${i - 1}))
        GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1)),
    ${p}t$i AS MATERIALIZED (
      SELECT doc_id, trim(replace(replace(
        ' ' || replace(t, ' ', '  ') || ' ',
        (SELECT ' ' || lhs || '  ' || rhs || ' ' FROM ${p}m$i),
        (SELECT ' ' || lhs || '$joiner' || rhs || ' ' FROM ${p}m$i)),
        '  ', ' ')) AS t FROM ${p}t${i - 1}),
    """
    }
    sb ++= s"""${p}merges AS (${(1 to merges)
      .map(i => s"SELECT * FROM ${p}m$i").mkString(" UNION ALL ")}),
    """
    sb.toString
  }
}
