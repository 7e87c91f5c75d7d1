package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.TextFunctions.md5U52

/** Corpus-maintenance / pipeline-ops tier: boilerplate removal (the
  * CCNet template-chrome strip), key-skew pre-flight auditing, and the
  * streamable fixed-grid quantile monitor. */
object MaintenanceQueries {

  /** Eight words of injected template chrome — prepended to every even
    * doc so the fixture (random word soup, no real boilerplate) has a
    * known positive: the first 8-word segment of half of each source's
    * docs is identical, far past the 30% share fence. */
  private val Boiler =
    "legal notice footer copyright reserved terms privacy cookie"

  def all: Seq[(String, Q)] = Seq(

    // ---- q227: boilerplate strip (CCNet template removal) -------------------
    "q227_boilerplate_strip" -> Q(
      (s, d) => {
        val injected = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            when(col("doc_id") % 2 === 0,
              concat(lit(Boiler), lit(" "), col("text")))
              .otherwise(col("text")).as("text"))
        graft.operators.TextAnalysis.boilerplateStrip(injected,
            "doc_id", "source", "text", segWords = 8, maxShare = 0.3)
          .select(col("doc_id"), col("source"), col("n_segments"),
            col("n_kept"), md5(col("clean_text")).as("clean_md5"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH d0 AS (
          SELECT doc_id, source,
                 CASE WHEN doc_id % 2 = 0 THEN '$Boiler' || ' ' || text
                      ELSE text END AS text
          FROM documents),
        w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM d0),
        c AS (
          SELECT doc_id, source, w,
                 CASE WHEN len(w) <= 8 THEN 1
                      ELSE (len(w) - 8 + 8 - 1) // 8 + 1 END AS nc
          FROM w),
        ex AS (SELECT doc_id, source, w, unnest(range(0, nc)) AS i FROM c),
        segs AS (
          SELECT doc_id, source, CAST(i AS INT) AS idx,
                 array_to_string(w[(i*8+1):least(i*8+8, len(w))], ' ') AS chunk
          FROM ex),
        hs AS (SELECT doc_id, source, idx, chunk, md5(chunk) AS h FROM segs),
        nsrc AS (
          SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM d0 GROUP BY source),
        bo AS (
          SELECT hs.source, h
          FROM hs JOIN nsrc ON nsrc.source = hs.source
          GROUP BY hs.source, h, nsrc.n_docs
          HAVING CAST(COUNT(DISTINCT doc_id) AS DOUBLE)
                   > CAST('0.3' AS DOUBLE) * CAST(nsrc.n_docs AS DOUBLE)),
        kept AS (
          SELECT hs.doc_id, hs.idx, hs.chunk
          FROM hs LEFT JOIN bo ON bo.source = hs.source AND bo.h = hs.h
          WHERE bo.h IS NULL),
        rec AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                 md5(string_agg(chunk, ' ' ORDER BY idx)) AS clean_md5
          FROM kept GROUP BY doc_id),
        tot AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments
          FROM segs GROUP BY doc_id)
        SELECT d0.doc_id, d0.source,
               coalesce(tot.n_segments, CAST(0 AS BIGINT)) AS n_segments,
               coalesce(rec.n_kept, CAST(0 AS BIGINT)) AS n_kept,
               coalesce(rec.clean_md5, md5('')) AS clean_md5
        FROM d0
        LEFT JOIN tot ON tot.doc_id = d0.doc_id
        LEFT JOIN rec ON rec.doc_id = d0.doc_id
        ORDER BY d0.doc_id"""),
      "Boilerplate removal, CCNet-style: an 8-word segment whose exact " +
        "text repeats across >30% of one source's documents is template " +
        "chrome and strips from every document; text reconstructs from " +
        "kept segments in position order, md5-proved. The fixture " +
        "injects a known header into half of each source's docs; " +
        "repeated-ACROSS-documents is what separates boilerplate from " +
        "q56's repeated-within-document signal. Digests shuffle, never " +
        "segment text; the flagged set is template-sized and broadcasts."),

    // ---- q228: key-skew pre-flight audit ------------------------------------
    "q228_skew_audit" -> Q(
      (s, d) => graft.operators.Quality.skewAudit(
        Tables.lineitem(s, d), col("l_orderkey")),
      Some("""
        WITH c AS (
          SELECT CAST(l_orderkey AS VARCHAR) AS k,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
        sp AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS c2 FROM c GROUP BY n),
        cc AS (
          SELECT n, c2,
                 SUM(c2) OVER (ORDER BY n
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(c2) OVER () AS nk
          FROM sp),
        st AS (
          SELECT CAST(MAX(nk) AS BIGINT) AS n_keys,
                 CAST(SUM(n * c2) AS BIGINT) AS n_rows,
                 CAST(MAX(n) AS BIGINT) AS max_n,
                 min(CASE WHEN cum >= greatest(1, CAST(ceil(
                   CAST(0.5 AS DOUBLE) * CAST(nk AS DOUBLE)) AS BIGINT))
                   THEN n END) AS p50_n,
                 min(CASE WHEN cum >= greatest(1, CAST(ceil(
                   CAST(0.99 AS DOUBLE) * CAST(nk AS DOUBLE)) AS BIGINT))
                   THEN n END) AS p99_n
          FROM cc),
        tk AS (SELECT k AS top_key FROM c ORDER BY n DESC, k LIMIT 1)
        SELECT n_rows, n_keys, max_n, p50_n, p99_n,
               CAST(max_n AS DOUBLE) /
                 (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE))
                 AS skew_ratio,
               top_key
        FROM st CROSS JOIN tk"""),
      "Key-skew pre-flight for the lineitem orderkey shuffle: per-key " +
        "counts, discrete p50/p99 off the bounded count-of-counts " +
        "spine, the max/mean skew ratio, and the worst key by name. " +
        "The audit every big join deserves before it melts a task — " +
        "ratio in the thousands means salt (q159) or AQE-split the key."),

    // ---- q229: fixed-grid streaming-ready quantile estimates ----------------
    "q229_hist_quantiles" -> Q(
      (s, d) => graft.operators.Sketches.fixedHistogramQuantiles(
        Tables.events(s, d), col("value"), binWidth = 10.0),
      Some("""
        WITH b AS (
          SELECT CAST(floor(value / CAST('10.0' AS DOUBLE)) AS BIGINT) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL GROUP BY 1),
        cc AS (
          SELECT bin, SUM(c) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(c) OVER () AS n
          FROM b)
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               min(CASE WHEN cum >= CAST(ceil(
                 CAST('0.5' AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT)
                 THEN CAST(bin AS DOUBLE) * CAST('10.0' AS DOUBLE) END)
                 AS p50_est,
               min(CASE WHEN cum >= CAST(ceil(
                 CAST('0.9' AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT)
                 THEN CAST(bin AS DOUBLE) * CAST('10.0' AS DOUBLE) END)
                 AS p90_est,
               min(CASE WHEN cum >= CAST(ceil(
                 CAST('0.99' AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT)
                 THEN CAST(bin AS DOUBLE) * CAST('10.0' AS DOUBLE) END)
                 AS p99_est
        FROM cc"""),
      "Fixed-grid histogram quantile estimates of event value — the " +
        "STREAMABLE quantile form: caller-fixed bin width makes counts " +
        "purely additive (q83's data-dependent min/max edges are not), " +
        "so histogramIngest maintains the identical report per batch " +
        "with no history re-scan. Estimates are bin left edges — " +
        "within binWidth of truth by construction, exact multiples of " +
        "the grid."),

    // ---- q235: k-anonymity / l-diversity release audit ----------------------
    "q235_k_anonymity" -> Q(
      (s, d) => graft.operators.Quality.kAnonymityAudit(
        Tables.customer(s, d),
        quasi = Seq(
          "nation" -> col("c_nationkey"),
          "bal_bucket" -> floor(col("c_acctbal") / lit(1000.0)).cast("long")),
        sensitive = col("c_mktsegment"), k = 5),
      Some("""
        WITH classes AS (
          SELECT c_nationkey AS nation,
                 CAST(floor(c_acctbal / CAST('1000.0' AS DOUBLE)) AS BIGINT)
                   AS bal_bucket,
                 CAST(COUNT(*) AS BIGINT) AS cnt,
                 CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS nsens
          FROM customer GROUP BY 1, 2),
        a AS (
          SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
                 CAST(COUNT(*) AS BIGINT) AS n_classes,
                 MIN(cnt) AS k_anonymity,
                 MIN(nsens) AS l_diversity,
                 CAST(SUM(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_classes_below_k,
                 CAST(SUM(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT)
                   AS n_rows_below_k
          FROM classes)
        SELECT n_rows, n_classes, k_anonymity, l_diversity,
               n_classes_below_k, n_rows_below_k,
               CAST(n_rows_below_k AS DOUBLE) / CAST(n_rows AS DOUBLE)
                 AS pct_rows_below_k
        FROM a"""),
      "k-anonymity / l-diversity audit of the customer table under " +
        "(nation, account-balance-thousand) quasi-identifiers with " +
        "market segment sensitive — the re-identification pre-flight " +
        "before any governed release, and the measurement counterpart " +
        "of Catalog.deleteRows (deletion handles the named individual; " +
        "this measures whether the remainder still hides everyone " +
        "else). One aggregation to equivalence classes, one reduction " +
        "of the bounded class table; k = smallest class, l = fewest " +
        "distinct sensitive values in any class (the homogeneity-" +
        "attack bound k alone misses). Pure integer outputs."),

    // ---- q236: epsilon-DP noisy count release -------------------------------
    "q236_dp_counts" -> Q(
      (s, d) => graft.operators.Quality.dpNoisyCounts(
        Tables.orders(s, d), col("o_orderpriority"),
        DpGroups, epsilon = 0.5, seed = 7L),
      Some(s"""
        WITH noise(g, nz) AS (VALUES ${DpGroups.map { g =>
          s"('$g', CAST('${graft.operators.Quality.dpLaplaceNoise(7L, g, 0.5)}' AS DOUBLE))"
        }.mkString(",\n          ")}),
        c AS (
          SELECT o_orderpriority AS g, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM orders
          WHERE o_orderpriority IN (${DpGroups.map("'" + _ + "'").mkString(", ")})
          GROUP BY 1)
        SELECT noise.g, CAST('0.5' AS DOUBLE) AS epsilon,
               CAST(coalesce(c.cnt, CAST(0 AS BIGINT)) AS DOUBLE) + noise.nz
                 AS noisy_count
        FROM noise LEFT JOIN c ON c.g = noise.g
        ORDER BY noise.g"""),
      "Epsilon-differentially-private release of per-priority order " +
        "counts (epsilon=0.5, Laplace sensitivity-1 noise) — the " +
        "governance sibling of q235: where the audit says 'these " +
        "cells are too small to show', this publishes every cell with " +
        "calibrated noise so no single order's presence detectably " +
        "moves any count. The released domain is a FIXED literal list " +
        "(data-derived group names would themselves leak); noise is " +
        "seeded per (seed, group) from the md5 urn and computed ON THE " +
        "DRIVER (ln never enters a plan — the NDCG-discount stance), " +
        "snapped to the 1e-9 grid, and embedded as the SAME literal in " +
        "the Spark plan and the oracle."),

    // ---- q237: materialized-rollup query routing ----------------------------
    "q237_rollup_route" -> Q(
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        import graft.operators.Rollups
        val li = Tables.lineitem(s, d)
        val tag = d.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          Tables.scratchDir.resolve(s"graft_rollup_lineitem_$tag").toString
        Rollups.materialize(li, s"lineitem_shipgrain_$tag", path,
          Rollups.RollupDef(
            groupCols = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
            sums = Seq(
              "l_quantity" -> Some(DecimalType(27, 6)),
              "l_extendedprice" -> Some(DecimalType(27, 6))),
            mins = Seq("l_discount"), maxs = Seq("l_tax")))
        val q = li
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity").cast(DecimalType(27, 6)))
              .cast("double").as("sum_qty"),
            sum(col("l_extendedprice").cast(DecimalType(27, 6)))
              .cast("double").as("sum_price"),
            min(col("l_discount")).as("min_disc"),
            max(col("l_tax")).as("max_tax"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
        // The hashed proof that routing HAPPENED, not just that values
        // match: inspect the optimized plan — the only scan must be the
        // summary, the base must be gone. A broken rewrite turns this
        // FALSE and the oracle hash (TRUE literal) fails the query.
        import org.apache.spark.sql.execution.datasources.{
          HadoopFsRelation, LogicalRelation}
        val leaves = q.queryExecution.optimizedPlan.collectLeaves()
        def scans(frag: String) = leaves.exists {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains(frag))
            case _ => false
          }
          case _ => false
        }
        val routed = scans("graft_rollup_lineitem_") &&
          !scans("lineitem.parquet")
        q.withColumn("routed_via_summary", lit(routed))
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)
                 AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)
                 AS sum_price,
               MIN(l_discount) AS min_disc,
               MAX(l_tax) AS max_tax,
               CAST(COUNT(*) AS BIGINT) AS n,
               TRUE AS routed_via_summary
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY 1, 2
        ORDER BY 1, 2"""),
      "Materialized-rollup query routing: a (returnflag, linestatus, " +
        "shipdate)-grain summary of lineitem is materialized once, and " +
        "the RollupRouting optimizer rule rewrites the TPC-H-Q1-shaped " +
        "aggregate (grain-subset group-by, grain-column filter, " +
        "SUM/MIN/MAX/COUNT measures) to re-aggregate the summary — the " +
        "lakehouse move that reads megabytes instead of the 100 TB " +
        "fact table. Value-exact because the summary's sums accumulate " +
        "on the same DECIMAL(27,6) grid the query uses (partials merge " +
        "losslessly, order-free); the routed_via_summary column hashes " +
        "the PLAN property itself — the optimized plan must scan the " +
        "summary and must NOT scan the base — so the oracle gate fails " +
        "if routing ever silently stops."),

    // ---- q239: epsilon-DP clipped sum / mean release -------------------------
    "q239_dp_stats" -> Q(
      (s, d) => graft.operators.Quality.dpNoisyStats(
        Tables.orders(s, d), col("o_orderpriority"), DpGroups,
        col("o_totalprice"), lo = 0.0, hi = 400000.0,
        epsilon = 0.5, seed = 11L),
      Some(s"""
        WITH noise(g, nc, ns) AS (VALUES ${DpGroups.map { g =>
          val nc = graft.operators.Quality.dpLaplaceNoise(11L, s"$g:cnt", 0.25)
          val ns = graft.operators.Quality.dpLaplaceNoise(11L, s"$g:sum",
            0.25 / 400000.0)
          s"('$g', CAST('$nc' AS DOUBLE), CAST('$ns' AS DOUBLE))"
        }.mkString(",\n          ")}),
        c AS (
          SELECT o_orderpriority AS g, CAST(COUNT(*) AS BIGINT) AS cnt,
                 SUM(CAST(CAST(round(greatest(CAST('0.0' AS DOUBLE),
                     least(CAST('400000.0' AS DOUBLE), o_totalprice))
                     * 1e9) AS BIGINT) AS DECIMAL(38,0))) AS s
          FROM orders
          WHERE o_totalprice IS NOT NULL
            AND o_orderpriority IN (${DpGroups.map("'" + _ + "'").mkString(", ")})
          GROUP BY 1)
        SELECT noise.g, CAST('0.5' AS DOUBLE) AS epsilon,
               CAST(coalesce(c.cnt, CAST(0 AS BIGINT)) AS DOUBLE) + noise.nc
                 AS noisy_count,
               coalesce(CAST(c.s AS DOUBLE), CAST('0.0' AS DOUBLE)) / 1e9
                 + noise.ns AS noisy_sum,
               (coalesce(CAST(c.s AS DOUBLE), CAST('0.0' AS DOUBLE)) / 1e9
                 + noise.ns)
               / greatest(CAST(coalesce(c.cnt, CAST(0 AS BIGINT)) AS DOUBLE)
                   + noise.nc, CAST('1.0' AS DOUBLE)) AS dp_mean
        FROM noise LEFT JOIN c ON c.g = noise.g
        ORDER BY noise.g"""),
      "Epsilon-DP release of per-priority order totals — the numeric " +
        "sibling of q236: values clip to [0, 400000] (unclipped sums " +
        "have unbounded sensitivity: one whale order would be visible " +
        "at any epsilon), the budget splits epsilon/2 to the count " +
        "(sensitivity 1) and epsilon/2 to the sum (sensitivity " +
        "400000), and the mean is the noisy ratio with the denominator " +
        "floored at 1. Clipped values snap to the 1e-9 grid and sum " +
        "exactly; each noise draw is one driver literal from the " +
        "(seed, group, role) urn, embedded identically in plan and " +
        "oracle — the whole release is one conditional-aggregate pass " +
        "plus one IEEE addition/division per cell."),

    // ---- q243: functional-dependency discovery audit -----------------------
    "q243_fd_audit" -> Q(
      (s, d) => graft.operators.Quality.fdAudit(Tables.customer(s, d), Seq(
          "c_custkey" -> "c_mktsegment", // key -> anything: holds
          "c_name" -> "c_acctbal", // unique natural key: holds
          "c_nationkey" -> "c_mktsegment", // violated
          "c_mktsegment" -> "c_nationkey")) // violated
        .orderBy(col("lhs"), col("rhs")),
      Some("""
        WITH pairs AS (
          SELECT 'c_custkey' AS lhs, 'c_mktsegment' AS rhs,
                 CAST(c_custkey AS VARCHAR) AS l, CAST(c_mktsegment AS VARCHAR) AS r
          FROM customer WHERE c_custkey IS NOT NULL
          UNION ALL
          SELECT 'c_name', 'c_acctbal', c_name, CAST(c_acctbal AS VARCHAR)
          FROM customer WHERE c_name IS NOT NULL
          UNION ALL
          SELECT 'c_nationkey', 'c_mktsegment',
                 CAST(c_nationkey AS VARCHAR), c_mktsegment
          FROM customer WHERE c_nationkey IS NOT NULL
          UNION ALL
          SELECT 'c_mktsegment', 'c_nationkey',
                 c_mktsegment, CAST(c_nationkey AS VARCHAR)
          FROM customer WHERE c_mktsegment IS NOT NULL),
        g AS (
          SELECT lhs, rhs, l, r, CAST(COUNT(*) AS BIGINT) AS n
          FROM pairs GROUP BY 1, 2, 3, 4),
        pg AS (
          SELECT lhs, rhs, l, CAST(SUM(n) AS BIGINT) AS rws,
                 MAX(n) AS maxn, CAST(COUNT(*) AS BIGINT) AS ndv
          FROM g GROUP BY 1, 2, 3)
        SELECT lhs, rhs,
               CAST(SUM(rws) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_violating,
               CAST(SUM(rws - maxn) AS BIGINT) AS g3_rows,
               CAST(SUM(rws - maxn) AS BIGINT) = 0 AS holds
        FROM pg GROUP BY lhs, rhs
        ORDER BY lhs, rhs"""),
      "Functional-dependency discovery (Quality.fdAudit): for each " +
        "candidate lhs -> rhs, group counts plus the standard g3 " +
        "error — the MINIMUM rows to delete for the FD to hold (per " +
        "determinant group, everything but the modal dependent value). " +
        "The discovery companion of q150's declared-rule audit and " +
        "q172's single-column profiler: this one measures CROSS-column " +
        "structure. Each candidate is two partial-aggregatable " +
        "shuffles on key-pair cardinality, never raw rows. NOTE: the " +
        "oracle melts values through VARCHAR because SQL UNION needs " +
        "one type; the Spark side groups native values — counts are " +
        "identical because the casts here are injective.")
  ) ++ Seq(

    // ---- q250: keyed snapshot diff / reconciliation ------------------------
    "q250_table_diff" -> Q(
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val a = Tables.customer(s, d)
        // snapshot B: deterministic mutation of A — %97 keys deleted,
        // %13 balances bumped, %31 keys re-inserted under new ids
        val b = a.filter(col("c_custkey") % 97 =!= 0)
          .withColumn("c_acctbal",
            when(col("c_custkey") % 13 === 0, col("c_acctbal") + 10.0)
              .otherwise(col("c_acctbal")))
          .unionByName(a.filter(col("c_custkey") % 31 === 0)
            .withColumn("c_custkey", col("c_custkey") + 500000))
        graft.Catalog.tableDiff(a, b, "c_custkey", Seq(
            col("c_name"), col("c_acctbal").cast(DecimalType(14, 2)),
            col("c_mktsegment")))
          .filter(col("status") =!= "unchanged")
          .orderBy(col("status"), col("c_custkey"))
      },
      Some("""
        WITH b AS (
          SELECT c_custkey, c_name,
                 CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 10.0
                      ELSE c_acctbal END AS c_acctbal,
                 c_mktsegment
          FROM customer WHERE c_custkey % 97 <> 0
          UNION ALL
          SELECT c_custkey + 500000, c_name, c_acctbal, c_mktsegment
          FROM customer WHERE c_custkey % 31 = 0),
        ha AS (
          SELECT c_custkey AS k,
                 md5(concat_ws(chr(1),
                   coalesce(c_name, chr(0)),
                   coalesce(CAST(CAST(c_acctbal AS DECIMAL(14,2)) AS VARCHAR),
                     chr(0)),
                   coalesce(c_mktsegment, chr(0)))) AS hash_a
          FROM customer),
        hb AS (
          SELECT c_custkey AS k,
                 md5(concat_ws(chr(1),
                   coalesce(c_name, chr(0)),
                   coalesce(CAST(CAST(c_acctbal AS DECIMAL(14,2)) AS VARCHAR),
                     chr(0)),
                   coalesce(c_mktsegment, chr(0)))) AS hash_b
          FROM b)
        SELECT coalesce(ha.k, hb.k) AS c_custkey,
               CASE WHEN ha.k IS NULL THEN 'added'
                    WHEN hb.k IS NULL THEN 'removed'
                    WHEN ha.hash_a <> hb.hash_b THEN 'changed'
                    ELSE 'unchanged' END AS status,
               ha.hash_a, hb.hash_b
        FROM ha FULL OUTER JOIN hb ON ha.k = hb.k
        WHERE CASE WHEN ha.k IS NULL THEN 'added'
                   WHEN hb.k IS NULL THEN 'removed'
                   WHEN ha.hash_a <> hb.hash_b THEN 'changed'
                   ELSE 'unchanged' END <> 'unchanged'
        ORDER BY status, c_custkey"""),
      "Keyed snapshot reconciliation (Catalog.tableDiff): added / " +
        "removed / changed rows between two table versions — the audit " +
        "every ingest hand-off runs, and the verification half of " +
        "deleteRows. Each side collapses to (key, md5 of explicitly-" +
        "formatted compare columns) FIRST, so the full-outer join " +
        "shuffles 16-byte digests regardless of row width; \\u0001 " +
        "separators and \\u0000 null markers make column boundaries " +
        "and NULL-vs-'null' unambiguous; the DECIMAL(14,2) render pins " +
        "a cross-engine string form for the money column.")
  ) ++ Seq(
    // ---- q260: consistent-hash ring rebalance audit ------------------------
    "q260_ring_rebalance" -> Q(
      (s, d) => {
        import s.implicits._
        val k16 = ringAssign(s, d, 16)
          .select(col("doc_id"), col("shard").as("s16"))
        val k17 = ringAssign(s, d, 17)
          .select(col("doc_id"), col("shard").as("s17"))
        val both = k16.join(k17, Seq("doc_id")).localCheckpoint()
        val shards = (0 until 17).toDF("shard")
        shards.join(both.groupBy(col("s16").as("shard"))
            .agg(count(lit(1)).as("n_before")), Seq("shard"), "left")
          .join(both.groupBy(col("s17").as("shard"))
            .agg(count(lit(1)).as("n_after")), Seq("shard"), "left")
          .join(both.filter(col("s16") =!= col("s17"))
            .groupBy(col("s17").as("shard")).agg(count(lit(1)).as("n_in")),
            Seq("shard"), "left")
          .join(both.filter(col("s16") =!= col("s17"))
            .groupBy(col("s16").as("shard")).agg(count(lit(1)).as("n_out")),
            Seq("shard"), "left")
          .select(col("shard"),
            coalesce(col("n_before"), lit(0L)).as("n_before"),
            coalesce(col("n_after"), lit(0L)).as("n_after"),
            coalesce(col("n_in"), lit(0L)).as("n_in"),
            coalesce(col("n_out"), lit(0L)).as("n_out"))
          .orderBy(col("shard"))
      },
      Some {
        def ringSql(n: Int, name: String): String =
          name + "(shard, pos) AS (VALUES " + ringPoints(n)
            .map { case (sh, p) => s"($sh, $p)" }.mkString(", ") + ")"
        def assignSql(n: Int, out: String): String = {
          val minShard = ringPoints(n).minBy(_._2)._1
          s"""c$n AS (
          SELECT k.doc_id, r.shard,
                 ROW_NUMBER() OVER (PARTITION BY k.doc_id
                   ORDER BY r.pos, r.shard) AS rn
          FROM keys k JOIN ring$n r ON r.pos >= k.p),
        $out AS (
          SELECT kk.doc_id, coalesce(c.shard, $minShard) AS shard
          FROM keys kk LEFT JOIN c$n c ON c.doc_id = kk.doc_id AND c.rn = 1)"""
        }
        s"""
        WITH ${ringSql(16, "ring16")},
        ${ringSql(17, "ring17")},
        keys AS (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                   AS BIGINT) AS p
          FROM documents),
        ${assignSql(16, "a16")},
        ${assignSql(17, "a17")},
        bth AS (
          SELECT a16.doc_id, a16.shard AS s16, a17.shard AS s17
          FROM a16 JOIN a17 ON a17.doc_id = a16.doc_id),
        sh(shard) AS (SELECT * FROM range(0, 17))
        SELECT sh.shard,
               CAST(coalesce(b.nb, 0) AS BIGINT) AS n_before,
               CAST(coalesce(a.na, 0) AS BIGINT) AS n_after,
               CAST(coalesce(i.ni, 0) AS BIGINT) AS n_in,
               CAST(coalesce(o.no, 0) AS BIGINT) AS n_out
        FROM sh
        LEFT JOIN (SELECT s16 AS shard, COUNT(*) AS nb FROM bth GROUP BY 1) b
          ON b.shard = sh.shard
        LEFT JOIN (SELECT s17 AS shard, COUNT(*) AS na FROM bth GROUP BY 1) a
          ON a.shard = sh.shard
        LEFT JOIN (SELECT s17 AS shard, COUNT(*) AS ni FROM bth
                   WHERE s16 <> s17 GROUP BY 1) i ON i.shard = sh.shard
        LEFT JOIN (SELECT s16 AS shard, COUNT(*) AS no FROM bth
                   WHERE s16 <> s17 GROUP BY 1) o ON o.shard = sh.shard
        ORDER BY sh.shard"""
      },
      "Consistent-hash rebalance audit (16 -> 17 shards, 8 virtual " +
        "nodes each): per-shard membership before/after plus in/out " +
        "flows — the resize report that proves only a small slice of keys moves (10.6% here with 8 vnodes; more vnodes tighten toward 1/17) " +
        "(naive mod-N placement moves ~16/17 and invalidates every " +
        "cache). Ring points are md5 positions computed ONCE on the " +
        "driver and embedded as literals in BOTH engines; each key's " +
        "successor point is a FORWARD broadcast as-of join (q130's " +
        "direction) with the wraparound as a literal fallback — the " +
        "binary-search-on-a-ring every router runs, expressed as the " +
        "existing as-of operator over a 128-row dimension."),

    // ---- q276: CDC changeset apply (MERGE INTO semantics) ------------------
    "q276_cdc_merge" -> Q(
      (s, d) => {
        val base = Tables.customer(s, d)
        // deterministic compacted changeset: one op per touched key —
        // updates (+100 balance) on keys ≡0 (mod 10), deletes on ≡1,
        // inserts (offset key space) on ≡2
        val upd = base.filter(col("c_custkey") % 10 === 0)
          .select(lit("U").as("op"), col("c_custkey"), col("c_name"),
            col("c_nationkey"),
            (col("c_acctbal") + lit(100.0)).as("c_acctbal"),
            col("c_mktsegment"))
        val del = base.filter(col("c_custkey") % 10 === 1)
          .select(lit("D").as("op"), col("c_custkey"), col("c_name"),
            col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
        val ins = base.filter(col("c_custkey") % 10 === 2)
          .select(lit("I").as("op"),
            (col("c_custkey") + lit(1000000L)).as("c_custkey"),
            concat(lit("new_"), col("c_name")).as("c_name"),
            col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
        val changes = upd.unionByName(del).unionByName(ins)
        graft.Catalog.applyChangeSet(base, changes, "c_custkey")
          .orderBy(col("c_custkey"))
      },
      Some("""
        WITH ch AS (
          SELECT 'U' AS op, c_custkey, c_name, c_nationkey,
                 c_acctbal + 100.0 AS c_acctbal, c_mktsegment
          FROM customer WHERE c_custkey % 10 = 0
          UNION ALL
          SELECT 'D', c_custkey, c_name, c_nationkey, c_acctbal,
                 c_mktsegment
          FROM customer WHERE c_custkey % 10 = 1
          UNION ALL
          SELECT 'I', 1000000 + c_custkey, concat('new_', c_name),
                 c_nationkey, c_acctbal, c_mktsegment
          FROM customer WHERE c_custkey % 10 = 2)
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM (
          SELECT b.c_custkey, b.c_name, b.c_nationkey, b.c_acctbal,
                 b.c_mktsegment
          FROM customer b LEFT JOIN ch ON ch.c_custkey = b.c_custkey
          WHERE ch.c_custkey IS NULL
          UNION ALL
          SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          FROM ch WHERE op <> 'D')
        ORDER BY c_custkey"""),
      "MERGE-INTO semantics as one operator (Catalog.applyChangeSet): " +
        "a compacted CDC changeset of inserts/updates/deletes applies " +
        "in a single anti-join + union — every touched key's old image " +
        "drops, every non-delete contributes its new image, and the " +
        "base is never re-aggregated or sorted (a 0.1% daily changeset " +
        "against a 100 TB snapshot costs one key-pruned join, not a " +
        "rebuild; AQE broadcasts the changeset side when small). The " +
        "inverse of q250's tableDiff — diff derives a changeset, this " +
        "applies one — and the batch shape of Catalog.deleteRows' " +
        "delete half. Hash-proved over the full row images.")
  )

  /** Consistent-hash ring: `vnodes` md5 positions per shard (13 hex
    * chars → 52-bit longs), computed once on the driver so BOTH
    * engines embed identical literals. */
  private def ringPoints(shards: Int, vnodes: Int = 8): Seq[(Int, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    for (s <- 0 until shards; v <- 0 until vnodes) yield {
      val hex = md.digest(s"shard:$s:v:$v".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (s, java.lang.Long.parseLong(hex.take(13), 16))
    }
  }

  /** Assign every doc to its ring successor among `shards` shards via
    * the forward broadcast as-of join (wraparound = min-position shard
    * as a literal fallback). */
  private def ringAssign(s: SparkSession, d: String, shards: Int): DataFrame = {
    import s.implicits._
    val pts = ringPoints(shards)
    val ring = pts.toDF("shard", "pos").withColumn("rk", lit(0))
    val minShard = pts.minBy(_._2)._1
    val keys = Tables.documents(s, d).select(col("doc_id"),
        md5U52(col("doc_id").cast("string")).as("p"))
      .withColumn("rk", lit(0))
    graft.operators.EventOps.asOfJoinBroadcast(keys, ring, "rk", "p", "pos",
        Seq("shard"), direction = "forward")
      .select(col("doc_id"),
        coalesce(col("shard"), lit(minShard)).as("shard"))
  }

  /** Fixed released domain for the DP count query. */
  private val DpGroups = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
}
