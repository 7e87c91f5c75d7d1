package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TextFunctions.md5U52

/** Iterative graph analytics over edge relations — the centrality
  * companion of [[Dedup.connectedComponents]]: where CC answers "which
  * docs are copies of each other", PageRank answers "which nodes sit at
  * the center of the copy/link structure" (canonical selection, source
  * authority, crawl prioritization).
  *
  * Each operator with a driver fast path routes its pinned edge
  * relation through [[Route.bySize]], with its edge limit as a
  * constant at the call site; `Route.ForceDistributedConf` forces
  * every distributed plan at once.
  */
object Graph {

  /** Broadcast hint for node-sized relations inside iterative loops —
    * the hits discipline generalized: below ~2M rows the score/frontier
    * relation broadcasts so the (much larger, checkpointed) edge
    * relation is never re-shuffled per pass; above it the planner's
    * plain shuffle join runs. Strategy only, values identical. */
  private val BroadcastNodeLimit = 1L << 21
  private def broadcastBelow(n: Long)(df: DataFrame): DataFrame =
    if (n <= BroadcastNodeLimit) broadcast(df) else df

  /** Damped PageRank with proper dangling-mass redistribution, run for
    * a FIXED `iters` power iterations (the deterministic form — a
    * convergence test would make the result depend on float noise).
    *
    * Per iteration: one edge⋈rank equi-join + a destination-keyed
    * aggregation — contribution rows are (dst, 8-byte term) with
    * map-side combine, and the (edge, outdegree) relation materializes
    * ONCE before the loop, so each pass shuffles the rank vector (one
    * row per node), never the corpus that built the edges. Dangling
    * mass (nodes with no out-edges) is a single decimal aggregate
    * cross-joined back — no collect, no driver loop over data.
    *
    * Hash parity across engines: every sum (contributions, dangling
    * mass) accumulates 14-decimal-rounded terms as DECIMAL(28,14) —
    * exact and summation-order-independent — and each iteration's rank
    * re-rounds to 12 decimals, so engines walk identical rank vectors
    * through every iteration; the arithmetic is div/mul/add only (no
    * libm), hence bit-identical under IEEE-754.
    *
    * Output: (`id`, pr) — rank rounded to `roundTo`, summing to ~1. */
  def pageRank(nodes: DataFrame, id: String, edges: DataFrame,
      src: String, dst: String, iters: Int, damping: Double = 0.85,
      roundTo: Int = 9): DataFrame = {
    require(iters >= 1, "pageRank: at least one iteration")
    val n = nodes.count()
    require(n > 0, "pageRank: empty node set")
    val nD = n.toDouble
    // outdeg is NOT pinned: it folds into the ed pin (one job instead
    // of two), and each branch re-derives what it needs from the pinned
    // ed — the driver branch from the collected array, the distributed
    // one as a one-column distinct below
    val outdeg = edges.groupBy(col(src).as("v")).agg(count(lit(1)).as("outd"))
    // the loop-invariant join: (src, dst, outd), reused every pass
    val edBase = edges.select(col(src).as("es"), col(dst).as("ed"))
      .join(outdeg, col("es") === col("v"))
      .select(col("es"), col("ed"), col("outd"))
    // driver fast path (the hits/union-find discipline): below the
    // edge guard the power iteration runs in memory on the collected
    // (es, ed, outd) relation, walking the SAME decimal grid — Spark's
    // round == BigDecimal.valueOf().setScale(HALF_UP), exact decimal
    // sums are order-free — so ranks are bit-identical
    // (ParityBoundarySpec pins it). Above the guard, or with a node
    // set larger than half the guard, the distributed loop runs.
    Route.bySize(edBase, if (n <= (1L << 22)) 1L << 23 else 0L)(
      pageRankDriver(nodes, id, _, n, iters, damping, roundTo)) { ed =>
      // loop-invariant, read every pass by the dangling anti-join; the
      // distinct es-set of ed IS outdeg's key set (the inner join keeps
      // every source). Materialized only on the distributed path.
      val hasOut = ed.select(col("es").as("v")).distinct().localCheckpoint()
      // node-sized relations (ranks, contrib, hasOut) broadcast below the
      // hits BroadcastNodeLimit so each iteration is a shuffle-free
      // broadcast join over the PINNED edges + a map-side-combined
      // aggregate — without the hint the SMJ re-shuffles the full edge
      // relation every pass. Strategy only: values are bit-identical;
      // billion-node graphs fall back to the plain shuffle join.
      val hint = broadcastBelow(n) _
      var ranks = nodes.select(col(id).as("v"),
        round(lit(1.0 / nD), 12).as("r"))
      for (_ <- 1 to iters) {
        val contrib = ed
          .join(hint(ranks), col("es") === col("v"))
          .groupBy(col("ed").as("cv"))
          .agg(sum(round(col("r") / col("outd"), 14).cast(DecimalType(28, 14)))
            .cast("double").as("c"))
        val dangling = ranks.join(hint(hasOut), Seq("v"), "left_anti")
          .agg(coalesce(
            sum(round(col("r"), 14).cast(DecimalType(28, 14))).cast("double"),
            lit(0.0)).as("dang"))
        ranks = ranks.select(col("v"))
          .join(hint(contrib), col("v") === col("cv"), "left")
          .crossJoin(dangling)
          .select(col("v"),
            round(lit((1.0 - damping) / nD) +
              lit(damping) * (coalesce(col("c"), lit(0.0)) + col("dang") / nD),
              12).as("r"))
          .localCheckpoint() // cut the per-iteration lineage diamond
      }
      ranks.select(col("v").as(id), round(col("r"), roundTo).as("pr"))
    }
  }

  /** Driver fast path for [[pageRank]] — same decimal grid, in memory.
    * `ed` is the already-materialized (es, ed, outd) relation; node ids
    * are compared by equality only, so any id type works. */
  private def pageRankDriver(nodes: DataFrame, id: String, ed: DataFrame,
      n: Long, iters: Int, damping: Double, roundTo: Int): DataFrame = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val spark = nodes.sparkSession
    def rnd(x: Double, s: Int): Double =
      JBD.valueOf(x).setScale(s, RoundingMode.HALF_UP).doubleValue
    def term(x: Double): JBD =
      JBD.valueOf(rnd(x, 14)).setScale(14, RoundingMode.HALF_UP)
    val nD = n.toDouble
    val edgesArr: Array[(Any, Any, Long)] =
      ed.collect().map(r => (r.get(0), r.get(1), r.getLong(2)))
    val hasOut: Set[Any] = edgesArr.iterator.map(_._1).toSet
    val nodeIds: Array[Any] =
      nodes.select(col(id)).collect().map(_.get(0))
    val r0 = rnd(1.0 / nD, 12)
    var ranks: collection.Map[Any, Double] =
      nodeIds.iterator.map(v => v -> r0).toMap
    for (_ <- 1 to iters) {
      // contrib: per destination, exact sum of round(r/outd, 14) terms
      val acc = collection.mutable.HashMap.empty[Any, JBD]
      edgesArr.foreach { case (es, edst, outd) =>
        // equi-join semantics: a null key never matches
        if (es != null) ranks.get(es) match {
          case Some(r) =>
            val t = term(r / outd.toDouble)
            acc.update(edst, acc.getOrElse(edst, JBD.ZERO).add(t))
          case None => ()
        }
      }
      // dangling mass: ranks of nodes with no out-edges
      var dz = JBD.ZERO
      // anti-join semantics: a null key never matches, so it is kept
      ranks.foreach { case (v, r) =>
        if (v == null || !hasOut(v)) dz = dz.add(term(r))
      }
      val dang = dz.doubleValue
      ranks = nodeIds.iterator.map { v =>
        // equi-join semantics again: a null node id matches no contrib
        val c = if (v == null) 0.0
          else acc.get(v).map(_.doubleValue).getOrElse(0.0)
        v -> rnd((1.0 - damping) / nD + damping * (c + dang / nD), 12)
      }.toMap
    }
    val schema = StructType(Seq(
      StructField(id, nodes.schema(id).dataType, nullable = true),
      StructField("pr", DoubleType, nullable = true)))
    val rows: Seq[Row] =
      nodeIds.iterator.map(v => Row(v, rnd(ranks(v), roundTo))).toSeq
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Degree-ordered triangle counting + global clustering coefficient —
    * the edge-iterator scheme over a (degree, id)-oriented graph (Suri
    * & Vassilvitskii, WWW 2011 lineage): orient every undirected edge
    * from its (degree, id)-smaller endpoint toward the larger, so each
    * triangle {x<y<z} is counted exactly once, at its lowest-ordered
    * edge (x,y), as z ∈ N⁺(x) ∩ N⁺(y). The orientation caps every
    * out-degree at O(√m) — the skew killer that makes this survive
    * power-law hubs at 100 TB, where id-ordered counting would
    * enumerate a hub's full neighborhood.
    *
    * Shape: the wedge relation (Σ C(outdeg,2) rows — easily 100× the
    * edge count) NEVER materializes. Instead each oriented edge picks
    * up both endpoints' sorted out-neighbor arrays (two equi-joins
    * against a per-node adjacency relation, each array O(√m) long) and
    * counts the intersection with a codegen'd `array_intersect` — the
    * shuffled volume stays O(m·√m) worst-case but O(m·avg-outdeg)
    * typical, in m rows rather than Σ C(d,2) rows. The edge list is
    * pinned once (Route.bySize) because it feeds degree/orientation/
    * count branches — without it the upstream edge derivation (often
    * itself a self-join) re-executes per branch.
    *
    * Triangle/wedge counts are orientation-invariant, so the output is
    * deterministic and a plain id-ordered oracle agrees exactly.
    *
    * Output: one row (n_nodes, n_edges, n_wedges, n_triangles,
    * global_cc = 3·triangles/wedges rounded to `roundTo`). */
  def triangleStats(edges: DataFrame, src: String, dst: String,
      roundTo: Int = 6): DataFrame = {
    val eBase = edges
      .select(least(col(src), col(dst)).as("a"),
              greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // driver fast path: triangle/wedge counts are exact integers and
    // orientation-invariant, so below the guard one collect + a sorted
    // adjacency-intersection count replaces the degree/orientation/
    // adjacency join cascade (ParityBoundarySpec pins equality; the
    // one rounded output, global_cc, replicates Spark round semantics
    // with BigDecimal HALF_UP).
    Route.bySize(eBase, 1L << 22)(triangleStatsDriver(_, roundTo)) { e =>
      val deg = e.select(col("a").as("v"))
        .union(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      // orient by (degree, id): u -> v iff (d_u, u) < (d_v, v)
      val withDeg = e
        .join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
      val oriented = withDeg.select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("h")))
          .otherwise(struct(col("b").as("u"), col("a").as("h")))
          .as("o"))
        .select(col("o.u").as("u"), col("o.h").as("h"))
      // per-node out-neighbor arrays, O(sqrt m) each by orientation
      val adj = oriented.groupBy(col("u"))
        .agg(collect_list(col("h")).as("nbrs"))
      val triangles = oriented
        .join(adj, "u")
        .withColumnRenamed("nbrs", "nu")
        .join(adj.toDF("u2", "nv"), col("h") === col("u2"))
        .select(size(array_intersect(col("nu"), col("nv"))).as("t"))
        .agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"))
      val nWedges = deg
        .agg(sum(expr("(d * (d - 1)) div 2")).as("n_wedges"))
      val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
      val nEdges = e.agg(count(lit(1)).as("n_edges"))
      nNodes.crossJoin(nEdges).crossJoin(nWedges).crossJoin(triangles)
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), roundTo)
            .as("global_cc"))
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge
    * relation, run for a FIXED number of iterations with L1
    * normalization — the centrality pair for bipartite-flavored graphs
    * where [[pageRank]]'s single score conflates the two roles
    * (buyers↔suppliers, queries↔documents): authority(t) sums the hub
    * scores pointing at t, hub(s) sums the authority scores s points
    * at, each pass renormalized to Σ = 1.
    *
    * Cross-engine determinism is the [[pageRank]] discipline: every
    * aggregate accumulates 14-decimal-rounded terms in DECIMAL(28,14)
    * (exact, order-independent), every score re-rounds to 12 decimals
    * after its normalization divide, so both engines walk identical
    * score vectors through every iteration. Per iteration: two
    * edge⋈score equi-joins + two keyed aggregations + two scalar
    * normalizers — the edge relation materializes once, scores (one
    * row per node) are the only per-pass shuffle.
    *
    * Output: (role 'hub'|'authority', id, score) — every source node
    * has a hub score, every target node an authority score; the score
    * is the exact 12-decimal value rounded to `roundTo` as a decimal.
    *
    * Execution routes on edge count, the [[Dedup.connectedComponents]]
    * union-find discipline (`Route.bySize`): at or below 2²³ edges
    * (≈ 8.4M, a few hundred MB of driver heap) the whole power
    * iteration runs as a single driver loop over ONE collected edge
    * array — the per-pass cost of a distributed half-step (join +
    * shuffle agg + checkpoint + normalizer read ≈ 4 job turnarounds) is
    * pure fixed overhead when scores fit in memory, and r9 measured it
    * at ~6 s for a 587k-edge graph whose arithmetic takes milliseconds.
    * Above the guard the distributed plan runs. Both paths walk the
    * SAME decimal grid (14-decimal DECIMAL terms summed exactly,
    * 12-decimal re-round per normalize — the driver path replicates
    * Spark's Round/Cast semantics with java.math.BigDecimal HALF_UP),
    * pinned bit-identical by ParityBoundarySpec. */
  def hits(edges: DataFrame, src: String, dst: String, iters: Int,
      roundTo: Int = 9): DataFrame = {
    require(iters >= 1 && iters <= 16, "hits: 1 <= iters <= 16")
    import org.apache.spark.sql.types.DecimalType
    def decSum(c: Column) =
      sum(round(c, 14).cast(DecimalType(28, 14))).cast("double")
    val eBase = edges.select(col(src).as("s"), col(dst).as("t"))
      .distinct()
    // the driver path needs one id type for its score map
    val sameIdType = eBase.schema("s").dataType == eBase.schema("t").dataType
    Route.bySize(eBase, if (sameIdType) 1L << 23 else 0L)(
        hitsDriver(_, iters, roundTo)) { e =>
      val srcN = e.select(col("s")).distinct().count()
      val dstN = e.select(col("t")).distinct().count()
      var hubs = e.select(col("s")).distinct()
        .select(col("s"), round(lit(1.0 / srcN.toDouble), 12).as("h"))
      var auths: DataFrame = null
      for (_ <- 1 to iters) {
        // checkpoint the RAW aggregates, not the normalized scores: each
        // raw relation feeds BOTH its normalizer scalar and the score
        // projection — uncheckpointed, the edge⋈score join re-executes
        // per arm (measured 2x the per-iteration cost). The normalizer
        // is COLLECTED to a scalar literal (a millisecond job over the
        // node-sized checkpoint), so every downstream read is a pure
        // projection with no broadcast-exchange round-trip; the double
        // value is the same, so scores are bit-identical.
        val aRaw = e.join(broadcastBelow(srcN)(hubs), "s")
          .groupBy(col("t")).agg(decSum(col("h")).as("a_raw"))
          .localCheckpoint()
        val az = aRaw.agg(decSum(col("a_raw"))).head.getDouble(0)
        auths = aRaw
          .select(col("t"), round(col("a_raw") / lit(az), 12).as("a"))
        val hRaw = e.join(broadcastBelow(dstN)(auths), "t")
          .groupBy(col("s")).agg(decSum(col("a")).as("h_raw"))
          .localCheckpoint()
        val hz = hRaw.agg(decSum(col("h_raw"))).head.getDouble(0)
        hubs = hRaw
          .select(col("s"), round(col("h_raw") / lit(hz), 12).as("h"))
      }
      // the output rounds the exact 12-decimal grid value, never the
      // binary double: at a .5e-roundTo tie engines round a double
      // differently, an exact decimal the same way
      def score(c: Column) =
        round(c.cast(DecimalType(38, 12)), roundTo).cast("double").as("score")
      hubs.select(lit("hub").as("role"), col("s").as("id"), score(col("h")))
        .unionByName(auths.select(lit("authority").as("role"),
          col("t").as("id"), score(col("a"))))
    }
  }

  /** Driver fast path for [[hits]]: one collect of the (already
    * distinct, pinned) edge relation, then the full power
    * iteration in memory. Replicates the distributed decimal grid
    * exactly — Spark's `round(x, s)` on a double is
    * `BigDecimal.valueOf(x).setScale(s, HALF_UP).toDouble`, and the
    * `cast(DECIMAL(28,14))` term is `valueOf(rounded).setScale(14,
    * HALF_UP)` summed exactly — so scores are bit-identical to the
    * distributed path (HitsParitySpec pins this). Join semantics are
    * replicated too: a null join key never matches (equi-join), while
    * a null GROUP key aggregates normally. */
  private def hitsDriver(e: DataFrame, iters: Int, roundTo: Int): DataFrame = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val spark = e.sparkSession
    def rnd(x: Double, s: Int): Double =
      JBD.valueOf(x).setScale(s, RoundingMode.HALF_UP).doubleValue
    def term(x: Double): JBD =
      JBD.valueOf(rnd(x, 14)).setScale(14, RoundingMode.HALF_UP)
    val edgesArr: Array[(Any, Any)] = e.collect().map(r => (r.get(0), r.get(1)))
    // srcN counts null as a distinct value (matches distinct().count())
    val distinctS = collection.mutable.LinkedHashSet[Any]()
    edgesArr.foreach(p => distinctS += p._1)
    val h0 = rnd(1.0 / distinctS.size.toDouble, 12)
    var hubs: collection.Map[Any, Double] =
      distinctS.iterator.map(k => k -> h0).toMap
    var auths: collection.Map[Any, Double] = null
    // one half-step: for each edge, look the score up by the JOIN side
    // (null never matches), add its precomputed 14-decimal term into
    // the GROUP side's exact accumulator; then normalize by the exact
    // sum of re-rounded raw values — decSum semantics, order-free.
    def halfStep(scores: collection.Map[Any, Double],
        joinSide: ((Any, Any)) => Any,
        groupSide: ((Any, Any)) => Any): collection.Map[Any, Double] = {
      val terms = scores.map { case (k, v) => k -> term(v) }
      val acc = collection.mutable.LinkedHashMap[Any, JBD]()
      edgesArr.foreach { edge =>
        val jk = joinSide(edge)
        if (jk != null) terms.get(jk) match {
          case Some(t) =>
            val gk = groupSide(edge)
            acc.update(gk, acc.getOrElse(gk, JBD.ZERO).add(t))
          case None => ()
        }
      }
      val raw = acc.map { case (k, v) => k -> v.doubleValue }
      var z = JBD.ZERO
      raw.valuesIterator.foreach(v => z = z.add(term(v)))
      val zd = z.doubleValue
      raw.map { case (k, v) => k -> rnd(v / zd, 12) }
    }
    for (_ <- 1 to iters) {
      auths = halfStep(hubs, _._1, _._2)
      hubs = halfStep(auths, _._2, _._1)
    }
    val idType = e.schema("s").dataType
    val schema = StructType(Seq(
      StructField("role", StringType, nullable = false),
      StructField("id", idType, nullable = true),
      StructField("score", DoubleType, nullable = true)))
    // the distributed output's cast(DECIMAL(38,12)) then round(·, roundTo)
    def score(x: Double): Double = JBD.valueOf(x).setScale(12, RoundingMode.HALF_UP)
      .setScale(roundTo, RoundingMode.HALF_UP).doubleValue
    val rows: Seq[Row] =
      hubs.iterator.map { case (k, v) => Row("hub", k, score(v)) }.toSeq ++
      auths.iterator.map { case (k, v) => Row("authority", k, score(v)) }.toSeq
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for a FIXED
    * number of rounds — community detection over sparse similarity
    * graphs (near-dup pair graphs, link graphs): every node starts as
    * its own label; each round it adopts the most frequent label among
    * its neighbors, ties broken by the SMALLEST label — the
    * deterministic form (free-order async LPA is run-to-run unstable;
    * fixed sync rounds + total tie order make the result
    * engine-identical, at the cost of the known sync-LPA oscillation
    * on bipartite structures — bounded by `rounds`).
    *
    * Scale shape per round: one equi-join stamping neighbor labels +
    * one (node, label) count + one per-node argmax window — all keyed
    * shuffles of the both-orientation edge list, checkpointed per
    * round against the diamond. Where [[Dedup.connectedComponents]]
    * answers reachability, LPA keeps DENSE regions together without
    * chaining through sparse bridges.
    *
    * Output: (v, community) for every node with at least one edge. */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16, "labelPropagation: 1 <= rounds <= 16")
    val e = edges
      .select(least(col(src), col(dst)).as("a"),
              greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val nb = e.select(col("a").as("v"), col("b").as("u"))
      .union(e.select(col("b").as("v"), col("a").as("u")))
      .localCheckpoint() // read every round
    var labels = nb.select(col("v")).distinct()
      .select(col("v"), col("v").as("lab"))
      .localCheckpoint()
    val nNodes = labels.count()
    for (_ <- 1 to rounds) {
      // argmax as min_by over struct(-cnt, lab) — identical to the
      // row_number(cnt desc, lab asc) = 1 window it replaces (lab is
      // unique within a (v, lab) group, so the ordering struct never
      // ties), but it partially aggregates map-side instead of
      // shuffling and sorting the full (v, lab, cnt) stream per round.
      // The label relation broadcasts below the node limit so the
      // checkpointed neighbor list never re-shuffles.
      labels = nb
        .join(broadcastBelow(nNodes)(
          labels.select(col("v").as("u"), col("lab"))), "u")
        .groupBy(col("v"), col("lab")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("v"))
        .agg(min_by(col("lab"),
          struct((-col("cnt")).as("nc"), col("lab"))).as("lab"))
        .localCheckpoint()
    }
    labels.select(col("v"), col("lab").as("community"))
  }

  /** Degree assortativity coefficient (Newman 2002): the Pearson
    * correlation of the endpoint degrees over every edge counted in
    * both orientations — positive r means hubs attach to hubs (social
    * graphs), negative means hubs attach to leaves (the web,
    * biological nets); the one-number structure summary that decides
    * whether hub-targeted skew handling ([[kCore]] caps, salting) will
    * pay off.
    *
    * Both-orientation symmetry makes the marginals equal (Sx = Sy,
    * Sxx = Syy), so r = (M·Sxy − Sx²)/(M·Sxx − Sx²) from FOUR exact
    * integer moments — the q135 grid-moment discipline on degrees,
    * which are already integers: one degree aggregation, two equi-joins
    * to stamp endpoint degrees, one scale-0 decimal aggregate, one
    * unrounded IEEE chain. Never a pair space beyond the edge list.
    *
    * Output: one row (n_nodes, n_edges, assortativity); null r for a
    * degree-regular graph (zero variance). */
  def assortativity(edges: DataFrame, src: String, dst: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val e = edges
      .select(least(col(src), col(dst)).as("a"),
              greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // NOTHING is checkpointed (the q303 streaming discipline applied
    // to the exact form): the whole statistic is ONE query, so the
    // identical e subtrees (deg's union scan, both stamp-join sides)
    // share the distinct exchange via ReusedExchange, and the three
    // identical deg aggregates share theirs — zero extra computation,
    // zero materialized edge relation. The previous edge-relation
    // localCheckpoint deserialized the full canonical edge set, the
    // tier's memory shape: 16× at the forced-distributed 10× slope vs
    // 2.1× without it (and an eager node-sized pin was no better at
    // sf0.1 — a checkpoint is its OWN query, so the main query
    // recomputed e without reuse).
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val stamped = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val m = stamped.agg(
      count(lit(1)).as("m"),
      sum(dec(col("da") + col("db"))).as("sx"),
      sum(dec(col("da") * col("da") + col("db") * col("db"))).as("sxx"),
      sum(dec(col("da") * col("db") * lit(2L))).as("sxy"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val bigM = (col("m") * 2L).cast("double")
    m.crossJoin(nNodes).select(
      col("n_nodes"), col("m").as("n_edges"),
      ((bigM * col("sxy").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) /
        nullif(bigM * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"), lit(0.0)))
        .as("assortativity"))
  }

  /** Edge-sampled [[assortativity]] — the 100×-capable twin (the q196/
    * q222b DOULION discipline): TRUE degrees come from one streaming
    * aggregate over the full canonical edge set (linear, never
    * materialized — the exact form's 120M-edge localCheckpoint is what
    * broke one-JVM 100× runs), and the Pearson moments fold over only
    * the edges a deterministic md5 coin keeps (p = 1/`sampleDenom`).
    * Uniform edge sampling with true-degree stamps makes the sampled
    * moment sums unbiased estimates of the full sums scaled by p, and
    * the correlation is scale-invariant in them, so the estimate is
    * consistent for the true assortativity — no degree-bias correction
    * needed (degrees are exact, only the edge POPULATION is sampled).
    *
    * Output: one row (n_nodes, n_edges, n_edges_sampled,
    * assortativity_est, sample_denom). */
  def assortativitySampled(edges: DataFrame, src: String, dst: String,
      sampleDenom: Int = 16): DataFrame = {
    require(sampleDenom >= 2 && 256 % sampleDenom == 0,
      "assortativitySampled: sampleDenom must divide 256")
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val e = edges
      .select(least(col(src), col(dst)).as("a"),
              greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // exact degrees in one streaming pass — e is NOT checkpointed
    // (the exact form's memory killer); it recomputes once per arm
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .localCheckpoint() // node-sized; feeds counts + both stamp joins
    val sampled = e.filter(
      md5U52(concat(col("a").cast("string"), lit("_"),
        col("b").cast("string")), 2, 31)
        < lit((256 / sampleDenom).toLong))
    val stamped = sampled
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val m = stamped.agg(
      count(lit(1)).as("ms"),
      sum(dec(col("da") + col("db"))).as("sx"),
      sum(dec(col("da") * col("da") + col("db") * col("db"))).as("sxx"),
      sum(dec(col("da") * col("db") * lit(2L))).as("sxy"))
    // n_nodes and the exact edge count both fall out of the degree
    // relation (sum d = 2m) — no second pass over the edge stream
    val nn = deg.agg(count(lit(1)).as("n_nodes"),
      (sum(col("d")) / lit(2L)).cast("long").as("n_edges"))
    val bigM = (col("ms") * 2L).cast("double")
    m.crossJoin(nn).select(
      col("n_nodes"), col("n_edges"), col("ms").as("n_edges_sampled"),
      ((bigM * col("sxy").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) /
        nullif(bigM * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"), lit(0.0)))
        .as("assortativity_est"),
      lit(sampleDenom).as("sample_denom"))
  }

  /** k-core peel, run for a FIXED number of rounds (the deterministic
    * form, like [[pageRank]]'s fixed power iterations): each round
    * recomputes degrees over the surviving subgraph and drops every
    * node with degree < k, together with its edges. When `rounds` ≥
    * the peel depth the result is the true k-core (the unique maximal
    * subgraph of min-degree ≥ k — order-independent, so the output is
    * deterministic whatever the removal schedule); fewer rounds give
    * the round-limited peel, still engine-identical. The cohesion
    * primitive for community mining and spam-farm detection — the
    * k-core survives where triangle counts only score.
    *
    * Scale shape per round: one degree aggregation + two semi-joins
    * over the CURRENT edge set — the relation only ever shrinks, and
    * both the edge set and the (much smaller) survivor list are
    * localCheckpointed per round because each feeds two arms (without
    * the cut, the diamond re-executes every prior round per branch —
    * exponential). Work is O(rounds · |E|) worst case; nothing ever
    * exceeds the input edge count.
    *
    * Output: (v, core_deg) for surviving nodes — empty when the graph
    * peels away entirely. */
  def kCore(edges: DataFrame, src: String, dst: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, "kCore: k >= 1")
    require(rounds >= 1 && rounds <= 64, "kCore: 1 <= rounds <= 64")
    val eBase = edges
      .select(least(col(src), col(dst)).as("a"),
              greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // driver fast path: the peel is pure integer degree arithmetic —
    // no grid to replicate — so below the guard one collect + an
    // in-memory peel replaces per-round degree shuffles + checkpoints
    // (ParityBoundarySpec pins equality). Above it, the distributed
    // shell-removal loop runs.
    Route.bySize(eBase, 1L << 22)(kCoreDriver(_, k, rounds)) { pinned =>
      var e = pinned
      // early exit at the fixpoint is RESULT-identical to running all
      // `rounds` (post-fixpoint peels are no-ops — the oracle runs them
      // all and agrees). Each round removes the PEELED SHELL (nodes that
      // just dropped below k) rather than re-filtering against the big
      // survivor set: the shell is small after the first rounds, so a
      // broadcast anti-join keeps the edge relation un-shuffled — one
      // keyed shuffle (the degree aggregate) per round. A pathological
      // shell (> 4M nodes in one round) falls back to shuffle semi-joins
      // on the survivors; results are identical either way.
      var round = 0
      var fixed = false
      while (round < rounds && !fixed) {
        round += 1
        val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("d"))
          .localCheckpoint() // feeds the shell and (rarely) the fallback
        val bad = deg.filter(col("d") < k).select(col("v"))
        val nBad = bad.count()
        if (nBad == 0L) fixed = true
        else {
          e = (if (nBad <= 4000000L)
            e.join(broadcast(bad.withColumnRenamed("v", "a")),
                Seq("a"), "left_anti")
              .join(broadcast(bad.withColumnRenamed("v", "b")),
                Seq("b"), "left_anti")
          else {
            val good = deg.filter(col("d") >= k).select(col("v"))
            e.join(good.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
              .join(good.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
          }).localCheckpoint()
        }
      }
      e.select(col("a").as("v")).union(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("core_deg"))
    }
  }

  /** Driver fast path for [[kCore]] — same integer peel, in memory. */
  private def kCoreDriver(e0: DataFrame, k: Int, rounds: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val spark = e0.sparkSession
    // dense-int node ids + int-array degrees (the triangleStatsDriver
    // discipline): the boxed per-round LinkedHashMap[Any, Long] rebuild
    // cost more than the distributed peel it replaced on shell-by-shell
    // graphs (up to `rounds` full-edge map rebuilds with boxing). The
    // peel itself is pure integer arithmetic; only the id<->index map
    // touches boxed values, once.
    val raw = e0.collect()
    val idx = collection.mutable.HashMap.empty[Any, Int]
    val ids = collection.mutable.ArrayBuffer.empty[Any] // first-seen order
    def ix(v: Any): Int = idx.getOrElseUpdate(v, { ids += v; ids.size - 1 })
    val ea = new Array[Int](raw.length)
    val eb = new Array[Int](raw.length)
    var i = 0
    while (i < raw.length) {
      ea(i) = ix(raw(i).get(0)); eb(i) = ix(raw(i).get(1)); i += 1
    }
    val nN = ids.size
    var nE = raw.length
    val deg = new Array[Long](nN)
    val alive = new Array[Boolean](nN)
    java.util.Arrays.fill(alive, true)
    def recountDegrees(): Unit = {
      java.util.Arrays.fill(deg, 0L)
      var j = 0
      while (j < nE) { deg(ea(j)) += 1L; deg(eb(j)) += 1L; j += 1 }
    }
    var round = 0
    var fixed = false
    while (round < rounds && !fixed) {
      round += 1
      recountDegrees()
      var anyBad = false
      var v = 0
      while (v < nN) {
        if (alive(v) && deg(v) < k) { alive(v) = false; anyBad = true }
        else if (!alive(v)) deg(v) = 0L
        v += 1
      }
      if (!anyBad) fixed = true
      else {
        // compact the surviving edges in place
        var w = 0
        var j = 0
        while (j < nE) {
          if (alive(ea(j)) && alive(eb(j))) { ea(w) = ea(j); eb(w) = eb(j); w += 1 }
          j += 1
        }
        nE = w
      }
    }
    recountDegrees()
    val schema = StructType(Seq(
      StructField("v", e0.schema("a").dataType, nullable = true),
      StructField("core_deg", LongType, nullable = false)))
    // first-seen order over nodes with surviving edges — the same rows
    // (and the same deterministic order) the LinkedHashMap form emitted
    val rows: Seq[Row] = {
      val seen = new Array[Boolean](nN)
      val order = collection.mutable.ArrayBuffer.empty[Int]
      var j = 0
      while (j < nE) {
        if (!seen(ea(j))) { seen(ea(j)) = true; order += ea(j) }
        if (!seen(eb(j))) { seen(eb(j)) = true; order += eb(j) }
        j += 1
      }
      order.iterator.map(v => Row(ids(v), deg(v))).toSeq
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Driver fast path for [[triangleStats]] — the same degree-ordered
    * intersection count, in memory. Triangle/wedge counts are
    * orientation-invariant exact integers, so any consistent total
    * order works for the orientation (node ids map to dense ints,
    * first-seen order); only global_cc is rounded, with the replicated
    * BigDecimal HALF_UP semantics. */
  private def triangleStatsDriver(e: DataFrame, roundTo: Int): DataFrame = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val spark = e.sparkSession
    val raw = e.collect()
    val idx = collection.mutable.HashMap.empty[Any, Int]
    def ix(v: Any): Int = idx.getOrElseUpdate(v, idx.size)
    val ea = new Array[Int](raw.length)
    val eb = new Array[Int](raw.length)
    var i = 0
    while (i < raw.length) {
      ea(i) = ix(raw(i).get(0)); eb(i) = ix(raw(i).get(1)); i += 1
    }
    val nN = idx.size
    val deg = new Array[Int](nN)
    i = 0
    while (i < raw.length) { deg(ea(i)) += 1; deg(eb(i)) += 1; i += 1 }
    // orient low -> high by (degree, index); adjacency sorted for the
    // two-pointer intersection
    val adj = Array.fill(nN)(new collection.mutable.ArrayBuffer[Int]())
    i = 0
    while (i < raw.length) {
      val a = ea(i); val b = eb(i)
      val aLow = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
      if (aLow) adj(a) += b else adj(b) += a
      i += 1
    }
    val sorted: Array[Array[Int]] = adj.map(_.toArray.sorted)
    var tri = 0L
    i = 0
    while (i < raw.length) {
      val a = ea(i); val b = eb(i)
      val (u, h) =
        if (deg(a) < deg(b) || (deg(a) == deg(b) && a < b)) (a, b) else (b, a)
      val nu = sorted(u); val nv = sorted(h)
      var p = 0; var q = 0
      while (p < nu.length && q < nv.length) {
        if (nu(p) == nv(q)) { tri += 1; p += 1; q += 1 }
        else if (nu(p) < nv(q)) p += 1
        else q += 1
      }
      i += 1
    }
    var wedges = 0L
    var v = 0
    while (v < nN) { wedges += deg(v).toLong * (deg(v) - 1) / 2; v += 1 }
    def rnd(x: Double, sc: Int): Double =
      JBD.valueOf(x).setScale(sc, RoundingMode.HALF_UP).doubleValue
    val schema = StructType(Seq(
      StructField("n_nodes", LongType, nullable = false),
      StructField("n_edges", LongType, nullable = false),
      StructField("n_wedges", LongType, nullable = true),
      StructField("n_triangles", LongType, nullable = false),
      StructField("global_cc", DoubleType, nullable = true)))
    // empty graph: SUM over no rows is null; cc of zero wedges is the
    // null Spark's double division-by-zero yields
    val wedgesOut: Any = if (nN == 0) null else wedges
    val cc: Any = if (wedges == 0L) null else rnd(3.0 * tri / wedges, roundTo)
    val rows: Seq[Row] =
      Seq(Row(nN.toLong, raw.length.toLong, wedgesOut, tri, cc))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** DOULION-style approximate triangle count (Tsourakakis et al., KDD
    * 2009): keep each edge with probability p = 1/`sampleDenom`, count
    * triangles EXACTLY on the sparsified graph, scale by 1/p³. The
    * estimator is unbiased (a triangle survives iff its 3 edges all
    * survive), and the exact counting work — Θ(Σ out-deg²) through
    * [[triangleStats]] — shrinks by ~p², which is what makes a triangle
    * query feasible where the exact pass is a cluster-scale job: the
    * exact q147 path moves O(m·√m) bytes through its adjacency joins,
    * fine spilled across 1000 executors, fatal in one JVM at 100×.
    *
    * Sampling is DETERMINISTIC — an edge survives iff the last two hex
    * chars of md5("a_b") on the canonical (a<b) pair read as an int
    * < 256/sampleDenom — so the sparsified graph, its exact triangle
    * count, and the scaled estimate are all reproducible and
    * oracle-checkable (both engines md5 the same string). `sampleDenom`
    * must divide 256.
    *
    * Output: one row (n_edges, n_edges_sampled, n_triangles_sampled,
    * est_triangles = sampled·denom³, sample_denom). */
  def triangleEstimate(edges: DataFrame, src: String, dst: String,
      sampleDenom: Int = 16): DataFrame = {
    require(sampleDenom >= 1 && 256 % sampleDenom == 0,
      "triangleEstimate: sampleDenom must divide 256")
    // the full canonical edge set is NEVER materialized or checkpointed
    // (at 100x that pinned ~120M deserialized rows and starved the
    // downstream aggregates): the coin is a pure function of the
    // canonical pair, so filter-then-distinct ≡ distinct-then-filter,
    // and the full-count branch is a spillable streaming aggregate.
    // The upstream `edges` plan executes once per branch — callers with
    // an expensive derivation should checkpoint their COMPACT upstream
    // (e.g. per-basket arrays), not the exploded pairs.
    val e = edges
      .select(least(col(src), col(dst)).as("a"),
              greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
    val sampled = e.filter(
      md5U52(concat(col("a").cast("string"), lit("_"),
        col("b").cast("string")), 2, 31)
        < lit((256 / sampleDenom).toLong))
    val denomCubed = sampleDenom.toLong * sampleDenom * sampleDenom
    triangleStats(sampled, "a", "b")
      .select(col("n_edges").as("n_edges_sampled"),
        col("n_triangles").as("n_triangles_sampled"))
      .crossJoin(e.distinct().agg(count(lit(1)).as("n_edges")))
      .select(col("n_edges"), col("n_edges_sampled"),
        col("n_triangles_sampled"),
        (col("n_triangles_sampled") * lit(denomCubed)).as("est_triangles"),
        lit(sampleDenom).as("sample_denom"))
  }

  /** Neighborhood-overlap link prediction on a BIPARTITE edge relation
    * (customer–part, user–item, doc–term): candidate left-side pairs
    * are those sharing a right-side neighbor, scored by the three
    * classical indices — common neighbors, Jaccard, and
    * resource-allocation (Zhou et al. 2009: Σ 1/deg(z) over shared
    * neighbors — Adamic-Adar's 1/ln(deg) is NOT used because ln is not
    * bit-portable; RA is a pure integer-ratio sum and usually ranks
    * better anyway). The "customers who bought what you bought"
    * primitive, and in a corpus pipeline the co-citation /
    * shared-source affinity signal.
    *
    * Scale contract: the wedge join is the q147 triangle shape — per
    * right-node work is C(deg, 2) — so right-side HUBS are capped by
    * `maxDegree`: a hub shared by everyone predicts nothing (its
    * common-neighbor evidence is pure popularity) and would
    * quadratically dominate; the cap drops it from candidate
    * GENERATION (the standard practice this repo's q147 verdict
    * mandated for wedge work). Degrees in the RA/Jaccard formulas are
    * computed BEFORE the cap, so scores stay true; minCommon prunes
    * the long random-coincidence tail at the aggregate.
    *
    * Output: (a_id, b_id, common, jaccard, ra) for pairs with
    * `common >= minCommon`; jaccard = cn/(degA+degB−cn) is a pure
    * integer ratio, ra accumulates per-neighbor 1/deg terms on the
    * 1e-9 grid as exact decimals. */
  def linkPrediction(edges: DataFrame, left: String, right: String,
      maxDegree: Int = 256, minCommon: Long = 2): DataFrame = {
    val e = edges.select(col(left).as("l"), col(right).as("r")).distinct()
      .localCheckpoint() // feeds left degrees + the wedge baskets; one scan
    val ldeg = e.groupBy(col("l")).agg(count(lit(1)).as("ldeg"))
    // the q164 in-basket pattern: ONE groupBy collapses each right
    // node's neighbor set into a sorted array (its size IS the right
    // degree — the cap and the RA weight read it for free) and wedge
    // pairs explode from the array as a pure projection. The previous
    // self-join on r shuffled the capped edge relation twice more and
    // funneled every wedge through one task per right-key.
    val baskets = e.groupBy(col("r"))
      .agg(sort_array(collect_set(col("l"))).as("ls"))
      .filter(size(col("ls")) <= maxDegree)
      .withColumn("rdeg", size(col("ls")).cast("long"))
      // explicit spread before the deg² explosion: the basket relation
      // is megabytes, so AQE coalesces its stage toward ONE partition —
      // and then the 10-100× larger exploded wedge stream runs
      // single-threaded. A user repartition is exempt from AQE
      // coalescing; it costs one basket-sized shuffle.
      .repartition(e.sparkSession.sessionState.conf.numShufflePartitions)
    val wedges = baskets
      .select(col("rdeg"), explode(col("ls")).as("a_id"), col("ls"))
      .select(col("rdeg"), col("a_id"), explode(col("ls")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
    val pairs = wedges.groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("common"),
        // Σ 1/deg on the 1e-9 grid, summed exactly
        sum(round(lit(1e9) / col("rdeg").cast("double")).cast("long")
          .cast(DecimalType(38, 0))).as("ra_g"))
      .filter(col("common") >= minCommon)
    pairs
      .join(ldeg.select(col("l").as("a_id"), col("ldeg").as("adeg")), Seq("a_id"))
      .join(ldeg.select(col("l").as("b_id"), col("ldeg").as("bdeg")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("common"),
        (col("common").cast("double") /
          (col("adeg") + col("bdeg") - col("common")).cast("double"))
          .as("jaccard"),
        (col("ra_g").cast("double") / lit(1e9)).as("ra"))
  }

  /** DOULION-sampled [[linkPrediction]] — the 100×-capable twin (the
    * q196 triangle-estimate discipline applied to wedges): a
    * DETERMINISTIC md5 coin keeps each RIGHT-side node (the shared
    * neighbor) with probability 1/`sampleDenom`, the exact wedge
    * enumeration runs on the surviving baskets only, and
    * common-neighbor / RA sums scale back by `sampleDenom` as unbiased
    * estimates (each shared neighbor is a Bernoulli(1/denom) term in
    * the pair's sums). Sampling whole right nodes — not edges — keeps
    * every surviving basket COMPLETE, so its size is the true right
    * degree and the RA weight needs no correction, while wedge work
    * drops by the full factor `denom`. Left degrees are exact (linear
    * pass over the unsampled edges), so only the overlap terms are
    * estimated. The coin is content-addressed (md5 of the right key),
    * making the estimate reproducible and oracle-checkable.
    *
    * Output: (a_id, b_id, common_sampled, est_common, est_jaccard,
    * est_ra, sample_denom) for pairs with at least `minCommonSampled`
    * surviving shared neighbors; est_jaccard's denominator is clamped
    * at 1 (the estimate can exceed the true union bound).
    *
    * Input contract: `right` keys must be NON-NULL — left degrees are
    * count_distinct(r), which skips NULL right keys, whereas a NULL
    * right key would still occupy a (l, NULL) row in a distinct-then-
    * count form; every caller passes FK-derived non-null keys. */
  def linkPredictionSampled(edges: DataFrame, left: String, right: String,
      maxDegree: Int = 256, minCommonSampled: Long = 1,
      sampleDenom: Int = 16): DataFrame = {
    require(sampleDenom >= 2 && 256 % sampleDenom == 0,
      "linkPredictionSampled: sampleDenom must divide 256")
    // NEVER materialize the distinct edge relation (the q303/q196
    // discipline): localCheckpointing ~100M deserialized rows at 100×
    // heap-OOM'd the one-JVM run. Both arms stream from the source
    // join instead — exact left degrees as ONE distinct-aggregate
    // (count_distinct ≡ distinct→count, spillable), and the baskets'
    // collect_set dedupes internally, so the coin-kept stream needs no
    // distinct at all (the coin is a pure function of r, so it
    // commutes with dedup).
    val e = edges.select(col(left).as("l"), col(right).as("r"))
    val ldeg = e.groupBy(col("l")).agg(count_distinct(col("r")).as("ldeg"))
    val kept = e.filter(
      md5U52(col("r").cast("string"), 2, 31)
        < lit((256 / sampleDenom).toLong))
    val baskets = kept.groupBy(col("r"))
      .agg(sort_array(collect_set(col("l"))).as("ls"))
      .filter(size(col("ls")) <= maxDegree)
      .withColumn("rdeg", size(col("ls")).cast("long"))
      .repartition(e.sparkSession.sessionState.conf.numShufflePartitions)
    val wedges = baskets
      .select(col("rdeg"), explode(col("ls")).as("a_id"), col("ls"))
      .select(col("rdeg"), col("a_id"), explode(col("ls")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
    val pairs = wedges.groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("common_sampled"),
        sum(round(lit(1e9) / col("rdeg").cast("double")).cast("long")
          .cast(DecimalType(38, 0))).as("ra_g"))
      .filter(col("common_sampled") >= minCommonSampled)
    pairs
      .join(ldeg.select(col("l").as("a_id"), col("ldeg").as("adeg")), Seq("a_id"))
      .join(ldeg.select(col("l").as("b_id"), col("ldeg").as("bdeg")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("common_sampled"),
        (col("common_sampled") * lit(sampleDenom.toLong)).as("est_common"),
        ((col("common_sampled") * lit(sampleDenom.toLong)).cast("double") /
          greatest(col("adeg") + col("bdeg") -
            col("common_sampled") * lit(sampleDenom.toLong), lit(1L))
            .cast("double")).as("est_jaccard"),
        ((col("ra_g") * lit(sampleDenom.toLong)).cast("double") / lit(1e9))
          .as("est_ra"),
        lit(sampleDenom).as("sample_denom"))
  }

  /** Multi-source BFS: minimum hop count from any source node, over
    * the UNDIRECTED graph, bounded at `maxHops` (unreached nodes emit
    * no row). The reachability primitive under impact analysis
    * ("everything within k hops of the recalled suppliers"), lineage
    * sweeps, and graph-feature generation.
    *
    * Frontier-delta iteration: each round joins only the CURRENT
    * frontier against the edge relation and anti-joins out nodes
    * already labeled — per-round shuffle volume is the frontier's edge
    * neighborhood, never the full distance table, and the loop exits
    * early at an empty frontier (result-identical to running all
    * rounds: later frontiers of a finished BFS are empty). Distances
    * are first-assignment == minimum by BFS order, so no min-aggregate
    * is needed. localCheckpoint per round caps lineage exactly like
    * [[kCore]]'s peeling loop.
    *
    * Output: (v, hops: int) — one row per reached node, sources at 0. */
  def bfsHops(edges: DataFrame, src: String, dst: String,
      sources: DataFrame, sourceCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 32, "bfsHops: 1 <= maxHops <= 32")
    val eBase = edges
      .select(col(src).as("s"), col(dst).as("t"))
      .unionAll(edges.select(col(dst).as("s"), col(src).as("t")))
      .filter(col("s") =!= col("t")).distinct()
    // driver fast path: hop counts are exact integers (min-hop by BFS
    // order — no arithmetic grid to replicate at all), so below the
    // guard one collect + an in-memory BFS replaces maxHops rounds of
    // join/anti-join/checkpoint. ParityBoundarySpec pins equality.
    Route.bySize(eBase, 1L << 22)(bfsDriver(_,
        sources.select(col(sourceCol).as("v")).distinct(), maxHops,
        perRoot = false)) { e =>
      var dist = sources.select(col(sourceCol).as("v")).distinct()
        .withColumn("hops", lit(0))
        .localCheckpoint()
      // frontier and visited-set sizes are tracked from the counts the
      // loop already pays (the isEmpty test becomes a count), so both
      // node-sized relations broadcast below the limit and the
      // PINNED edge relation is never re-shuffled per round —
      // strategy only, hop values identical
      var distN = dist.count()
      var frontier = dist.select(col("v"))
      var frontierN = distN
      var h = 0
      var done = false
      while (h < maxHops && !done) {
        h += 1
        val nxt = broadcastBelow(frontierN)(frontier)
          .join(e, frontier("v") === e("s"))
          .select(col("t").as("v")).distinct()
          .join(broadcastBelow(distN)(dist.select(col("v"))), Seq("v"),
            "left_anti")
          .withColumn("hops", lit(h))
          .localCheckpoint()
        val nxtN = nxt.count()
        if (nxtN == 0L) done = true
        else {
          dist = dist.unionByName(nxt).localCheckpoint()
          distN += nxtN
          frontier = nxt.select(col("v"))
          frontierN = nxtN
        }
      }
      dist
    }
  }

  /** Per-root BFS distances for a SMALL root set — [[bfsHops]] keyed
    * by source, the building block for per-node centralities. The
    * frontier/distance state carries (root, v) pairs, so one iteration
    * advances every root's BFS together: per-round shuffle volume is
    * the UNION of the roots' frontier neighborhoods, not |roots|
    * sequential traversals. Roots must be a bounded panel (the
    * centrality-sampling contract — sampled-source centrality is the
    * standard scale practice; exact all-nodes closeness is O(V·E) on
    * any engine).
    *
    * Output: (root, v, hops: int) — one row per (root, reached node). */
  def bfsHopsPerRoot(edges: DataFrame, src: String, dst: String,
      roots: DataFrame, rootCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 32, "bfsHopsPerRoot: 1 <= maxHops <= 32")
    val eBase = edges
      .select(col(src).as("s"), col(dst).as("t"))
      .unionAll(edges.select(col(dst).as("s"), col(src).as("t")))
      .filter(col("s") =!= col("t")).distinct()
    // driver fast path — see [[bfsHops]]; one BFS per root over the
    // same collected adjacency.
    Route.bySize(eBase, 1L << 22)(bfsDriver(_,
        roots.select(col(rootCol).as("v")).distinct(), maxHops,
        perRoot = true)) { e =>
      var dist = roots.select(col(rootCol).as("root")).distinct()
        .select(col("root"), col("root").as("v"))
        .withColumn("hops", lit(0))
        .localCheckpoint()
      // same broadcast-below-limit discipline as [[bfsHops]]: (root, v)
      // state stays panel×nodes-sized, the edge relation never re-shuffles
      var distN = dist.count()
      var frontier = dist.select(col("root"), col("v"))
      var frontierN = distN
      var h = 0
      var done = false
      while (h < maxHops && !done) {
        h += 1
        val nxt = broadcastBelow(frontierN)(frontier)
          .join(e, frontier("v") === e("s"))
          .select(col("root"), col("t").as("v")).distinct()
          .join(broadcastBelow(distN)(dist.select(col("root"), col("v"))),
            Seq("root", "v"), "left_anti")
          .withColumn("hops", lit(h))
          .localCheckpoint()
        val nxtN = nxt.count()
        if (nxtN == 0L) done = true
        else {
          dist = dist.unionByName(nxt).localCheckpoint()
          distN += nxtN
          frontier = nxt.select(col("root"), col("v"))
          frontierN = nxtN
        }
      }
      dist
    }
  }

  /** Driver BFS for [[bfsHops]]/[[bfsHopsPerRoot]]: one collect of the
    * (already undirected, distinct, null-free) edge relation into an
    * adjacency map, then plain queue BFS — min-hop distances are exact
    * integers, identical to the distributed frontier loop by
    * construction. perRoot = false runs ONE multi-source BFS (the
    * [[bfsHops]] semantics: hops = min over sources). */
  private def bfsDriver(e: DataFrame, roots: DataFrame, maxHops: Int,
      perRoot: Boolean): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val spark = e.sparkSession
    val adj = collection.mutable.HashMap
      .empty[Any, collection.mutable.ArrayBuffer[Any]]
    e.collect().foreach { r =>
      adj.getOrElseUpdate(r.get(0),
        collection.mutable.ArrayBuffer.empty[Any]) += r.get(1)
    }
    val rootIds: Array[Any] = roots.collect().map(_.get(0))
    def bfs(srcs: Seq[Any]): collection.mutable.LinkedHashMap[Any, Int] = {
      val dist = collection.mutable.LinkedHashMap.empty[Any, Int]
      srcs.foreach(v => if (!dist.contains(v)) dist.update(v, 0))
      var frontier: Seq[Any] = dist.keys.toSeq
      var h = 0
      while (h < maxHops && frontier.nonEmpty) {
        h += 1
        val nxt = collection.mutable.ArrayBuffer.empty[Any]
        frontier.foreach { v =>
          adj.get(v).foreach(_.foreach { t =>
            if (!dist.contains(t)) { dist.update(t, h); nxt += t }
          })
        }
        frontier = nxt.toSeq
      }
      dist
    }
    val vType = e.schema("s").dataType
    if (perRoot) {
      val rType = roots.schema.fields(0).dataType
      val schema = StructType(Seq(
        StructField("root", rType, nullable = true),
        StructField("v", vType, nullable = true),
        StructField("hops", IntegerType, nullable = false)))
      val rows: Seq[Row] = rootIds.toSeq.flatMap(r =>
        bfs(Seq(r)).iterator.map { case (v, h) => Row(r, v, h) })
      spark.createDataFrame(rows.asJava, schema)
    } else {
      val schema = StructType(Seq(
        StructField("v", vType, nullable = true),
        StructField("hops", IntegerType, nullable = false)))
      val rows: Seq[Row] =
        bfs(rootIds.toSeq).iterator.map { case (v, h) => Row(v, h) }.toSeq
      spark.createDataFrame(rows.asJava, schema)
    }
  }

  /** Hop-bounded closeness + harmonic centrality for a sampled root
    * panel — "which hubs reach the graph fastest": closeness is
    * n_reached / Σd over the root's ≤maxHops neighborhood (the
    * bounded-neighborhood variant that stays comparable across
    * disconnected graphs), harmonic is Σ 1/d (Marchiori-Latora, the
    * form that needs no reachability normalization at all). One
    * [[bfsHopsPerRoot]] sweep then a per-root reduction; closeness is
    * a pure integer ratio, harmonic terms snap to the 1e-12 grid and
    * sum exactly.
    *
    * Output: one row per root (root, n_reached, sum_hops, closeness,
    * harmonic) ordered by root. */
  def closenessReport(edges: DataFrame, src: String, dst: String,
      roots: DataFrame, rootCol: String, maxHops: Int): DataFrame = {
    val d = bfsHopsPerRoot(edges, src, dst, roots, rootCol, maxHops)
      .filter(col("hops") > 0)
    d.groupBy(col("root"))
      .agg(
        count(lit(1)).as("n_reached"),
        sum(col("hops").cast("long")).as("sum_hops"),
        sum(round(lit(1.0) / col("hops").cast("double"), 12)
          .cast(DecimalType(28, 12))).as("_h"))
      .select(col("root"), col("n_reached"), col("sum_hops"),
        (col("n_reached").cast("double") / col("sum_hops").cast("double"))
          .as("closeness"),
        round(col("_h").cast("double"), 6).as("harmonic"))
      .orderBy(col("root"))
  }
}
