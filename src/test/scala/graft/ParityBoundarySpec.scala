package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, EventOps, Graph, Retrieval, Similarity, Stats}

/** Pins every driver-local fast path to its distributed twin: the SAME
  * input runs through BOTH paths (forced via
  * `Route.ForceDistributedConf`) and the results must be EXACTLY
  * equal — bit-identical doubles, not approximately close. These are the guards the scale design leans on
  * (collect-below-cutoff / distribute-above): if either path's
  * arithmetic drifts, the oracle hashes stay green at the scale the
  * driver tests but silently diverge past the boundary. */
class ParityBoundarySpec extends SparkSuite {

  /** Exact row-set equality, order-free (sorted canonical form). */
  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    assert(a.schema.map(f => (f.name, f.dataType)) ===
      b.schema.map(f => (f.name, f.dataType)), s"$what: schema")
    val ka = a.collect().map(_.toString).sorted
    val kb = b.collect().map(_.toString).sorted
    assert(ka.length === kb.length, s"$what: row count")
    ka.zip(kb).zipWithIndex.foreach { case ((ra, rb), i) =>
      assert(ra === rb, s"$what: row $i differs")
    }
  }

  private def doubleVecs: DataFrame =
    spark.read.parquet(sf("0.001") + "/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("emb"))

  test("hits: driver fast path == distributed path, bit-identical") {
    val edges = Tables.orders(spark, sf("0.001"))
      .join(Tables.lineitem(spark, sf("0.001")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("buyer"), col("l_suppkey").as("sup"))
    val driver = Graph.hits(edges, "buyer", "sup", iters = 3)
    val dist = forcedDistributed(Graph.hits(edges, "buyer", "sup", iters = 3))
    assertSameRows(driver, dist, "hits")
  }

  test("connectedComponents: driver union-find == distributed labels") {
    import spark.implicits._
    // mixed shapes: two cliques, a star, and a 12-hop chain bridging
    // into clique A — multi-pass convergence on the distributed side
    val clique = (0 until 8).flatMap(i => (i + 1 until 8).map(j => (i, j)))
    val cliqueB = clique.map { case (a, b) => (a + 100, b + 100) }
    val star = (1 to 20).map(i => (200, 200 + i))
    val chain = (0 until 12).map(i => (300 + i, 301 + i))
    val bridge = Seq((312, 7))
    val edges = (clique ++ cliqueB ++ star ++ chain ++ bridge)
      .toDF("a", "b")
    val driver = Dedup.connectedComponents(edges, "a", "b", maxIter = 50)
    val dist = forcedDistributed(
      Dedup.connectedComponents(edges, "a", "b", maxIter = 50))
    assertSameRows(driver, dist, "connectedComponents")
  }

  test("kMeans: driver Lloyd loop == distributed loop, bit-identical model") {
    val e = doubleVecs
    val driver = Similarity.kMeans(e, "vec_id", "emb", k = 8, iters = 4)
    val dist = forcedDistributed(
      Similarity.kMeans(e, "vec_id", "emb", k = 8, iters = 4))
    assertSameRows(driver, dist, "kMeans")
  }

  test("pageRank: driver power iteration == distributed, bit-identical") {
    val li = Tables.lineitem(spark, sf("0.001"))
    val nodes = li.select(col("l_suppkey").as("nid")).distinct()
    val edges = li.select(col("l_suppkey").as("s"),
      col("l_partkey").as("t"))
    // supplier -> part edges projected back onto suppliers via orders:
    // keep it simple — supplier-to-supplier co-order edges
    val e2 = li.select(col("l_orderkey"), col("l_suppkey"))
      .join(li.select(col("l_orderkey"), col("l_suppkey").as("s2")),
        "l_orderkey")
      .filter(col("l_suppkey") =!= col("s2"))
      .select(col("l_suppkey").as("es"), col("s2").as("ed"))
    val driver = Graph.pageRank(nodes, "nid", e2, "es", "ed", iters = 3)
    val dist = forcedDistributed(
      Graph.pageRank(nodes, "nid", e2, "es", "ed", iters = 3))
    assertSameRows(driver, dist, "pageRank")
  }

  test("bfsHops + bfsHopsPerRoot: driver BFS == distributed frontier loop") {
    val li = Tables.lineitem(spark, sf("0.001"))
    val edges = li.select(col("l_suppkey").as("sn"),
      (col("l_partkey") + 1000000L).as("pn")).distinct()
    val sources = Tables.supplier(spark, sf("0.001"))
      .filter(col("s_nationkey") === 0).select(col("s_suppkey"))
    val d1 = Graph.bfsHops(edges, "sn", "pn", sources, "s_suppkey", 4)
    val x1 = forcedDistributed(
      Graph.bfsHops(edges, "sn", "pn", sources, "s_suppkey", 4))
    assertSameRows(d1, x1, "bfsHops")
    val roots = Tables.supplier(spark, sf("0.001"))
      .filter(col("s_suppkey") <= 3).select(col("s_suppkey"))
    val d2 = Graph.bfsHopsPerRoot(edges, "sn", "pn", roots, "s_suppkey", 4)
    val x2 = forcedDistributed(
      Graph.bfsHopsPerRoot(edges, "sn", "pn", roots, "s_suppkey", 4))
    assertSameRows(d2, x2, "bfsHopsPerRoot")
  }

  test("kCore: driver peel == distributed shell-removal loop") {
    val li = Tables.lineitem(spark, sf("0.001"))
    val baskets = li.select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("pks"))
    val edges = baskets
      .select(explode(col("pks")).as("a"), col("pks"))
      .select(col("a"), explode(col("pks")).as("b"))
      .filter(col("a") < col("b"))
    val driver = Graph.kCore(edges, "a", "b", k = 4, rounds = 8)
    val dist = forcedDistributed(Graph.kCore(edges, "a", "b", k = 4, rounds = 8))
    assertSameRows(driver, dist, "kCore")
  }

  test("triangleStats: driver intersection count == distributed joins") {
    val li = Tables.lineitem(spark, sf("0.001"))
    val baskets = li.select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("pks"))
    val edges = baskets
      .select(explode(col("pks")).as("a"), col("pks"))
      .select(col("a"), explode(col("pks")).as("b"))
      .filter(col("a") < col("b"))
    val driver = Graph.triangleStats(edges, "a", "b")
    val dist = forcedDistributed(
      Graph.triangleStats(edges, "a", "b", roundTo = 6))
    assertSameRows(driver, dist, "triangleStats")
  }

  test("markovStationary: driver grid loop == distributed loop") {
    val ev = Tables.events(spark, sf("0.001"))
    val driver = EventOps.markovStationary(
      ev, "user_id", "event_type", "ts", "event_id", iters = 16)
    val dist = forcedDistributed(EventOps.markovStationary(
      ev, "user_id", "event_type", "ts", "event_id", iters = 16))
    assertSameRows(driver, dist, "markovStationary")
  }

  test("markovAbsorption: driver grid loop == distributed loop") {
    val ev = Tables.events(spark, sf("0.001"))
    val driver = EventOps.markovAbsorption(
      ev, "user_id", "event_type", "ts", "event_id",
      convert = "purchase", abandon = "error", iters = 24)
    val dist = forcedDistributed(EventOps.markovAbsorption(
      ev, "user_id", "event_type", "ts", "event_id",
      convert = "purchase", abandon = "error", iters = 24))
    assertSameRows(driver, dist, "markovAbsorption")
  }

  test("markovTimeToAbsorb: driver grid loop == distributed loop") {
    val ev = Tables.events(spark, sf("0.001"))
    val driver = EventOps.markovTimeToAbsorb(
      ev, "user_id", "event_type", "ts", "event_id",
      absorbing = Seq("purchase", "error"), iters = 24)
    val dist = forcedDistributed(EventOps.markovTimeToAbsorb(
      ev, "user_id", "event_type", "ts", "event_id",
      absorbing = Seq("purchase", "error"), iters = 24))
    assertSameRows(driver, dist, "markovTimeToAbsorb")
  }

  test("bpeMerges/bpeEncode: driver loop == distributed loop") {
    import spark.implicits._
    // back-to-back pair runs, cascaded merges (t h -> th e), tie
    // candidates, single-token and empty docs — the greedy-rewrite and
    // argmax edge cases the replace-chain semantics are defined by
    val docs = Seq(
      (1L, "t h e t h e t h e m"),
      (2L, "a b a b a b"),
      (3L, "x a b a b x t h"),
      (4L, "solo"),
      (5L, ""),
      (6L, "t h e q u i c k t h e")).toDF("doc_id", "text")
    for (m <- Seq(3, 8)) {
      val dM = graft.operators.TextAnalysis.bpeMerges(
        docs, "doc_id", "text", merges = m)
      val xM = forcedDistributed(graft.operators.TextAnalysis.bpeMerges(
        docs, "doc_id", "text", merges = m))
      assertSameRows(dM, xM, s"bpeMerges m=$m")
      val dE = graft.operators.TextAnalysis.bpeEncode(
        docs, "doc_id", "text", merges = m)
      val xE = forcedDistributed(graft.operators.TextAnalysis.bpeEncode(
        docs, "doc_id", "text", merges = m))
      assertSameRows(dE, xE, s"bpeEncode m=$m")
    }
    // and on the real fixture corpus
    val real = Tables.documents(spark, sf("0.001"))
    val dR = graft.operators.TextAnalysis.bpeEncode(
      real, "doc_id", "text", merges = 4)
    val xR = forcedDistributed(graft.operators.TextAnalysis.bpeEncode(
      real, "doc_id", "text", merges = 4))
    assertSameRows(dR, xR, "bpeEncode sf0.001")
  }

  /** (q, d, rel) candidates for four queries over 40 embedding ids, with
    * exact 6-decimal relevances and the embeddings they join to. */
  private def mmrInputs: (DataFrame, DataFrame) = {
    val cands = spark.range(1, 5).select(col("id").as("q"))
      .crossJoin(spark.range(0, 40).select(col("id").as("d")))
      .withColumn("rel",
        round(((col("q") * 31 + col("d") * 17) % 97).cast("double") / 97.0, 6))
    val vecs = doubleVecs.select(col("vec_id").cast("long").as("vid"), col("emb"))
    (cands, vecs)
  }

  test("mmrRerank: driver greedy walk == distributed walk") {
    val (cands, vecs) = mmrInputs
    def run(): DataFrame =
      Retrieval.mmrRerank(cands, "q", "d", "rel", vecs, "vid", "emb", k = 5)
    val driver = run()
    val dist = forcedDistributed(run())
    assert(driver.count() === 20, "four queries, five picks each")
    assertSameRows(driver, dist, "mmrRerank")
  }

  test("mmrRerank: a null vector sends the driver branch to the distributed walk") {
    val (cands, vecs0) = mmrInputs
    // d = 38 has query 1's top relevance ((31 + 17·38) mod 97 = 95), so
    // the null vector is both collected and selected
    val vecs = vecs0.withColumn("emb",
      when(col("vid") === 38L, lit(null)).otherwise(col("emb")))
    def run(): DataFrame =
      Retrieval.mmrRerank(cands, "q", "d", "rel", vecs, "vid", "emb", k = 5)
    // Route pins DISK_ONLY; the walk's own checkpoints are not
    def diskPins = spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if rdd.getStorageLevel == StorageLevel.DISK_ONLY => id
    }.toSet
    val before = diskPins
    val fellBack = run()
    // the fallback walk read the pin before Route released it: the pin
    // is gone, and the result still runs
    // (the cleaner may drop earlier tests' pins meanwhile, hence --)
    assert((diskPins -- before).isEmpty, "the driver branch released its pin")
    val dist = forcedDistributed(run())
    assertSameRows(fellBack, dist, "mmrRerank with a null vector")
    assert(fellBack.filter(col("q") === 1L && col("d") === 38L && col("rank") === 1)
      .count() === 1, "the null-vector candidate is selected first")
  }

  test("bradleyTerry: driver MM loop == distributed loop") {
    val cnt = Tables.events(spark, sf("0.001"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val wins = cnt.select(col("user_id"), col("event_type").as("i"), col("c").as("ca"))
      .join(cnt.select(col("user_id").as("u2"), col("event_type").as("j"),
        col("c").as("cb")),
        col("user_id") === col("u2") && col("i") =!= col("j") && col("ca") > col("cb"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("n"))
    // integer items: the driver loop keys items as strings, so only
    // string items may take it — the schema check catches a leak
    import spark.implicits._
    val intWins = Seq((1, 2, 3L), (2, 1, 1L), (1, 3, 2L), (3, 2, 4L), (2, 3, 1L),
      (3, 1, 2L)).toDF("i", "j", "n")
    for ((w, what) <- Seq((wins, "string items"), (intWins, "integer items"))) {
      val driver = Stats.bradleyTerry(w, "i", "j", "n", iters = 8)
      val dist = forcedDistributed(Stats.bradleyTerry(w, "i", "j", "n", iters = 8))
      assertSameRows(driver, dist, s"bradleyTerry, $what")
    }
  }

  test("pqCodebooks: one-collect driver training == per-subspace kMeans") {
    val e = doubleVecs.filter(col("vec_id") < 200)
    val driver = Similarity.pqCodebooks(e, "vec_id", "emb", m = 2, k = 8, iters = 2)
    val dist = forcedDistributed(
      Similarity.pqCodebooks(e, "vec_id", "emb", m = 2, k = 8, iters = 2))
    assert(driver.count() === 16, "two subspaces, eight cells each")
    assertSameRows(driver, dist, "pqCodebooks")
  }
}
